#!/usr/bin/env python3
"""The benchmark: one command per workload run.

    python3 perfbench/run.py --workload <batch_curate|index_churn|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the harness
(perfbench/build.py), generates the seeded inputs (perfbench/datagen.py),
runs one JVM with `local[nproc]` and a single client thread in a closed
loop, checks every output, and prints each metric by name and unit. The
last stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). Any failed op or mismatched output makes the
command exit 1.

`--trace 1` runs a fixed schedule instead of `--seconds`, so counters
repeat exactly for one seed: after the warm-up cycle, a cycle with the
benchmark's own listeners off, one with them on and one more with them
off; the traced cycle's wall minus the mean of the untraced ones is
`trace.overhead_s`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402

DEADLINE_S = 175
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OP_KINDS = {"batch_curate": ["flatten", "curate", "decode"],
            "index_churn": ["append", "probe", "compact"],
            "stream_ingest": ["microbatch"]}
# Java 17 module opens Spark needs outside spark-submit (the list in
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- checks
# tools/check_oracle.py's rule: columns matched by lower-cased name,
# rows compared order-insensitively, floats to 6 places.

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _canon(rel):
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=repr)
    return sorted(cols), rows


def run_checks(result, data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(src):  # a table written as part files
            src = os.path.join(src, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = {}
    mismatches = []
    for c in result["checks"]:
        if c.get("ok") is not None:
            if not c["ok"]:
                mismatches.append(f"{c['name']}: differs from a from-scratch build")
            continue
        try:
            if c["gate"] not in oracle:
                oracle[c["gate"]] = _canon(con.sql(result["oracle_sql"][c["gate"]]))
            want = oracle[c["gate"]]
            got = _canon(con.sql(f"SELECT * FROM '{c['got']}/*.parquet'"))
            if got != want:
                mismatches.append(f"{c['name']}: {len(got[1])} rows vs {len(want[1])} expected"
                                  f" (cols {got[0]} vs {want[0]})")
        except Exception as e:  # an unreadable output is a mismatch too
            mismatches.append(f"{c['name']}: {type(e).__name__}: {str(e)[:200]}")
    return mismatches


# --------------------------------------------------------------- metrics

def tail(xs):
    """Highest percentile with at least 10 samples beyond it: (value, pct, n)."""
    xs = sorted(xs)
    n = len(xs)
    for pct in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - pct / 100) >= 10:
            return xs[min(n - 1, math.ceil(n * pct / 100) - 1)], pct, n
    return (xs[-1] if xs else 0.0), None, n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(result, workload):
    """Contract metrics from the timed ops. The loop may stop inside a
    cycle, so every figure is built from per-op medians: one cycle of
    typical ops, whatever share of a cycle the run ended in.
    """
    ops = [o for o in result["ops"] if o["round"] >= 1]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o)
    med = {n: statistics.median(o["wall_s"] for o in v) for n, v in by_name.items()}
    rows = {n: statistics.median(o["rows"] for o in v) for n, v in by_name.items()}
    metrics = {
        "setup_s": (result["session_s"] + result["setup_s"] + result["warmup_s"], "s"),
        "rows_per_s": (sum(rows.values()) / sum(med.values()), "rows/s"),
        "op_p50_s": (geomean(list(med.values())), "s"),
    }
    # the workload's own op-type metrics, printed beside the contract ones
    detail = {}
    if workload == "batch_curate":
        for kind in OP_KINDS[workload]:
            detail[f"{kind}_s"] = (sum(m for n, m in med.items() if by_name[n][0]["kind"] == kind),
                                   "s", "one pass, sum of per-gate medians")
    elif workload == "index_churn":
        for kind in OP_KINDS[workload]:
            xs = [o["wall_s"] for o in ops if o["kind"] == kind]
            if xs:
                detail[f"{kind}_p50_s"] = (statistics.median(xs), "s", len(xs))
                if kind != "compact":
                    v, pct, n = tail(xs)
                    detail[f"{kind}_tail_s"] = (v, "s", f"p{pct} of {n}" if pct else f"max of {n}")
        ex = result["extra"]
        detail["index_bytes_per_input_byte"] = (ex["index_bytes"] / ex["index_input_bytes"], "ratio", None)
    else:
        timed = {o["id"] for o in ops}
        xs = [b["duration_s"] for b in result["batches"] if b["op"] in timed]
        detail["microbatch_p50_s"] = (statistics.median(xs), "s", len(xs))
        v, pct, n = tail(xs)
        detail["microbatch_tail_s"] = (v, "s", f"p{pct} of {n}" if pct else f"max of {n}")
    return metrics, detail


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    classes = build.build(".")
    base = os.path.abspath(build.OUT)
    tag = f"{args.workload}-{args.seed}"
    data_dir = os.path.join(base, "data", tag)
    work = os.path.join(base, "work", f"{tag}-trace{args.trace}")
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    manifest = datagen.generate(args.workload, args.seed, data_dir)

    cpus = len(os.sched_getaffinity(0))

    def harness(work_dir, seconds, trace):
        """Run the JVM to completion (or kill it at the deadline)."""
        os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
        cmd = (["java", "-Xmx2g", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"), "-Dspark.ui.enabled=false"]
               + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
                  "perfbench.Main", "--workload", args.workload, "--data", data_dir,
                  "--work", work_dir, "--seconds", str(seconds), "--trace", str(trace),
                  "--cpus", str(cpus)])
        log_path = os.path.join(work_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, 9)
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(f"perfbench: harness exited with {rc}")

    harness(work, args.seconds, args.trace)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    mismatches = run_checks(result, data_dir)
    failed_ops = [o["name"] for o in result["ops"] if not o["ok"]]
    attempted = len(result["ops"]) + len(result["checks"])
    failed = len(failed_ops) + len(mismatches)
    for m in mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    for name in failed_ops:
        print(f"FAILED op {name}", file=sys.stderr)

    print(f"input near_dup_share = {manifest['near_dup_share']}, "
          f"working_set_bytes = {manifest['working_set_bytes']}")
    with open("BENCHMARK.json") as f:
        declared = json.load(f)
    if args.trace:
        metrics = {m["name"]: (result["layers"][m["name"]], m["unit"]) for m in declared["per_layer"]}
    else:
        metrics, detail = end_to_end(result, args.workload)
        detail["fail_ratio"] = (failed / attempted, "ratio", None)
        detail["peak_rss_mb"] = (result["peak_rss_mb"], "MB", "JVM VmHWM")
        for k, (v, unit, note) in detail.items():
            print(f"metric {k} = {v:.6g} {unit}" + (f" ({note})" if note else ""))
    for k, (v, unit) in metrics.items():
        print(f"metric {k} = {v:.6g} {unit}")

    print(json.dumps({"correct": not mismatches, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
