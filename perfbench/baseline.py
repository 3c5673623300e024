#!/usr/bin/env python3
"""Record the benchmark's baseline at the current commit.

    python3 perfbench/baseline.py [--out perfbench/baseline.json]

For every workload: one untraced run per seed in SEEDS (end-to-end medians and
quartiles, and the spread IQR / median that BENCHMARK.json's bounds are
checked against), then two traced runs on TRACE_SEED. The two traced runs
decide which per-layer counters repeat exactly; the traced rollup gives,
per layer, the share of its wall time that is driver gap against the
share covered by task time at nproc cores.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

WORKLOADS = ["batch_curate", "index_churn", "stream_ingest"]
SEEDS = list(range(1, 11))
TRACE_SEED = 1
COUNTERS = ("calls", "jobs", "stages", "tasks", "batches", "fs_creates", "fs_renames", "fs_deletes")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    detail = {l.split()[1]: float(l.split()[3]) for l in p.stdout.splitlines()
              if l.startswith("metric ")}
    return json.loads(lines[-1]), detail


def summary(xs):
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med if med else None,
            "values": xs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="perfbench/baseline.json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    record = {"nproc": len(os.sched_getaffinity(0)), "seeds": SEEDS,
              "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in WORKLOADS:
        e2e, detail = {}, {}
        for s in SEEDS:
            res, det = run(w, s, bench["run_seconds"], 0)
            for k, v in res["metrics"].items():
                e2e.setdefault(k, []).append(v["value"])
            for k, v in det.items():
                if k not in res["metrics"]:
                    detail.setdefault(k, []).append(v)
        traced = [run(w, TRACE_SEED, bench["run_seconds"], 1)[0]["metrics"] for _ in range(2)]
        a, b = ({k: v["value"] for k, v in t.items()} for t in traced)
        # counters of the layers this workload calls
        counters = [k for k in a if k.rsplit(".", 1)[-1] in COUNTERS
                    and a.get(k.split(".")[0] + ".calls", 0) > 0]
        exact = sorted(k for k in counters if a[k] == b[k])
        inexact = sorted(k for k in counters if a[k] != b[k])
        rollup = {}
        for layer in ("core", "functions", "operators", "sources", "streaming"):
            wall = a[f"{layer}.self_s"]
            if wall > 0:
                rollup[layer] = {"self_s": wall,
                                 "driver_gap_share": a[f"{layer}.driver_gap_s"] / wall,
                                 "task_time_share": a[f"{layer}.executor_run_s"] / (wall * record["nproc"]),
                                 "jobs": a[f"{layer}.jobs"], "planning_s": a[f"{layer}.planning_s"]}
        record["workloads"][w] = {
            "end_to_end": {k: summary(v) for k, v in e2e.items()},
            "op_types": {k: summary(v) for k, v in detail.items()},
            "traced": [a, b], "exact_counters": exact, "non_exact_counters": inexact,
            "layer_rollup": rollup}
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    with open(os.path.join(os.path.dirname(args.out), "BASELINE.md"), "w") as f:
        f.write(render(record, bench))
    print(args.out)


def render(record, bench):
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    out = ["# perfbench baseline", "",
           f"Recorded by `perfbench/baseline.py` on {record['nproc']} cores: one untraced run per seed "
           f"({len(record['seeds'])} seeds, `--seconds {record['run_seconds']}`), two traced runs on one "
           "seed. Spread is (q3 - q1) / median.", ""]
    roll = record["workloads"]["batch_curate"]["layer_rollup"]
    out += ["The input sizes (`perfbench/README.md`) are set so that in `batch_curate`'s traced "
            "rollup the core and functions layers spend a larger share of their wall in tasks at "
            "nproc cores than in the driver gap: "
            + "; ".join(f"{l} {roll[l]['task_time_share']:.2f} against {roll[l]['driver_gap_share']:.2f}"
                        for l in ("core", "functions")) + ".", ""]
    for w, r in record["workloads"].items():
        out += [f"## {w}", "", why[w] + ".", "",
                "| metric | median | q1 | q3 | spread |", "|---|---|---|---|---|"]
        for k, s in list(r["end_to_end"].items()) + list(r["op_types"].items()):
            sp = "" if s["spread"] is None else f"{s['spread']:.3f}"
            out.append(f"| `{k}` | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | {sp} |")
        out += ["", "| layer | self s | driver gap share | task time share at nproc | jobs | planning s |",
                "|---|---|---|---|---|---|"]
        for layer, x in r["layer_rollup"].items():
            out.append(f"| {layer} | {x['self_s']:.3f} | {x['driver_gap_share']:.3f} | "
                       f"{x['task_time_share']:.3f} | {x['jobs']:.0f} | {x['planning_s']:.3f} |")
        out += ["", "Counters that repeated exactly across the two traced runs: "
                + (", ".join(f"`{c}`" for c in r["exact_counters"]) or "none") + ".",
                "Not exact (no claim may rest on them): "
                + (", ".join(f"`{c}`" for c in r["non_exact_counters"]) or "none") + ".", ""]
    return "\n".join(out)


if __name__ == "__main__":
    main()
