"""Seeded input generator for the perfbench workloads.

Every table keeps the schema of the library's test lake (`region nation
customer supplier part orders lineitem events documents embeddings`, one
parquet file each), so each gate's DuckDB oracle SQL applies unchanged.
The seed is the only source of variation. Near-duplicates are planted
as seeded edits of earlier rows, never verbatim copies: a copied
document gets token substitutions, a copied embedding gets small
Gaussian noise. `index_churn` also gets its document append batches and
its probe rows as separate staged files; the probe rows copy rows of
the corpus and of every batch, so what survives a probe depends on what
the grown index holds.

`generate(workload, seed, out_dir)` writes the tables plus
`manifest.json` (row counts, bytes, near-duplicate share, working-set
size) and returns the manifest. Each table is encoded twice and the two
encodings must be byte-identical, so one seed reproduces the same files.
"""
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test lake's document vocabulary: BM25 queries, planted snippets
# and the curation gates all assume text drawn from these words.
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
STATUSES = ["P", "O", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
P_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Share of documents / embeddings that are seeded near-copies of an
# earlier row: enough for every dedup family to find work, low enough
# that copies do not dominate (the verbatim 10x replica inflated
# quadratic pair counts 17-31x).
NEAR_DUP_SHARE = 0.2

# Row counts of the test lake at sf0.1. Every size below is a fraction
# of these, and the value distributions follow the lake's (document
# lengths 10..100 words over VOCAB, 20 sources, one `k` key per event,
# about 70 events per user, about 4 lineitems per order).
LAKE_SF01 = dict(documents=5000, embeddings=2000, events=100000, lineitem=600000,
                 orders=150000, customer=15000, part=20000, supplier=1000)

# Fraction of the sf0.1 lake per workload; tables a workload's ops never
# read keep OTHER_FRACTION, enough for the oracle views.
# - batch_curate reads lineitem, orders and events at twice sf0.1, so
#   the core reshapes spend more of their wall in tasks than in the
#   driver; documents at 4%, because the codec gate decodes about 75k
#   audio samples per document (all 5000 take 17 s on 4 cores).
# - index_churn: a tenth of the documents, CHURN_BATCHES staged append
#   batches of CHURN_BATCH_DOCS rows among them; CHURN_PROBE_DOCS probe
#   rows besides.
# - stream_ingest: the document and event backlogs at 6%.
OTHER_FRACTION = 0.01
FRACTIONS = {
    "batch_curate": dict(lineitem=2.0, orders=2.0, events=2.0, documents=0.04),
    "index_churn": dict(documents=0.1),
    "stream_ingest": dict(documents=0.06, events=0.06),
}
CHURN_BATCHES, CHURN_BATCH_DOCS, CHURN_PROBE_DOCS = 12, 20, 60
PROBE_CORPUS_COPIES = 8

# Tables written as a directory of PARTS equal part files instead of one
# file. The lake's sf0.1 files hold one row group each, so Spark scans
# each with one task; at sf1 the large tables span several row groups
# and splits. Part files give the batch_curate op inputs that split
# across cores at this size too.
PARTS = 8
SPLIT = {"batch_curate": ("documents", "events", "lineitem")}

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000
EPOCH_1995_US = 788_918_400_000_000


def _near_copies(rng, n):
    """Exactly NEAR_DUP_SHARE of rows 10.. are near-copies, so every seed
    gives the same amount of duplicate work; only which rows varies.
    """
    k = round((n - 10) * NEAR_DUP_SHARE) if n > 10 else 0
    return set((10 + rng.choice(n - 10, size=k, replace=False)).tolist()) if k else set()


def _edit(rng, text, k):
    """`text` with `k` seeded token substitutions."""
    words = text.split()
    for _ in range(k):
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def _docs(rng, n, first_id=0, texts=None):
    """Documents, NEAR_DUP_SHARE of them seeded near-copies of earlier rows;
    returns the table and the row numbers of the near-copies. Word counts
    are a seeded permutation of one fixed spread (10..99), so every seed
    has the same text volume. Given `texts`, the rows carry those texts
    instead.
    """
    lengths = rng.permutation(10 + np.arange(n) % 90)
    copies = _near_copies(rng, n)
    if texts is None:
        texts = []
        for i in range(n):
            if i in copies:
                texts.append(_edit(rng, texts[int(rng.integers(0, i))], int(rng.integers(1, 4))))
            else:
                texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(lengths[i]))))
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in ids % 20], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, copies


def _probe(rng, corpus, originals, n):
    """index_churn's probe rows. Each staged batch gets one exact and one
    near copy (a single token substitution) of one of its rows, the
    initial corpus (its first `n` rows) gets PROBE_CORPUS_COPIES of each
    kind, the rest are fresh. A near-copy of a 40+ word text stays above the index's band
    threshold, and only original rows are copied, so whether a copy
    survives the probe depends on whether its batch is in the index.
    """
    texts = corpus.column("text").to_pylist()
    bd = CHURN_BATCH_DOCS
    def pick(lo, hi, k):
        rows = [i for i in range(lo, hi) if i in originals and len(texts[i].split()) >= 40]
        return [int(i) for i in rng.choice(rows, size=k, replace=False)]
    sources = pick(0, n, 2 * PROBE_CORPUS_COPIES)
    for b in range(CHURN_BATCHES):
        sources += pick(n + b * bd, n + (b + 1) * bd, 2)
    copies = [texts[i] if j % 2 == 0 else _edit(rng, texts[i], 1) for j, i in enumerate(sources)]
    fresh, _ = _docs(rng, CHURN_PROBE_DOCS - len(copies))
    probe = copies + fresh.column("text").to_pylist()
    table, _ = _docs(rng, len(probe), first_id=10_000_000, texts=probe)
    return table


def _embeddings(rng, n, first_id=0):
    vecs = rng.normal(0.0, 0.15, size=(n, 64)).astype(np.float32)
    copies = _near_copies(rng, n)
    for i in sorted(copies):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.005, 64).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    return table, copies


def _events(rng, n):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    n_users = max(50, n // 70)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _tpch(rng, s):
    n_li, n_ord, n_cust = s["lineitem"], s["orders"], s["customer"]
    n_part, n_supp = s["part"], s["supplier"]
    days = lambda k: pa.array(EPOCH_1995_US + rng.integers(0, 2400, k) * DAY_US,
                              pa.timestamp("us"))
    flags = rng.integers(0, 6, n_li)
    as_str = lambda xs: pa.array(xs.tolist(), pa.string())
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}" for _ in range(n_part)],
                               pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n_ord).tolist(), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": days(n_ord),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": as_str(np.array(["A", "N", "R"])[flags // 2]),
            "l_linestatus": as_str(np.array(["O", "F"])[flags % 2]),
            "l_shipdate": days(n_li)}),
    }


def _tables(workload, seed):
    """All files of one workload's input, name -> arrow table."""
    fraction = FRACTIONS[workload]
    s = {t: round(n * fraction.get(t, OTHER_FRACTION)) for t, n in LAKE_SF01.items()}
    rng = np.random.default_rng([seed, list(FRACTIONS).index(workload)])
    churn = workload == "index_churn"
    nb, bd = (CHURN_BATCHES, CHURN_BATCH_DOCS) if churn else (0, 0)
    n_docs = s["documents"] - nb * bd
    # append batches continue the id space and draw near-copies from
    # the whole corpus before them, like a crawl revisiting pages
    docs, doc_dups = _docs(rng, s["documents"])
    embs, emb_dups = _embeddings(rng, s["embeddings"])
    tables = dict(_tpch(rng, s), events=_events(rng, s["events"]),
                  documents=docs.slice(0, n_docs),
                  embeddings=embs)
    for b in range(nb):
        tables[f"batch_docs_{b:03d}"] = docs.slice(n_docs + b * bd, bd)
    if churn:
        originals = set(range(docs.num_rows)) - doc_dups
        tables["probe_docs"] = _probe(rng, docs, originals, n_docs)
    dups, rows = len(doc_dups) + len(emb_dups), docs.num_rows + embs.num_rows
    return tables, dups / rows


def _encode(table):
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def _parts(table, n):
    """`table` cut into `n` slices of (nearly) equal row count."""
    cuts = [table.num_rows * i // n for i in range(n + 1)]
    return [table.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def generate(workload, seed, out_dir):
    tables, near_dup_share = _tables(workload, seed)
    again, _ = _tables(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    files = {}
    for name, table in sorted(tables.items()):
        n = PARTS if name in SPLIT.get(workload, ()) else 1
        parts = [_encode(t) for t in _parts(table, n)]
        if parts != [_encode(t) for t in _parts(again[name], n)]:
            raise RuntimeError(f"seed {seed} does not reproduce {name}.parquet")
        path = os.path.join(out_dir, f"{name}.parquet")
        if n == 1:
            with open(path, "wb") as f:
                f.write(parts[0])
        else:
            os.makedirs(path)
            for i, data in enumerate(parts):
                with open(os.path.join(path, f"part-{i:02d}.parquet"), "wb") as f:
                    f.write(data)
        files[name] = {"rows": table.num_rows, "bytes": sum(map(len, parts)),
                       "sha256": hashlib.sha256(b"".join(hashlib.sha256(d).digest()
                                                         for d in parts)).hexdigest()}
    manifest = {"workload": workload, "seed": seed,
                "near_dup_share": round(near_dup_share, 4),
                "working_set_bytes": sum(f["bytes"] for f in files.values()),
                "files": files}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
