"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (`<dir>/<table>.parquet`) with the
schemas, value domains, join fan-outs and near-duplicate structure of the
engine's test corpus, at a fixed size. Everything derives from one seed:
row order, keys' partners, texts and their near-duplicate sources,
embedding labels and jitter around fixed class centroids, the event-time
origin. The same seed
gives byte-identical files; another seed gives other rows of the same shape.

Usage: python3 gen.py <out_dir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. The star schema and events sit at the corpus's sf0.01
# tier; the text and vector tables at its 500-row tier. Every job the
# benchmark runs is dominated by per-job planning, scheduling and state
# overhead at these sizes, which keeps a run short enough for many jobs.
SIZES = {
    "region": 5, "nation": 25, "supplier": 100, "customer": 1500,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
NEAR_DUP_SHARE = 0.05   # docs that are another doc's text + " dup"
EXACT_DUP_SHARE = 0.01  # docs that repeat another doc's text verbatim
DIM = 64
CLASSES = 10
CLASS_SIGNAL = 0.6      # centroid norm against unit-norm noise
CENTROID_SEED = 0       # class centroids are the same for every seed

DAY_US = 86_400_000_000


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _shuffled(rng, cols):
    """Seed-picked row order; keys stay what they are."""
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return {k: (v[order] if isinstance(v, np.ndarray) else [v[i] for i in order])
            for k, v in cols.items()}


def tables(seed):
    """Build every table as {name: pyarrow.Table} for `seed`."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(n["nation"], dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})

    s = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(_shuffled(rng, {
        "s_suppkey": s, "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": rng.integers(0, 25, len(s)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s))}))

    c = np.arange(n["customer"], dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(_shuffled(rng, {
        "c_custkey": c, "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": rng.integers(0, 25, len(c)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": segs[rng.integers(0, 5, len(c))]}))

    p = np.arange(n["part"], dtype=np.int64)
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "shiny", "small"])
    noun = np.array(["bolt", "gear", "nut", "pipe", "plate", "ring", "valve", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table(_shuffled(rng, {
        "p_partkey": p,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, len(p))], " "),
                              noun[rng.integers(0, 8, len(p))]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(p)).astype(str)),
        "p_type": types[rng.integers(0, 6, len(p))],
        "p_size": rng.integers(1, 51, len(p)).astype(np.int32),
        "p_retailprice": np.round(900 + (p % 1000) / 10, 1)}))

    o = np.arange(n["orders"], dtype=np.int64)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(_shuffled(rng, {
        "o_orderkey": o,
        "o_custkey": rng.integers(0, len(c), len(o)).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, len(o))],
        "o_totalprice": _money(rng, 1000, 500000, len(o)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(o)),
        "o_orderpriority": prio[rng.integers(0, 5, len(o))]}))

    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(o), m).astype(np.int64),
        "l_partkey": rng.integers(0, len(p), m).astype(np.int64),
        "l_suppkey": rng.integers(0, len(s), m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})

    # Events: a 30-day stream with exponential gaps; the seed shifts the
    # event-time origin by up to a day and picks the row order in the file.
    e = n["events"]
    origin = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) \
        + int(rng.integers(0, DAY_US))
    gaps = rng.exponential(30 * DAY_US / e, e).astype(np.int64)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table(_shuffled(rng, {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": (origin + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, e * 3 // 200), e).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}))

    # Documents: uniform tokens from a 30-word vocabulary, 10-99 tokens, a
    # share of near-duplicates (source text + " dup") and exact repeats.
    d = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(d)]
    for i in rng.choice(d, int(d * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    for i in rng.choice(d, int(d * EXACT_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, d))]
    doc = np.arange(d, dtype=np.int64)
    out["documents"] = pa.table(_shuffled(rng, {
        "doc_id": doc, "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    # Embeddings: unit vectors around fixed per-class centroids, with
    # seed-picked labels and jitter, so every seed is equally separable.
    v = n["embeddings"]
    cent = np.random.default_rng(CENTROID_SEED).normal(size=(CLASSES, DIM))
    cent *= CLASS_SIGNAL / np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, CLASSES, v).astype(np.int32)
    x = cent[label] + rng.normal(scale=DIM ** -0.5, size=(v, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label)}).take(pa.array(rng.permutation(v)))
    return out


def write(out_dir, seed):
    """Write every table under `out_dir`; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]))))
