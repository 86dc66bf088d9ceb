"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (TPC-H-style star schema, the
`events` log behind the served datacube, `documents` and `embeddings`)
as one parquet file each, with the column names, types and value
domains of the repository's test corpora. The same (seed, sizes) always
produces byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
EMB_CLUSTERS = 10
US_PER_DAY = 86_400_000_000


def sizes_for(sf):
    """Row counts of the repository's sfN corpora, as a function of sf."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days_us(rng, lo, hi, n):
    """n whole-day timestamps (microseconds) uniform in [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n) * US_PER_DAY


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, first_id=0, dup_share=0.05, pool=None):
    """`n` documents of 10-100 vocabulary words; `dup_share` of them are
    another document's text plus " dup" (the near-duplicate pattern the
    dedup families look for). `pool` lets new documents copy texts of an
    existing corpus."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n)]
    src = list(pool) if pool is not None else list(texts)
    for i in np.flatnonzero(rng.random(n) < dup_share):
        j = int(rng.integers(0, len(src)))
        if pool is None and j == i:
            continue
        texts[i] = src[j] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embedding_centers(seed):
    rng = np.random.default_rng([seed, 7])
    return rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))


def embeddings(rng, n, centers, first_id=0):
    """`n` unit-norm float32 vectors around `centers`, labelled by center."""
    label = rng.integers(0, len(centers), n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def events(rng, n):
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    ts = ts + np.datetime64("2024-01-01", "us").astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def tpch(rng, s):
    nc, ns, np_, no, nl = (s["customer"], s["supplier"], s["part"],
                           s["orders"], s["lineitem"])
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array([f"{c} {w}" for c, w in zip(
                rng.choice(COLORS, np_), rng.choice(NOUNS, np_))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": pa.array(rng.choice(PART_TYPES, np_)),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, np_, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl))}),
    }
    return out


def write_corpus(out_dir, seed, sf, tables=None, overrides=None):
    """Write the corpus for (seed, sf) into `out_dir`; `tables` limits
    which tables are written, `overrides` replaces row counts."""
    os.makedirs(out_dir, exist_ok=True)
    s = dict(sizes_for(sf), **(overrides or {}))
    want = set(tables) if tables else None

    def put(name, table):
        if want is None or name in want:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    # one generator per table, so a table's content does not depend on
    # which other tables were written
    if want is None or want & {"region", "nation", "customer", "supplier",
                               "part", "orders", "lineitem"}:
        for name, t in tpch(np.random.default_rng([seed, 1]), s).items():
            put(name, t)
    if want is None or "events" in want:
        put("events", events(np.random.default_rng([seed, 2]), s["events"]))
    if want is None or "documents" in want:
        put("documents", documents(np.random.default_rng([seed, 3]),
                                   s["documents"]))
    if want is None or "embeddings" in want:
        put("embeddings", embeddings(np.random.default_rng([seed, 4]),
                                     s["embeddings"], embedding_centers(seed)))
    return s
