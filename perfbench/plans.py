"""Seeded inputs of each workload: the corpus plus a plan.json the
benchmark's JVM side reads. Everything here is a function of the seed
alone."""
import json
import os

import numpy as np
import pyarrow.parquet as pq

import gen

# the suite: one query of each Bench.alias family (q s t d a e c m)
SUITE_QUERIES = [
    "q1_pricing", "skope_polygon_zonal", "text_fingerprint",
    "dedup_minhash_lsh", "ann_ivfpq", "events_asof_click",
    "docs_contamination", "mm_features",
]
SUITE_SF = 0.001

SERVE_EVENTS = 25_000
SERVE_V1_DATASET = 0
SERVE_SETUP_REPS = 2
SERVE_DATASETS = ["click", "view", "purchase", "error"]

INGEST_BATCH_SHARE = 0.015
INGEST_BATCHES = 1
INGEST_PLANTED = 2


def _write_plan(out, plan):
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh)


# --------------------------------------------------------------------------
# serve_mixed

def _area(rng, kind):
    """kind 0: a point; 1: an axis-aligned box; 2: a triangle."""
    if kind == 0:
        x, y = rng.integers(0, 10) + 0.5, rng.integers(0, 15) + 0.5
        return {"type": "Point", "coordinates": [float(x), float(y)]}
    x0, y0 = float(rng.integers(0, 7)), float(rng.integers(0, 12))
    if kind == 1:
        ring = [[x0, y0], [x0 + 2, y0], [x0 + 2, y0 + 2], [x0, y0 + 2], [x0, y0]]
    else:
        ring = [[x0 + 0.2, y0 + 0.2], [x0 + 2.8, y0 + 0.4],
                [x0 + 1.3, y0 + 2.6], [x0 + 0.2, y0 + 0.2]]
    return {"type": "Polygon", "coordinates": [ring]}


def serve_bodies(seed):
    """One body per (dataset, resolution) key, so every run carries the
    same mix and weight: 4 datasets x day/hour, areas cycling
    point/2x2 box/triangle, 22-day ranges, mean and median, the three
    transforms, centered and trailing smoothers, one daily key on the v1
    route. The seed places the areas and the ranges and picks the
    window widths."""
    rng = np.random.default_rng([seed, 11])
    bodies = []
    for i in range(2 * len(SERVE_DATASETS)):
        ds = SERVE_DATASETS[i // 2]
        res = "hour" if i % 2 else "day"
        lo = int(rng.integers(1, 9))
        hi = lo + 21
        area = _area(rng, i % 3)
        if i == 2 * SERVE_V1_DATASET:
            body = {"datasetId": ds, "variableName": "value",
                    "boundaryGeometry": area,
                    "start": f"2024-01-{lo:02d}", "end": f"2024-01-{hi:02d}"}
            bodies.append({"route": "/v1/timeseries", "key": f"{ds}/day",
                           "body": json.dumps(body)})
            continue
        t = i % 3
        transform = ({"type": "NoTransform"} if t == 0 else
                     {"type": "ZScoreFixedInterval"} if t == 1 else
                     {"type": "ZScoreMovingInterval",
                      "width": int(rng.integers(3, 9))})
        # centered windows must be odd
        smoother = ({"type": "MovingAverageSmoother", "method": "centered",
                     "width": int(rng.choice([3, 5, 7]))}
                    if i % 4 < 2 else
                    {"type": "MovingAverageSmoother", "method": "trailing",
                     "width": int(rng.integers(3, 8))})
        body = {
            "resolution": res, "dataset_id": ds, "variable_id": "value",
            "time_range": {"gte": f"2024-01-{lo:02d}", "lte": f"2024-01-{hi:02d}"},
            "selected_area": area,
            "zonal_statistic": "median" if i % 4 == 1 else "mean",
            "transform": transform,
            "requested_series_options": [
                {"name": "original", "smoother": {"type": "NoSmoother"}},
                {"name": "smoothed", "smoother": smoother}],
        }
        bodies.append({"route": "/timeseries", "key": f"{ds}/{res}",
                       "body": json.dumps(body)})
    return bodies


def serve_sequence(seed, n_bodies, length=4000):
    """Body order: back-to-back seeded permutations of the pool, so each
    body is sent equally often."""
    rng = np.random.default_rng([seed, 12])
    return np.concatenate([rng.permutation(n_bodies)
                           for _ in range(length // n_bodies)]).tolist()


def make_serve(seed, out):
    gen.write_corpus(out, seed, 0.1, tables=["events"],
                     overrides={"events": SERVE_EVENTS})
    bodies = serve_bodies(seed)
    _write_plan(out, {
        "bodies": bodies,
        "sequence": serve_sequence(seed, len(bodies)),
        "setup_reps": SERVE_SETUP_REPS,
    })


# --------------------------------------------------------------------------
# suite_ingest

def ingest_plan(seed, n_docs, n_vecs, n_batches=INGEST_BATCHES):
    """Batch contents as plain data: new docs/vecs per batch, the planted
    exact copies (new id, source id) and the corpus ids the takedown
    before the batch removes. Takedown ids and planted sources come from
    disjoint corpus ids."""
    rng = np.random.default_rng([seed, 31])
    doc_ids, vec_ids = rng.permutation(n_docs), rng.permutation(n_vecs)
    td_docs = doc_ids[: 3 * n_batches].tolist()
    td_vecs = vec_ids[: 2 * n_batches].tolist()
    src_docs = doc_ids[3 * n_batches:]
    src_vecs = vec_ids[2 * n_batches:]
    bd = max(4, int(round(n_docs * INGEST_BATCH_SHARE)))
    bv = max(4, int(round(n_vecs * INGEST_BATCH_SHARE)))
    batches = []
    for b in range(n_batches):
        first_doc = n_docs + b * bd
        first_vec = n_vecs + b * bv
        batches.append({
            "first_doc": first_doc, "n_docs": bd,
            "first_vec": first_vec, "n_vecs": bv,
            "planted_docs": [[first_doc + j, int(rng.choice(src_docs))]
                             for j in range(INGEST_PLANTED)],
            "planted_vecs": [[first_vec + j, int(rng.choice(src_vecs))]
                             for j in range(INGEST_PLANTED)],
            "takedown_docs": td_docs[3 * b: 3 * b + 3],
            "takedown_vecs": td_vecs[2 * b: 2 * b + 2],
        })
    return batches


def ingest_batches(seed, corpus, out):
    """Write each planned batch as two parquet files next to the plan."""
    corpus_docs = pq.read_table(os.path.join(corpus, "documents.parquet"))
    corpus_vecs = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
    texts = corpus_docs.column("text").to_pylist()
    vecs = corpus_vecs.column("embedding").to_pylist()
    centers = gen.embedding_centers(seed)
    batches = ingest_plan(seed, len(texts), len(vecs))
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir)
    for i, b in enumerate(batches):
        rng = np.random.default_rng([seed, 32, i])
        docs = gen.documents(rng, b["n_docs"], first_id=b["first_doc"], pool=texts)
        dcol = docs.column("text").to_pylist()
        for new, src in b["planted_docs"]:
            dcol[new - b["first_doc"]] = texts[src]
        docs = docs.set_column(1, "text", gen.pa.array(dcol, gen.pa.string()))
        docs = docs.set_column(4, "n_chars",
                               gen.pa.array([len(t) for t in dcol], gen.pa.int64()))
        emb = gen.embeddings(rng, b["n_vecs"], centers, first_id=b["first_vec"])
        ecol = emb.column("embedding").to_pylist()
        for new, src in b["planted_vecs"]:
            ecol[new - b["first_vec"]] = vecs[src]
        emb = emb.set_column(1, "embedding",
                             gen.pa.array(ecol, gen.pa.list_(gen.pa.float32())))
        dp = os.path.join(bdir, f"docs{i}.parquet")
        vp = os.path.join(bdir, f"vecs{i}.parquet")
        pq.write_table(docs, dp)
        pq.write_table(emb, vp)
        b.update(docs=dp, vecs=vp,
                 bytes=os.path.getsize(dp) + os.path.getsize(vp))
    return batches


def make_suite_ingest(seed, out):
    corpus = os.path.join(out, "corpus")
    gen.write_corpus(corpus, seed, SUITE_SF)
    _write_plan(out, {
        "order": SUITE_QUERIES,
        "corpus": corpus,
        "batches": ingest_batches(seed, corpus, out),
    })


def make(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    {"serve_mixed": make_serve, "suite_ingest": make_suite_ingest}[workload](seed, out)
