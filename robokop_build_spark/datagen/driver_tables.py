"""Synthetic driver-shaped tables for benchmarking above the driver's
largest provided scale.

The external driver ships `documents` / `embeddings` parquet only up to
sf0.1 (/root/testdata, TESTDATA.md). The dedup / ANN / text queries are
benchmarked at SF=1+ to measure them above the fixed-cost floor, so this
module synthesizes tables of exactly the driver shape, deterministically
(seeded numpy), at any SF:

- documents(doc_id int64, text string, lang string, source string,
  n_chars int64): ~31-word vocabulary word-salad, 10-110 words/doc,
  5 langs (en-heavy), 20 sources — matching the observed sf0.1 stats —
  plus an injected exact-duplicate rate (~0.2%) and near-duplicate
  families (~1%, small token edits) so the dedup operators have
  realistic positive classes.
- embeddings(vec_id int64, embedding list<float>, label int32): unit-norm
  64-d gaussians in 10 label clusters, plus ~1% perturbed near-copies so
  banded near-dup search has hits.

- events(event_id int64, ts timestamp, user_id int64, event_type string,
  value double, props string): exponential inter-arrivals (mean ~2 min),
  uniform users, view/click/error/purchase mix — the as-of join and
  sessionization operators' scale input.

Row counts per SF mirror the driver: 50,000 docs, 20,000 vectors, and
1,000,000 events at SF=1.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .fixtures import source_key

SEED = 0x5EED

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow query agg table the key group stream filter big merge join a "
    "vector customer pipeline shuffle codec row"
).split()  # 31 words, mirrors the observed driver vocabulary size

_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _gen_documents(n_docs: int, rng: np.random.Generator):
    lens = rng.integers(10, 111, size=n_docs)
    langs = np.array(_LANGS)[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)]
    sources = np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), size=n)]) for n in lens
    ]
    # exact duplicates: ~0.2% of docs copy an earlier doc verbatim
    n_exact = max(2, n_docs // 500)
    dup_dst = rng.integers(n_docs // 2, n_docs, size=n_exact)
    dup_src = rng.integers(0, n_docs // 2, size=n_exact)
    for d, s in zip(dup_dst, dup_src):
        texts[d] = texts[s]
    # near-duplicate families: ~1% of docs are a token-level edit of an
    # earlier doc (drop one token, append one) — Jaccard/MinHash/SimHash
    # positives without being exact
    n_near = max(4, n_docs // 100)
    near_dst = rng.integers(n_docs // 2, n_docs, size=n_near)
    near_src = rng.integers(0, n_docs // 2, size=n_near)
    for d, s in zip(near_dst, near_src):
        toks = texts[s].split()
        if len(toks) > 3:
            del toks[int(rng.integers(0, len(toks)))]
        toks.append(str(vocab[int(rng.integers(0, len(vocab)))]))
        texts[d] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources.tolist(), pa.string()),
        "n_chars": pa.array(
            np.array([len(t) for t in texts], dtype=np.int64)
        ),
    }


def _gen_embeddings(n_vecs: int, rng: np.random.Generator):
    labels = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, 64)) * 0.5
    vecs = centers[labels] + rng.normal(size=(n_vecs, 64))
    # near-copies: ~1% perturb an earlier vector slightly (cosine ≈ 0.999)
    n_near = max(4, n_vecs // 100)
    near_dst = rng.integers(n_vecs // 2, n_vecs, size=n_near)
    near_src = rng.integers(0, n_vecs // 2, size=n_near)
    vecs[near_dst] = vecs[near_src] + rng.normal(size=(n_near, 64)) * 0.02
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(
            list(vecs), pa.list_(pa.float32())
        ),
        "label": pa.array(labels),
    }


def _gen_events(n_events: int, n_users: int, rng, id_offset: int = 0):
    """Driver-shaped events chunk: exponential inter-arrivals (mean ~2 min,
    matching the shipped sf0.01 table), uniform users, typed mix. ts is
    offset by the chunk's global position so parallel chunks stay
    time-ordered in expectation."""
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    mean_gap_us = 120_000_000
    gaps = rng.exponential(mean_gap_us, size=n_events).astype(np.int64)
    ts_us = base_us + id_offset * mean_gap_us + np.cumsum(gaps)
    types = rng.choice(
        np.array(["view", "click", "error", "purchase"]),
        size=n_events,
        p=[0.55, 0.3, 0.1, 0.05],
    )
    return {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64) + id_offset),
        "ts": pa.array(ts_us.view("datetime64[us]")),
        "user_id": pa.array(
            rng.integers(0, max(n_users, 1), size=n_events).astype(np.int64)
        ),
        "event_type": pa.array(types),
        "value": pa.array(np.round(rng.uniform(0, 50, size=n_events), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]),
    }


def ensure_driver_tables(out_dir: str, sf: float, seed: int = SEED) -> str:
    """Generate (once, marker-guarded) driver-shaped documents/embeddings
    parquet at `out_dir` for scale `sf`. Safe to call repeatedly.

    The marker records (source_key(), sf, seed); calling with different values
    against an existing dir regenerates rather than silently serving
    stale tables at the wrong scale (a mis-sized bench run is a silent
    wrong-answer for throughput numbers)."""
    marker = os.path.join(out_dir, "_DRIVER_TABLES_DONE")
    stamp = f"src={source_key()} sf={sf} seed={seed}\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out_dir
        os.remove(marker)  # stale params: fall through and regenerate
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))
    rng = np.random.default_rng(seed)
    pq.write_table(
        pa.table(_gen_documents(n_docs, rng)),
        os.path.join(out_dir, "documents.parquet"),
        row_group_size=max(4096, n_docs // 64),
    )
    rng = np.random.default_rng(seed + 1)
    pq.write_table(
        pa.table(_gen_embeddings(n_vecs, rng)),
        os.path.join(out_dir, "embeddings.parquet"),
        row_group_size=max(4096, n_vecs // 64),
    )
    n_events = max(100, int(1_000_000 * sf))
    rng = np.random.default_rng(seed + 2)
    pq.write_table(
        pa.table(_gen_events(n_events, max(2, int(15_000 * sf)), rng)),
        os.path.join(out_dir, "events.parquet"),
        row_group_size=max(4096, n_events // 64),
    )
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


def ensure_driver_tables_spark(
    spark,
    out_dir: str,
    sf: float,
    seed: int = SEED,
) -> str:
    """Driver-shaped tables at big SF, generated IN PARALLEL with Spark:
    spark.range over partition indices → mapInPandas, each task running the
    same chunk generators (_gen_documents/_gen_embeddings) with a
    per-partition rng seed and a doc_id offset. The driver-side loop in
    ensure_driver_tables is fine to SF≈8 (400k docs); beyond that a single
    core string-building 10^6+ documents is the bottleneck — this path
    generates SF=32 (1.6M docs) in about a minute on local[32] and scales
    with the cluster.

    Deterministic for (sf, seed): the chunk count derives from the doc
    count; dup/near-dup positive classes are planted per partition chunk
    (same rates as the single-file path).
    Output is a parquet DIRECTORY named documents.parquet/embeddings.parquet
    (Spark-written part files) — spark.read.parquet handles both layouts,
    so bench queries are layout-agnostic."""
    import json

    marker = os.path.join(out_dir, "_DRIVER_TABLES_DONE")
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))
    partitions = max(16, min(512, n_docs // 50_000))
    stamp = json.dumps(
        {"gen": "spark", "src": source_key(), "sf": sf, "seed": seed}
    )
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out_dir
        # stale params: drop the old marker BEFORE the (long) parallel
        # overwrite — a crash mid-regeneration must not leave a marker that
        # lets the old params silently match partial data (same contract as
        # the single-core twin above)
        os.remove(marker)
    os.makedirs(out_dir, exist_ok=True)

    import pandas as pd

    def doc_chunks(batches):
        for pdf in batches:
            for p in pdf["id"]:
                p = int(p)
                lo = n_docs * p // partitions
                hi = n_docs * (p + 1) // partitions
                rng = np.random.default_rng((seed, p))
                cols = _gen_documents(hi - lo, rng)
                out = cols_to_pandas(cols)
                out["doc_id"] = out["doc_id"] + lo
                yield out

    def emb_chunks(batches):
        for pdf in batches:
            for p in pdf["id"]:
                p = int(p)
                lo = n_vecs * p // partitions
                hi = n_vecs * (p + 1) // partitions
                rng = np.random.default_rng((seed + 1, p))
                cols = _gen_embeddings(hi - lo, rng)
                out = cols_to_pandas(cols)
                out["vec_id"] = out["vec_id"] + lo
                yield out

    def cols_to_pandas(cols):
        return pd.DataFrame({k: v.to_pandas() for k, v in cols.items()})

    n_events = max(100, int(1_000_000 * sf))
    n_users = max(2, int(15_000 * sf))

    def event_chunks(batches):
        for pdf in batches:
            for p in pdf["id"]:
                p = int(p)
                lo = n_events * p // partitions
                hi = n_events * (p + 1) // partitions
                rng = np.random.default_rng((seed + 2, p))
                cols = _gen_events(hi - lo, n_users, rng, id_offset=lo)
                yield cols_to_pandas(cols)

    parts = spark.range(partitions).repartition(partitions, "id")
    docs_schema = "doc_id long, text string, lang string, source string, n_chars long"
    emb_schema = "vec_id long, embedding array<float>, label int"
    parts.mapInPandas(doc_chunks, schema=docs_schema).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "documents.parquet"))
    parts.mapInPandas(emb_chunks, schema=emb_schema).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "embeddings.parquet"))
    ev_schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    parts.mapInPandas(event_chunks, schema=ev_schema).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "events.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir
