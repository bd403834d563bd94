"""Oracle-side fixtures: deterministic parquet artifacts that let DuckDB
reproduce the non-SQL-expressible queries bit-for-bit.

Three artifact families, under /tmp/robokop_oracle keyed by fixtures.source_key():
- golden_<kg query>.parquet — the pure-Python golden oracle's triples for
  each KG pipeline query (flattened to the driver-facing column set), so the
  driver's hash compare becomes Spark-pipeline vs independent-python-replay.
- simhash_sigs.parquet — SimHash signatures of the driver documents table
  computed by the scalar reference implementation (dedup.simhash_py, a
  separate code path from the vectorized batch kernel), so the DuckDB twin
  can reproduce the banded near-pair join over identical signatures.
- neardup_planes.parquet — the hyperplane constants of the banded
  embedding near-dup signatures, so DuckDB can recompute buckets + cosine.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

# driver-facing flattened edge columns (arrays/maps stringified so the
# cross-engine value hash sees identical primitives)
KG_COLUMNS = [
    "subj",
    "pred",
    "obj",
    "edge_source",
    "input_identifiers",
    "ctime",
    "url",
    "standard_label",
    "original_predicate_id",
    "original_predicate_label",
    "publications",
    "properties",
]


def flatten_triple(t: dict) -> dict:
    """Golden-oracle triple dict → driver-facing flat row (mirrors the
    select in plans/benchmark_queries._kg_select)."""
    props = t["properties"] or {}
    return {
        **{k: t[k] for k in KG_COLUMNS[:10]},
        "publications": ",".join(t["publications"]),
        "properties": json.dumps(
            {k: props[k] for k in sorted(props)}, separators=(",", ":")
        ),
    }


def oracle_dir(sf: float) -> str:
    from .fixtures import keyed_cache_dir

    return keyed_cache_dir("/tmp/robokop_oracle", sf)


def _write(path: str, rows: list[dict], schema: pa.schema) -> None:
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path)


_KG_SCHEMA = pa.schema(
    [
        (c, pa.int64() if c == "ctime" else pa.string()) for c in KG_COLUMNS
    ]
)


def _kg_query_params(fixture_dir: str) -> dict[str, dict]:
    """Golden-oracle parameters for each KG queries() entry — must mirror
    the pipeline configs in plans/benchmark_queries."""
    from ..plans.query import enumerate_programs, tokenize_path

    pm = pq.read_table(f"{fixture_dir}/predicate_map.parquet")
    metagraph = set(
        zip(pm.column("src_type").to_pylist(), pm.column("dst_type").to_pylist())
    )
    prog = lambda p: enumerate_programs(tokenize_path(p), metagraph)  # noqa: E731
    return {
        "kg_end_to_end": dict(),  # default DGX + omnicorp
        "kg_var_length": dict(programs=prog("D(1-2)G")),
        "kg_multi_program": dict(programs=prog("D(1-3)X")),
        "kg_end_bound": dict(
            programs=[["disease", "gene"]],
            end_values=["NCBIGENE:7000001"],
            supporters=(),
        ),
        "kg_contexts_mode": dict(support_pair_mode="paths"),
    }


def ensure_oracle_fixtures(sf: float, sf_dir: str) -> str:
    """Generate (once, marker-guarded) every oracle artifact for the given
    scale: the KG golden parquets require the pipeline fixtures (generated
    on demand); the simhash/planes artifacts derive from the driver tables
    in sf_dir."""
    from ..operators.dedup import simhash_py
    from ..operators.similarity import near_duplicate_planes
    from . import fixtures
    from .oracle import compute_golden

    out = oracle_dir(sf)
    marker = os.path.join(out, "_ORACLE_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)

    fixture_dir = fixtures.fixture_dir(sf)
    for name, params in _kg_query_params(fixture_dir).items():
        _, triples = compute_golden(fixture_dir, **params)
        _write(
            os.path.join(out, f"golden_{name}.parquet"),
            [flatten_triple(t) for t in triples],
            _KG_SCHEMA,
        )

    # expected media features, recomputed from the pixel rule WITHOUT going
    # through BMP/CSV bytes — a genuine codec check: the Spark path must
    # encode→parse its way back to the same numbers
    import hashlib

    import numpy as np

    from ..operators.multimodal import media_dims, media_feature, media_pixels

    fx_docs = pq.read_table(os.path.join(fixture_dir, "documents.parquet")).to_pylist()
    media_rows = []
    for row in fx_docs:
        for pos, span in enumerate(row["spans"] or []):
            if span["kind"] == "image":
                w, h = media_dims(span["media_ref"])
                px = np.frombuffer(
                    media_pixels(span["media_ref"], w, h), dtype=np.uint8
                )
                dec = np.concatenate([[w, h], px]).astype(np.float64)
            elif span["kind"] == "table":
                d = hashlib.md5(f"{span['media_ref']}:dims".encode()).digest()
                w, h = 3 + d[0] % 3, 2 + d[1] % 3
                from ..operators.multimodal import _md5_stream

                vals = np.frombuffer(_md5_stream(f"{span['media_ref']}:px", w * h), np.uint8)
                dec = np.concatenate([[w, h], vals]).astype(np.float64)
            else:
                continue
            media_rows.append(
                {
                    "doc_id": row["doc_id"],
                    "span_pos": pos,
                    "media_ref": span["media_ref"],
                    "width": w,
                    "height": h,
                    "f0": float(media_feature(dec)[0]),
                }
            )
    _write(
        os.path.join(out, "media_features.parquet"),
        media_rows,
        pa.schema(
            [
                ("doc_id", pa.string()),
                ("span_pos", pa.int64()),
                ("media_ref", pa.string()),
                ("width", pa.int64()),
                ("height", pa.int64()),
                ("f0", pa.float64()),
            ]
        ),
    )

    # expected audio features for the md5-bucket-0 slice of the DRIVER
    # documents table, recomputed from the PCM sample rule WITHOUT the
    # wave module or RIFF bytes — the Spark path must struct-encode a
    # genuine WAV and wave-decode its way back to the same exact integers
    from ..operators.multimodal import (
        audio_int_features,
        audio_params,
        audio_samples,
    )

    drv_ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    ).column("doc_id").to_pylist()
    audio_rows = []
    for did in drv_ids:
        if int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16) % 4 != 0:
            continue
        ref = f"au:{did}"
        n, rate = audio_params(ref)
        s, p, z = audio_int_features(audio_samples(ref, n))
        audio_rows.append(
            {
                "doc_id": int(did),
                "audio_ref": ref,
                "n_samples": n,
                "sample_rate": rate,
                "sum_sq": s,
                "peak": p,
                "zero_crossings": z,
            }
        )
    _write(
        os.path.join(out, "audio_features.parquet"),
        audio_rows,
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("audio_ref", pa.string()),
                ("n_samples", pa.int64()),
                ("sample_rate", pa.int64()),
                ("sum_sq", pa.int64()),
                ("peak", pa.int64()),
                ("zero_crossings", pa.int64()),
            ]
        ),
    )

    # expected 80-core of the part co-purchase graph, peeled by an
    # independent pure-Python implementation (a data-dependent fixpoint
    # has no fixed-unroll SQL twin; this is the same golden pattern as
    # the KG triples)
    li = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_partkey"],
    )
    by_order: dict[int, set[int]] = {}
    for ok_, pk in zip(
        li.column("l_orderkey").to_pylist(), li.column("l_partkey").to_pylist()
    ):
        by_order.setdefault(ok_, set()).add(pk)
    adj: dict[int, set[int]] = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1 :]:
                adj.setdefault(x, set()).add(y)
                adj.setdefault(y, set()).add(x)
    # full core decomposition of the SAME graph by Batagelj–Zaveršnik
    # min-degree peeling — a different algorithm family from the h-index
    # propagation the Spark operator uses, so parity is a genuine
    # cross-check (computed before the 80-core peel mutates adj)
    deg = {n: len(nbrs) for n, nbrs in adj.items()}
    core: dict[int, int] = {}
    kk = 0
    while deg:
        n = min(deg, key=lambda x: (deg[x], x))
        kk = max(kk, deg[n])
        core[n] = kk
        for m in adj[n]:
            if m in deg:
                deg[m] -= 1
        del deg[n]
    _write(
        os.path.join(out, "core_numbers.parquet"),
        [{"node": n, "core": c} for n, c in sorted(core.items())],
        pa.schema([("node", pa.int64()), ("core", pa.int64())]),
    )

    K = 80
    while True:
        drop = [n for n, nbrs in adj.items() if len(nbrs) < K]
        if not drop:
            break
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    _write(
        os.path.join(out, "kcore80.parquet"),
        [
            {"node": n, "core_deg": len(nbrs)}
            for n, nbrs in sorted(adj.items())
        ],
        pa.schema([("node", pa.int64()), ("core_deg", pa.int64())]),
    )

    # simhash signatures of the DRIVER documents table (scalar reference)
    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    sig_rows = [
        {"id": str(i), "simhash": simhash_py(t)}
        for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    ]
    _write(
        os.path.join(out, "simhash_sigs.parquet"),
        sig_rows,
        pa.schema([("id", pa.string()), ("simhash", pa.int64())]),
    )

    # hyperplane constants for the banded embedding near-dup query;
    # signature width mirrors the operator's corpus-adaptive sizing
    # (similarity.auto_signature_bits over the same embeddings table)
    from ..operators.similarity import auto_signature_bits

    n_vecs = pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    plane_rows = [
        {"tbl": t, "bit": b, "vec": p}
        for t, b, p in near_duplicate_planes(64, 4, auto_signature_bits(n_vecs))
    ]
    _write(
        os.path.join(out, "neardup_planes.parquet"),
        plane_rows,
        pa.schema(
            [("tbl", pa.int32()), ("bit", pa.int32()), ("vec", pa.list_(pa.float64()))]
        ),
    )

    with open(marker, "w") as f:
        f.write("done")
    return out
