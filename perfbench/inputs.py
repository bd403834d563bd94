"""Seeded benchmark inputs, generated into the benchmark's own cache.

Everything lands under `<checkout>/.perfbench/inputs/`, keyed by seed and
by a digest of the generator and oracle sources, so a changed generator
never serves stale inputs or goldens. Nothing here reads the caches that
the repository's tests share (/tmp/robokop_fixtures, /tmp/robokop_oracle).
"""

from __future__ import annotations

import hashlib
import json
import os

# KG corpus: sf0.01 = 10k documents; doc tables: sf0.05 = 2,500 documents
# and 1,000 embeddings. Larger inputs do not fit a run's time budget next to
# the cold-JVM warm-up. PERFBENCH_SMOKE=1 selects the smallest inputs the
# generators make, for the benchmark's own smoke test.
if os.environ.get("PERFBENCH_SMOKE") == "1":
    KG_SF, CURATION_SF = 0.001, 0.002
else:
    KG_SF, CURATION_SF = 0.01, 0.05

_SOURCES = (
    "robokop_build_spark/datagen/fixtures.py",
    "robokop_build_spark/datagen/driver_tables.py",
    "robokop_build_spark/datagen/oracle.py",
    "robokop_build_spark/datagen/oracle_fixtures.py",
)


def _source_key(root: str) -> str:
    h = hashlib.md5()
    for rel in _SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_PERFBENCH_DONE"))


def _mark(d: str) -> None:
    with open(os.path.join(d, "_PERFBENCH_DONE"), "w") as f:
        f.write("done\n")


def kg_inputs(root: str, cache: str, seed: int) -> dict:
    """Fixture corpus plus the golden oracle's flattened DGX triples."""
    from robokop_build_spark.datagen.fixtures import ensure_fixtures

    base = os.path.join(cache, f"kg-seed{seed}-{_source_key(root)}")
    fx = ensure_fixtures(os.path.join(base, f"sf{KG_SF}"), KG_SF, seed)
    golden = os.path.join(base, f"golden-sf{KG_SF}.json")
    if not os.path.exists(golden):
        from robokop_build_spark.datagen.oracle import compute_golden
        from robokop_build_spark.datagen.oracle_fixtures import (
            KG_COLUMNS,
            flatten_triple,
        )

        _, triples = compute_golden(fx)
        rows = [[flatten_triple(t)[c] for c in KG_COLUMNS] for t in triples]
        tmp = golden + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, golden)
    with open(golden) as f:
        rows = [tuple(r) for r in json.load(f)]
    return {"fixture_dir": fx, "golden_rows": rows}


def curation_inputs(root: str, cache: str, seed: int) -> dict:
    """Driver-shaped documents/embeddings tables plus the two parquet
    artifacts the fixture-backed SQL twins read (the same artifacts
    datagen.oracle_fixtures builds for the repository's own oracle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables

    base = os.path.join(cache, f"curation-seed{seed}-{_source_key(root)}")
    tables = ensure_driver_tables(
        os.path.join(base, f"sf{CURATION_SF}"), CURATION_SF, seed
    )
    oracle = os.path.join(base, f"oracle-sf{CURATION_SF}")
    if not _done(oracle):
        from robokop_build_spark.operators.dedup import simhash_py
        from robokop_build_spark.operators.similarity import (
            auto_signature_bits,
            near_duplicate_planes,
        )

        os.makedirs(oracle, exist_ok=True)
        docs = pq.read_table(
            os.path.join(tables, "documents.parquet"), columns=["doc_id", "text"]
        )
        ids = [str(i) for i in docs.column("doc_id").to_pylist()]
        sigs = [simhash_py(t) for t in docs.column("text").to_pylist()]
        pq.write_table(
            pa.table(
                {"id": pa.array(ids, pa.string()), "simhash": pa.array(sigs, pa.int64())}
            ),
            os.path.join(oracle, "simhash_sigs.parquet"),
        )
        n_vecs = pq.read_metadata(os.path.join(tables, "embeddings.parquet")).num_rows
        planes = list(
            near_duplicate_planes(
                dim=64, n_tables=4, bits_per_table=auto_signature_bits(n_vecs)
            )
        )
        pq.write_table(
            pa.table(
                {
                    "tbl": pa.array([p[0] for p in planes], pa.int32()),
                    "bit": pa.array([p[1] for p in planes], pa.int32()),
                    "vec": pa.array([p[2] for p in planes], pa.list_(pa.float64())),
                }
            ),
            os.path.join(oracle, "neardup_planes.parquet"),
        )
        _mark(oracle)
    return {
        "tables_dir": tables,
        "oracle_dir": oracle,
        "ivf_dir": os.path.join(base, "ivf-cache"),
    }
