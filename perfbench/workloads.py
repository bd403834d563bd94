"""The benchmark's workloads. Each has a setup (warm-up included), one
timed operation and output checks that run outside the timer.

kg_cold_build: one operation is the default DGX + omnicorp run_pipeline
into a fresh workdir; its triples are hash-compared to the golden oracle
(datagen.oracle.compute_golden) right after the operation.

curation_scan: one operation is one pass over CURATION_QUERIES into the
noop sink. Each query carries an observed (row count, row-hash sum)
checksum; every timed pass must reproduce the checksums of the setup
pass, whose collected rows are hash-compared to the queries' DuckDB twins
(oracle_sql()) once per run.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from decimal import Decimal

from . import inputs

# query -> operator family whose layer it exercises. Left out to fit a
# run's time budget: dedup_neardup_verified (composes the minhash and
# n-gram kernels timed here), f3_stopword_tokens and dedup_exact (plain
# Spark expressions, no operator kernel).
CURATION_QUERIES = {
    "dedup_ngram_jaccard": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_simhash": "dedup",
    "dedup_span_coverage": "dedup",
    "semdedup_embeddings": "similarity",
    "ann_cosine_topk": "similarity",
    "ann_ivf_topk": "similarity",
    "ann_embedding_neardup": "similarity",
    "text_quality": "text",
    "text_langid": "text",
}
# twins that read generated parquet artifacts (oracle_sql()'s
# fixture-backed family); the rest come from ORACLES / lazy_oracles()
FIXTURE_BACKED = ("dedup_simhash", "ann_embedding_neardup")


@dataclass
class OpResult:
    wall_s: float
    ok: bool
    rows: int = 0  # verified output rows
    error: str | None = None
    detail: dict = field(default_factory=dict)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _norm(v):
    """Value normalization of the repository's oracle tests: floats to 9
    decimals, NaN as a string, decimals as floats."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def rows_digest(rows) -> str:
    """Order-insensitive digest of row tuples."""
    norm = sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)
    return hashlib.md5(repr(norm).encode()).hexdigest()


def release(spark) -> None:
    """Drops the operators' persisted blocks and cached tables, as bench.py
    does between queries."""
    from robokop_build_spark.caching import release_operator_caches

    release_operator_caches()
    spark.catalog.clearCache()


def collect_heap(spark) -> None:
    """Between operations, outside the timer: a full JVM collection, so
    each operation starts from the same heap state."""
    spark.sparkContext._jvm.System.gc()


class KGColdBuild:
    name = "kg_cold_build"

    @staticmethod
    def prepare(root: str, cache: str, seed: int) -> dict:
        return inputs.kg_inputs(root, cache, seed)

    def __init__(self, spark, inp: dict, scratch: str):
        self.spark = spark
        self.fixture_dir = inp["fixture_dir"]
        self.golden = rows_digest(inp["golden_rows"])
        self.golden_n = len(inp["golden_rows"])
        self.scratch = scratch

    def setup(self) -> None:
        """Warm-up: one untimed build of the same corpus in the cold JVM
        (about three times the steady wall)."""
        res = self.op("warmup")
        if not res.ok:
            _log(f"warm-up build failed: {res.error}")

    def check_rows(self, got: list[tuple]) -> OpResult:
        """Flattened triples (oracle_fixtures.KG_COLUMNS order) vs golden."""
        if rows_digest(got) == self.golden:
            return OpResult(0.0, True, len(got))
        return OpResult(
            0.0, False, error=f"triples differ from golden ({len(got)} vs {self.golden_n} rows)"
        )

    def check(self, triples, workdir: str) -> OpResult:
        # flattened by the same function as the golden rows
        from robokop_build_spark.datagen.oracle_fixtures import KG_COLUMNS, flatten_triple

        rows = triples.select(*KG_COLUMNS).collect()
        flat = [flatten_triple(r.asDict()) for r in rows]
        res = self.check_rows([tuple(f[c] for c in KG_COLUMNS) for f in flat])
        stages = os.listdir(workdir)
        # scale-adaptive branches, read from the workdir layout
        res.detail = {
            "intermediates": "commit" if "doc_entities" in stages else "local",
            "cc": "distributed"
            if any(s.startswith("rep_map_cc") for s in stages)
            else "local",
        }
        return res

    def op(self, i, tracer=None) -> OpResult:
        from robokop_build_spark.plans.pipeline import run_pipeline

        workdir = os.path.join(self.scratch, f"op-{i}")
        shutil.rmtree(workdir, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            with tracer.op(i, "op") if tracer else nullcontext():
                out = run_pipeline(self.spark, self.fixture_dir, workdir)
            wall = time.perf_counter() - t0
            res = self.check(out["triples"], workdir)
            res.wall_s = wall
        except Exception:
            res = OpResult(time.perf_counter() - t0, False, error=traceback.format_exc())
        finally:
            release(self.spark)
            collect_heap(self.spark)
            shutil.rmtree(workdir, ignore_errors=True)
        return res

    def verify(self) -> bool:
        return True  # every operation was checked against the golden


class CurationScan:
    name = "curation_scan"

    @staticmethod
    def prepare(root: str, cache: str, seed: int) -> dict:
        return inputs.curation_inputs(root, cache, seed)

    def __init__(self, spark, inp: dict, scratch: str):
        from robokop_build_spark.plans import benchmark_queries as BQ

        self.spark = spark
        self.BQ = BQ
        self.tables = inp["tables_dir"]
        self.oracle_dir = inp["oracle_dir"]
        self.reference: dict[str, tuple | None] = {}
        self._n_obs = 0
        # the program keeps IVF parameters in /tmp/robokop_ivf_cache; this
        # benchmark keeps them with its own inputs (while the program has
        # that private hook; the benchmark must not break when it moves)
        default_path = getattr(BQ, "_ivf_cache_path", None)
        ivf_dir = inp["ivf_dir"]

        def ivf_cache_path(sf_dir: str, train_rows: int) -> str | None:
            p = default_path(sf_dir, train_rows)
            return p and os.path.join(ivf_dir, os.path.basename(p))

        if default_path is not None:
            BQ._ivf_cache_path = ivf_cache_path

    def _run(self, query: str, collect: bool):
        """One query with an observed (rows, row-hash sum) checksum; returns
        (collected rows or None, checksum)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType, FloatType

        df = self.BQ.QUERIES[query](self.spark, self.tables)
        cols = [
            F.round(F.col(f"`{f.name}`"), 9)
            if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f"`{f.name}`")
            for f in df.schema.fields
        ]
        self._n_obs += 1
        obs = Observation(f"perfbench_{self._n_obs}")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h"),
        )
        if collect:
            rows = df.collect()
        else:
            rows = None
            df.write.format("noop").mode("overwrite").save()
        m = obs.get
        return rows, (m["n"], m["h"])

    def setup(self) -> None:
        """Trains the IVF parameters (so every timed ann_ivf_topk op sees a
        warm parameter cache), then runs the checked pass: each query once,
        rows collected for the DuckDB comparison. This pass is the warm-up."""
        try:
            train = getattr(self.BQ, "_ivf_params_for", None)
            if train is not None:  # else the first ann_ivf_topk trains them
                train(self.tables)
        except Exception:
            _log(f"IVF parameter training failed:\n{traceback.format_exc()}")
        for q in CURATION_QUERIES:
            try:
                rows, checksum = self._run(q, collect=True)
                self.reference[q] = ([r.asDict() for r in rows], checksum)
            except Exception:
                _log(f"setup pass: {q} failed:\n{traceback.format_exc()}")
                self.reference[q] = None
            release(self.spark)
        collect_heap(self.spark)

    def op(self, i, tracer=None) -> OpResult:
        """One pass; its wall includes releasing caches between queries."""
        walls: dict[str, float] = {}
        ok, rows, errors = True, 0, []
        t_pass = time.perf_counter()
        with tracer.op(i, "op") if tracer else nullcontext():
            for q, family in CURATION_QUERIES.items():
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"{family}.{q}") if tracer else nullcontext():
                        _, checksum = self._run(q, collect=False)
                    ref = self.reference.get(q)
                    if ref is None or checksum != ref[1]:
                        ok = False
                        errors.append(f"{q}: checksum {checksum} != setup pass")
                    else:
                        rows += checksum[0]
                except Exception:
                    ok = False
                    errors.append(f"{q}:\n{traceback.format_exc()}")
                walls[q] = time.perf_counter() - t0
                release(self.spark)
        wall = time.perf_counter() - t_pass
        collect_heap(self.spark)
        return OpResult(wall, ok, rows if ok else 0, "\n".join(errors) or None, {"query_s": walls})

    def oracles(self) -> dict[str, str]:
        """The oracle_sql() twins, built over this run's generated tables
        (SPARK_GRAFT_ORACLE_SF_DIR points the generated twins at them, and
        the fixture-backed twins read this run's artifacts)."""
        from unittest import mock

        from robokop_build_spark.datagen import oracle_fixtures

        BQ = self.BQ
        out = dict(BQ.ORACLES)
        out.update(BQ.lazy_oracles())
        with mock.patch.object(
            oracle_fixtures, "ensure_oracle_fixtures", lambda sf, d: self.oracle_dir
        ), mock.patch.object(BQ, "_fixture_dir_for", lambda d: self.oracle_dir, create=True):
            backed = BQ.fixture_backed_oracles()
        out.update({q: backed[q] for q in FIXTURE_BACKED})
        return {q: out[q] for q in CURATION_QUERIES}

    def _matches_twin(self, con, query: str, sql: str) -> bool:
        rows, _ = self.reference[query]
        res = con.execute(sql)
        cols = sorted(d[0] for d in res.description)
        if rows and sorted(rows[0]) != cols:
            _log(f"{query}: columns {sorted(rows[0])} differ from the twin's {cols}")
            return False
        idx = [[d[0] for d in res.description].index(c) for c in cols]
        twin = [tuple(r[i] for i in idx) for r in res.fetchall()]
        mine = [tuple(r[c] for c in cols) for r in rows]
        if rows_digest(mine) != rows_digest(twin):
            _log(f"{query}: rows differ from the DuckDB twin ({len(mine)} vs {len(twin)})")
            return False
        return True

    def verify(self) -> bool:
        """Setup-pass rows vs the DuckDB twins over the same tables; a twin
        that fails to run counts as a mismatch."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            good = True
            for q, sql in self.oracles().items():
                try:
                    good &= self.reference[q] is not None and self._matches_twin(con, q, sql)
                except Exception:
                    _log(f"{q}: DuckDB twin failed:\n{traceback.format_exc()}")
                    good = False
            return good
        except Exception:
            _log(f"oracle setup failed:\n{traceback.format_exc()}")
            return False
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (KGColdBuild, CurationScan)}
