"""Local replica of the driver's correctness harness: run every queries()
entry at sf0.001/sf0.01 and compare against oracle_sql() in DuckDB —
row count, column names, and order-insensitive values."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from robokop_build_spark.sources.readers import parquet_rows  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    try:  # Decimal → float-ish canonical
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = sorted(
        tuple(_norm(r[c]) for c in cols) for r in sdf.collect()
    )
    res = ddb.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    assert sorted(dcols) == cols, f"column mismatch: {sorted(dcols)} vs {cols}"
    idx = [dcols.index(c) for c in cols]
    duck_rows = sorted(
        tuple(_norm(row[i]) for i in idx) for row in res.fetchall()
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
    assert len(spark_rows) > 0, f"{name}: empty result is a weak check"


NO_ORACLE = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", NO_ORACLE)
def test_no_oracle_queries_run(spark, name):
    sdf = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
    assert sdf.count() >= 0
    assert sdf.columns


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_minhash_generated_oracle_across_band_knee(spark, ddb):
    """The generated DuckDB twin tracks the operator on BOTH sides of the
    auto_minhash_rows_per_band knee: the r=2 family a <=100k-doc corpus
    selects AND the r=3 family a >100k-doc corpus would select, exercised
    on the same small corpus by pinning num_hashes explicitly (the
    n_rows -> num_hashes rule itself is shared code, asserted below)."""
    from robokop_build_spark.operators import dedup as D
    from robokop_build_spark.plans import benchmark_queries as Q

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for num_hashes in (16, 24):  # r=2 (below the knee), r=3 (above it)
        sdf = D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=num_hashes, bands=8
        )
        spark_pairs = sorted((r.id_a, r.id_b) for r in sdf.collect())
        duck_pairs = sorted(
            tuple(row) for row in ddb.execute(Q.minhash_sql(num_hashes, 8)).fetchall()
        )
        assert spark_pairs == duck_pairs, (
            f"num_hashes={num_hashes}: {len(spark_pairs)} vs {len(duck_pairs)}"
        )
    assert len(spark_pairs) > 0

    # the oracle-compared entries and the SQL twin derive their family from
    # the SAME rule over the SAME corpus — alignment by construction
    n = parquet_rows(f"{SF_DIR}/documents.parquet")
    assert Q._oracle_num_hashes() == 8 * D.auto_minhash_rows_per_band(n)
    # knee shape: r=2 up to 100k docs, +1 per 32x growth
    assert D.auto_minhash_rows_per_band(100_000) == 2
    assert D.auto_minhash_rows_per_band(100_001) == 3
    assert D.auto_minhash_rows_per_band(3_200_000) == 3
    assert D.auto_minhash_rows_per_band(3_200_001) == 4
