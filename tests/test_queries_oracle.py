"""Local replica of the driver's correctness harness: run every queries()
entry at sf0.001/sf0.01 and compare against oracle_sql() in DuckDB —
row count, column names, and the driver's value hash."""

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import __spark_entry__ as entrymod  # noqa: E402
from robokop_build_spark.sources.readers import parquet_rows  # noqa: E402
from verify_contract import vhash  # noqa: E402

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


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    """The driver's compare (verify_contract.vhash): columns sorted, every
    value stringified, rows sorted, md5."""
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = ddb.execute(entrymod.oracle_sql()[name]).df()
    cols, dcols = sorted(sdf.columns), sorted(odf.columns)
    assert dcols == cols, f"column mismatch: {dcols} vs {cols}"
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    assert len(sdf) > 0, f"{name}: empty result is a weak check"
    assert vhash(sdf) == vhash(odf), f"{name}: value hash differs from the oracle's"


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
