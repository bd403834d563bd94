"""Flat-file source readers: the reference's CDW pipe/tab formats
(builder/cdw.py:39-62) and newline seed lists (builder/q1-disease-list.txt)."""

import glob
import os

from robokop_build_spark.sources.readers import (
    FIXTURE_TABLES,
    read_cdw_counts_csv,
    read_cdw_paircounts_csv,
    read_fixture,
    read_seed_list,
)


def test_cdw_counts_pipe_csv(spark, tmp_path):
    p = tmp_path / "counts.txt"
    p.write_text("code|count\n250.00|1200\n401.9|850\n")
    got = {r["icd9"]: r["count"] for r in read_cdw_counts_csv(spark, str(p)).collect()}
    assert got == {"250.00": 1200, "401.9": 850}


def test_cdw_paircounts_tab_positional(spark, tmp_path):
    # positional cols: x[1]=a, x[2]=b, x[3]=c1, x[4]=c2, x[6]=c, x[9]=p
    p = tmp_path / "pairs.txt"
    row = ["junk", "250.00", "401.9", "1200", "850", "junk", "37", "j", "j", "0.004"]
    p.write_text("\t".join(row) + "\n")
    r = read_cdw_paircounts_csv(spark, str(p)).collect()[0]
    assert (r["icd9_a"], r["icd9_b"]) == ("250.00", "401.9")
    assert (r["c1"], r["c2"], r["c"]) == (1200, 850, 37)
    assert abs(r["p"] - 0.004) < 1e-12


def test_seed_list(spark, tmp_path):
    p = tmp_path / "q1.txt"
    p.write_text("Ebola Virus Disease\n\n  Usher Syndrome  \n")
    got = [r["name"] for r in read_seed_list(spark, str(p)).collect()]
    assert sorted(got) == ["Ebola Virus Disease", "Usher Syndrome"]


def test_footer_schema_matches_spark_inference(spark, fixture_dir):
    """read_fixture's footer schema equals the schema Spark infers itself,
    on every query table at the oracle scale and every KG fixture table; a
    tz-naive parquet timestamp is timestamp_ntz on both sides."""
    from robokop_build_spark.plans.benchmark_queries import DRIVER_SF_DIR as sf_dir

    tables = [
        (sf_dir, os.path.basename(p)[: -len(".parquet")])
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    ] + [(fixture_dir, t) for t in FIXTURE_TABLES]
    assert len(tables) == 10 + len(FIXTURE_TABLES)
    for d, name in tables:
        inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet")).schema
        assert read_fixture(spark, d, name).schema == inferred, name
