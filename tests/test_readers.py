"""Fixture readers: the footer schema read_fixture hands to Spark."""

import glob
import os

from robokop_build_spark.sources.readers import FIXTURE_TABLES, read_fixture


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
