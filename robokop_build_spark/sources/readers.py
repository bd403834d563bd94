"""Source readers: fixture parquet tables, with their schema and row
counts taken from the parquet footers (metadata only, no Spark job).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FIXTURE_TABLES = [
    "documents",
    "lexicon",
    "normalization",
    "predicate_map",
    "entity_embeddings",
    "term_pmids",
    "mesh_terms",
    "term_articles",
    "label_lookup",
    "cdw_counts",
    "cdw_paircounts",
]


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def parquet_schema(path: str) -> StructType:
    """Spark schema of a parquet file or directory, from the first file's
    footer (metadata only). Handing it to the reader skips Spark's schema
    inference, which runs a one-task job per table. A tz-naive timestamp
    maps to timestamp_ntz, as Spark's own inference maps it."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(
        pq.read_schema(_parquet_files(path)[0]), prefer_timestamp_ntz=True
    )


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory, summed from its footers
    (metadata only, no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def fixture_rows(fixture_dir: str, name: str) -> int:
    """Row count of a fixture table: the size the pipeline's scale gates
    (CC strategy, intermediates) read."""
    return parquet_rows(os.path.join(fixture_dir, f"{name}.parquet"))


def read_fixture(spark: SparkSession, fixture_dir: str, name: str) -> DataFrame:
    path = os.path.join(fixture_dir, f"{name}.parquet")
    return spark.read.schema(parquet_schema(path)).parquet(path)


def read_fixtures(spark: SparkSession, fixture_dir: str) -> dict[str, DataFrame]:
    return {n: read_fixture(spark, fixture_dir, n) for n in FIXTURE_TABLES}
