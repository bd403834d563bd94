"""Source readers: fixture parquet tables + the reference's flat-file
formats (CDW pipe/tab files, query lists) re-expressed as spark.read.csv.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def read_cdw_counts_csv(spark: SparkSession, path: str) -> DataFrame:
    """Pipe-delimited `code|count` with header (builder/cdw.py:39-46,
    SURVEY.md S8)."""
    df = spark.read.csv(path, sep="|", header=True)
    code, cnt = df.columns[0], df.columns[1]
    return df.select(
        F.col(code).alias("icd9"), F.col(cnt).cast("long").alias("count")
    )


def read_cdw_paircounts_csv(spark: SparkSession, path: str) -> DataFrame:
    """Tab-delimited, positional columns x[3]=c1, x[4]=c2, x[6]=c, x[9]=p
    (builder/cdw.py:48-62, SURVEY.md S9)."""
    df = spark.read.csv(path, sep="\t", header=False)
    c = df.columns
    return df.select(
        F.col(c[1]).alias("icd9_a"),
        F.col(c[2]).alias("icd9_b"),
        F.col(c[3]).cast("long").alias("c1"),
        F.col(c[4]).cast("long").alias("c2"),
        F.col(c[6]).cast("long").alias("c"),
        F.col(c[9]).cast("double").alias("p"),
    )


def read_seed_list(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited seed name list (builder/q1-disease-list.txt,
    SURVEY.md S11)."""
    return spark.read.text(path).select(F.trim("value").alias("name")).filter(
        F.col("name") != ""
    )
