"""Bucketed-table layout: pre-shuffled, co-located storage for the joins a
pipeline repeats every run.

At 100 TB the dominant cost of a fact-fact join (orders ⋈ lineitem,
doc_chunks ⋈ doc_scores) is the shuffle of both sides on the join key —
paid again on every query. Writing both tables `bucketBy(N, key)` +
`sortBy(key)` pays that shuffle ONCE at ingest: each bucket file holds one
hash slice of the key space, already sorted, so Catalyst plans the join
with ZERO Exchange on either side — the output-partitioning metadata
substitutes for the runtime shuffle (a cheap within-partition Sort
remains: Spark only consumes the sortBy ordering with one file per bucket
and spark.sql.legacy.bucketedTableScan.outputOrdering; the network-cost
Exchange is what the layout removes).
This is Spark's native answer to the reference engine's indexed lookups
(plan-asserted in tests/test_bucketed.py; the reference has no storage
layout concept at all — its graph lives in one process's heap,
/root/reference/builder/builder.py:104).

Bucketed tables require the table catalog (`saveAsTable`); data lands at
an explicit external `path`, so the catalog entry is per-session metadata
while the bytes are durable parquet. Bucket count is a layout contract:
both join sides must agree (or be integer multiples under
spark.sql.bucketing.coalesceBucketsInJoin.enabled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    num_buckets: int = 8,
) -> None:
    """Write df as an external bucketed table, sorted per bucket (overwrite)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = df.write.bucketBy(num_buckets, bucket_col).sortBy(bucket_col)
    w.option("path", path).mode("overwrite").saveAsTable(name)


def ensure_bucketed_pair(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    base_path: str,
    left_key: str,
    right_key: str,
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Write (once per session) two tables bucketed on their join keys and
    return catalog-backed DataFrames whose join needs no shuffle."""
    if not spark.catalog.tableExists(left_name):
        write_bucketed(left, left_name, f"{base_path}/{left_name}", left_key, num_buckets)
    if not spark.catalog.tableExists(right_name):
        write_bucketed(right, right_name, f"{base_path}/{right_name}", right_key, num_buckets)
    return spark.table(left_name), spark.table(right_name)
