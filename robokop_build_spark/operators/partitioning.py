"""Input-width helper for CPU-heavy Arrow kernels.

The driver ships each table as ONE parquet file (documents at SF=1 is
5.7 MB), so a 16 MB split target gives the scan a single task — and every
mapInPandas/mapInArrow kernel downstream of it runs on one core of a
32-core host (guide §2.5 input skew / §6 input split size). A round-robin
repartition of a few MB of text is ~free next to the kernel it feeds, so
widening is worth it whenever the input is under-split; on a real cluster
the input is thousands of files and this is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_for_kernel(df: DataFrame) -> DataFrame:
    """Round-robin repartition `df` up to defaultParallelism when its plan
    currently has fewer partitions; no-op otherwise (and for streaming
    inputs, where partition math is per-microbatch)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(par) if cur < par else df
