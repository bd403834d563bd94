"""Registry for operator-internal persisted DataFrames.

A few operators persist an intermediate that several plan branches read,
so the DAG under it runs once instead of once per branch. Those persists
must outlive the operator call (the caller runs the action later), so the
operator cannot unpersist them itself; without a hook they accumulate for
the life of the SparkSession — dozens of queries in one bench loop pressure
memory and disk for later queries.

Who still registers, and why:
- similarity.embedding_near_duplicates and similarity.semantic_dedup: the
  signature table both sides of the bucket/cell self-join read
  (plan-tested). A per-bucket grouped kernel in their place measured
  slower on the many tiny groups of the near-dup query.
- dedup.lsh_verified_near_duplicates: the shingle arrays feed both the
  LSH candidate pass and the exact-Jaccard verify side.
- graph triangle counting: the oriented edge table, read three times.
- canonicalize.connected_components: the distinct edge set, read by up to
  three actions.

The dedup pair operators (ngram_jaccard_pairs, minhash_lsh_pairs via
_lsh_candidate_pairs, cross_doc_spans) shuffle once on their pairing key
and emit from that grouped pass, so they persist nothing.

Operators register their persisted blocks here; long-running loops call
`release_operator_caches()` between queries (bench.py does, on top of
`spark.catalog.clearCache()`)."""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def register_persisted(df: DataFrame) -> DataFrame:
    """Record an operator-persisted DataFrame for later release."""
    _PERSISTED.append(df)
    return df


def release_operator_caches() -> int:
    """Unpersist every registered block; returns how many were released.
    Safe to call with a stopped session (errors are swallowed — the JVM
    already dropped the blocks)."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
