"""Stateful Structured Streaming operators.

The reference is strictly batch (SURVEY.md §2.9: no streaming anywhere in
the tree), and the KG build itself stays batch with Iceberg-style
checkpoints. The two operators here are the streaming twins of batch doc-
and event-table operators, and each backs a declared query that drains a
file stream and is hash-checked against its batch operator's DuckDB twin:
MinHash-LSH candidate detection with per-bucket state
(`streaming_lsh_candidates`) and session rollup with session_window state
(`streaming_sessions`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def streaming_lsh_candidates(
    stream_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate detection — the custom
    stateful operator Structured Streaming cannot express with built-ins
    (stream-stream self-join on band keys would need unbounded state on
    BOTH sides and re-emit old×old pairs every batch).

    applyInPandasWithState keyed by (band, bkey): per-bucket state holds the
    doc ids seen so far; each micro-batch emits exactly the NEW candidate
    pairs (new×seen + new×new), so a pair is emitted when its second member
    arrives — the incremental twin of the batch self-join, sharing the
    identical banding projection (operators/dedup._banded_keys, parity by
    construction). State is unbounded — every id a bucket has seen stays —
    so the emitted pairs are exact: the declared query drains a file
    stream with Trigger.AvailableNow and is hash-compared against the batch
    self-join's DuckDB twin. A bucket's state grows with the bucket, so the
    caller sizes the band width from the corpus
    (dedup.auto_minhash_rows_per_band), as the batch op does, to keep
    buckets small. State survives restarts through the query's
    checkpointLocation like any stateful streaming op.

    Output (id_a string, id_b string) is a candidate MULTISET — a pair
    sharing several band keys emits once per bucket (the batch op's
    .distinct() has no bounded-state streaming equivalent); downstream
    exact-Jaccard verification (lsh_verified_near_duplicates' verify stage)
    is idempotent per pair, so duplicates cost only repeated verify work.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import _banded_keys, _shingle_arrays

    sh = _shingle_arrays(stream_docs, id_col, text_col, k)
    banded = _banded_keys(sh, num_hashes, bands).select(
        F.col("id").cast("string").alias("id"), "band", "bkey"
    )

    def emit(_key, pdfs, state):
        import pandas as pd

        seen = list(state.get[0]) if state.exists else []
        new_ids: list[str] = []
        seen_set = set(seen)
        for pdf in pdfs:
            for i in pdf["id"]:
                if i not in seen_set:
                    seen_set.add(i)
                    new_ids.append(i)
        pairs_a: list[str] = []
        pairs_b: list[str] = []
        for j, nid in enumerate(new_ids):
            for s in seen:
                a, b = (s, nid) if s < nid else (nid, s)
                pairs_a.append(a)
                pairs_b.append(b)
            for prev in new_ids[:j]:
                a, b = (prev, nid) if prev < nid else (nid, prev)
                pairs_a.append(a)
                pairs_b.append(b)
        state.update((seen + new_ids,))
        if pairs_a:
            yield pd.DataFrame({"id_a": pairs_a, "id_b": pairs_b})

    return banded.groupBy("band", "bkey").applyInPandasWithState(
        emit,
        outputStructType="id_a string, id_b string",
        stateStructType="ids array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessions(
    events_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Stateful session rollup on a live event stream via Spark's native
    session_window aggregation — the streaming twin of
    operators/events.sessionize (same 30-min-gap semantics on continuous
    event times; both close a session on the `>= gap` boundary — the batch
    op was aligned to session_window's rule so an event landing exactly at
    the gap can never hash-diverge the two). Sessions that span
    micro-batches are
    merged by the streaming state store — that cross-batch merge is
    exactly what the exactness gate exercises.

    Caller picks the sink/output mode: production uses append + a
    watermark (bounded state, sessions finalize when the watermark passes
    their close); an exactness-gated drain uses complete mode +
    foreachBatch overwrite, since append would hold the final sessions
    hostage to a watermark that never advances after the last file.
    """
    from pyspark.sql import functions as F

    ts = F.col(ts_col).cast("timestamp")
    return events_stream.groupBy(
        F.col(key_col),
        F.session_window(ts, gap).alias("sw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros(ts)).alias("start_us"),
        F.max(F.unix_micros(ts)).alias("end_us"),
    )
