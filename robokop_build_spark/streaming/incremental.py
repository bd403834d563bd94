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


# sentinel id_a marking a bucket whose state hit max_bucket_ids (see
# streaming_lsh_candidates docstring); "\x00" can never be a document id
# from the parquet corpus
TRIM_SENTINEL = "\x00__BUCKET_TRIMMED__"


def streaming_lsh_candidates(
    stream_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    state_ttl_ms: int | None = None,
    max_bucket_ids: int | None = 1024,
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
    construction). State is bounded two ways: an optional processing-time
    TTL drops buckets idle past state_ttl_ms (candidates then only form
    within the TTL horizon — the streaming analog of a dedup window), and
    max_bucket_ids caps any one bucket (hot-bucket skew guard; the batch op
    bounds the same risk with adaptive band width). State survives restarts
    through the query's checkpointLocation like any stateful streaming op.

    Trimming is NOT silent: whenever the cap drops ids from a bucket, the
    operator emits a sentinel row (id_a = TRIM_SENTINEL, id_b =
    "<band>|<bkey>"), because a trimmed bucket both misses candidate pairs
    and can re-emit a pair if a trimmed id re-arrives. Exactness-gated
    callers either pass max_bucket_ids=None (unbounded state — what the
    oracle-compared batch-parity wrapper does) or assert no sentinel rows
    came out; throughput-oriented deployments keep the cap and route
    sentinel buckets to a slow exact path.

    state_ttl_ms applies to CONTINUOUSLY-running queries. Leave it None for
    Trigger.AvailableNow drains: registered processing-time timeouts keep
    the drain loop scheduling micro-batches until they fire (measured: a
    one-file drain spun hundreds of empty batches waiting out a 1h TTL), so
    a batch-style drain should bound state with max_bucket_ids only.

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

    def emit(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
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
        merged = seen + new_ids
        if max_bucket_ids is not None and len(merged) > max_bucket_ids:
            merged = merged[-max_bucket_ids:]
            # cap hit: make it observable to the caller (see docstring)
            pairs_a.append(TRIM_SENTINEL)
            pairs_b.append(f"{key[0]}|{key[1]}")
        state.update((merged,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if pairs_a:
            yield pd.DataFrame({"id_a": pairs_a, "id_b": pairs_b})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band", "bkey").applyInPandasWithState(
        emit,
        outputStructType="id_a string, id_b string",
        stateStructType="ids array<string>",
        outputMode="append",
        timeoutConf=timeout,
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
