"""The stateful streaming operators: state carried across availableNow
drains (through the stream checkpoint) reproduces the batch operator."""

import os
import shutil


def test_streaming_lsh_candidates_stateful_cross_batch(spark, tmp_path):
    """The applyInPandasWithState LSH detector must (a) emit each candidate
    pair exactly when its second member arrives, (b) carry per-bucket state
    ACROSS availableNow drains via the checkpoint, and (c) reproduce the
    batch self-join's candidate set (as unordered pairs)."""
    from robokop_build_spark.operators.dedup import minhash_lsh_pairs
    from robokop_build_spark.streaming.incremental import streaming_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").cache()
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)

    half = docs.filter("doc_id < 250")
    rest = docs.filter("doc_id >= 250")

    def drop(df, tag):
        d = str(tmp_path / f"chunk_{tag}")
        df.write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f), os.path.join(in_dir, f"{tag}_{f}"))

    def drain():
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        out = streaming_lsh_candidates(stream, num_hashes=16, bands=8)
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drop(half, "a")
    drain()
    got1 = {
        frozenset((r["id_a"], r["id_b"]))
        for r in spark.read.parquet(out_dir).collect()
    }
    want1 = {
        frozenset((str(r["id_a"]), str(r["id_b"])))
        for r in minhash_lsh_pairs(half, num_hashes=16, bands=8).collect()
    }
    assert got1 == want1 and got1

    drop(rest, "b")
    drain()
    got2 = {
        frozenset((r["id_a"], r["id_b"]))
        for r in spark.read.parquet(out_dir).collect()
    }
    want2 = {
        frozenset((str(r["id_a"]), str(r["id_b"])))
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert got2 == want2
    # cross-batch pairs exist: state genuinely survived the first drain
    cross = {
        p for p in got2
        if len({int(x) < 250 for x in p}) == 2
    }
    assert cross


def test_streaming_lsh_trim_sentinel(spark, tmp_path):
    """max_bucket_ids trimming is observable: a bucket whose state hits the
    cap emits a TRIM_SENTINEL row (a trimmed bucket silently misses /
    re-emits pairs, so exactness-gated callers must be able to detect it);
    with max_bucket_ids=None no sentinel can appear."""
    from robokop_build_spark.streaming.incremental import (
        TRIM_SENTINEL,
        streaming_lsh_candidates,
    )

    # 6 identical docs: every (band, bkey) bucket collects all 6 ids
    rows = [(str(i), "alpha beta gamma delta epsilon zeta eta") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    in_dir = str(tmp_path / "in")
    docs.write.mode("overwrite").parquet(in_dir)

    def drain(tag, cap):
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        q = (
            streaming_lsh_candidates(
                stream, num_hashes=16, bands=8, max_bucket_ids=cap
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema("id_a string, id_b string").parquet(
            str(tmp_path / f"out_{tag}")
        )

    capped = drain("capped", 3)
    sentinels = capped.filter(capped.id_a == TRIM_SENTINEL).collect()
    assert sentinels, "cap was hit but no sentinel emitted"
    assert all("|" in r["id_b"] for r in sentinels)  # names the bucket

    uncapped = drain("uncapped", None)
    assert uncapped.filter(uncapped.id_a == TRIM_SENTINEL).count() == 0
    # unbounded state ⇒ exact pair multiset: C(6,2)=15 distinct pairs
    assert (
        uncapped.select("id_a", "id_b").distinct().count() == 15
    )


def test_streaming_sessions_merge_across_batches(spark, tmp_path):
    """A session whose events arrive in DIFFERENT micro-batches must come
    out as ONE session (the state-store merge), and the rollup must equal
    the batch sessionize on the same data."""
    import datetime as dt

    from pyspark.sql import functions as F

    from robokop_build_spark.operators.events import sessionize
    from robokop_build_spark.streaming.incremental import streaming_sessions

    def t(minute):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)

    # file 0: first half of a session + a lone old event; file 1 (a later
    # micro-batch): the second half of the same session, within the gap
    part0 = [(1, 7, t(0)), (2, 7, t(10))]
    part1 = [(3, 7, t(25)), (4, 7, t(70)), (5, 8, t(0))]
    schema = "event_id long, user_id long, ts timestamp"
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(part0, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)
    spark.createDataFrame(part1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_sessions(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda df, _b: df.write.mode("overwrite").parquet(out_dir)
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2, "drain must span multiple micro-batches"

    got = sorted(
        (r["user_id"], r["n_events"], r["start_us"], r["end_us"])
        for r in spark.read.parquet(out_dir).collect()
    )
    batch = sorted(
        (r["user_id"], r["n_events"], r["start_us"], r["end_us"])
        for r in sessionize(
            spark.createDataFrame(part0 + part1, schema)
        ).collect()
    )
    assert got == batch
    # events 1,2 (batch 0) and 3 (batch 1) merged into one 3-event session
    assert (7, 3) in {(u, n) for u, n, _, _ in got}
