"""Snapshot isolation + time travel for the checkpoint layer — the
Iceberg-commit contract (immutable snapshots, atomic pointer swap,
read-at-snapshot, retention) on plain parquet. Closes the round-3
'snapshot isolation/time-travel semantics unexercised' gap."""

import json
import os

import pytest

from robokop_build_spark.sources.checkpoint import MARKER, CheckpointManager


@pytest.fixture()
def ckpt(spark, tmp_path):
    return CheckpointManager(spark, str(tmp_path / "wd"))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], ["x"])


def test_commit_and_time_travel(spark, ckpt):
    ckpt.commit("s", _df(spark, [1, 2]))
    ckpt.run_stage("s", lambda: _df(spark, [3, 4]), force=True)
    assert sorted(r["x"] for r in ckpt.read("s").collect()) == [3, 4]
    # time travel to the first commit
    assert sorted(r["x"] for r in ckpt.read("s", snapshot_id=0).collect()) == [1, 2]
    hist = ckpt.snapshots("s")
    assert [m["snapshot"] for m in hist] == [0, 1]
    assert all("schema" in m and m["ts"] > 0 for m in hist)


def test_snapshot_isolation_for_inflight_readers(spark, ckpt):
    """A reader that resolved the pointer before a re-commit keeps reading
    its snapshot: the new commit writes a NEW directory and only swaps the
    pointer — no file of the old snapshot is rewritten."""
    ckpt.commit("s", _df(spark, [1, 2]))
    old_reader = ckpt.read("s")  # resolves pointer → snap-0
    ckpt.commit("s", _df(spark, [9]))
    assert sorted(r["x"] for r in old_reader.collect()) == [1, 2]
    assert [r["x"] for r in ckpt.read("s").collect()] == [9]


def test_resume_skips_and_force_creates_new_snapshot(spark, ckpt):
    calls = []

    def compute():
        calls.append(1)
        return _df(spark, [7])

    ckpt.run_stage("s", compute)
    ckpt.run_stage("s", compute)  # resume: skipped
    assert len(calls) == 1
    ckpt.run_stage("s", compute, force=True)
    assert len(calls) == 2
    assert [m["snapshot"] for m in ckpt.snapshots("s")] == [0, 1]


def test_expire_snapshots_retention(spark, ckpt):
    for vals in ([1], [2], [3]):
        ckpt.commit("s", _df(spark, vals))
    assert ckpt.expire_snapshots("s", keep_last=1) == 2
    assert [r["x"] for r in ckpt.read("s").collect()] == [3]
    with pytest.raises(FileNotFoundError):
        ckpt.read("s", snapshot_id=0)
    # history rows survive expiry (audit trail), data is gone
    assert [m["snapshot"] for m in ckpt.snapshots("s")] == [0, 1, 2]
    # current snapshot is never expired, even with keep_last=1 again
    assert ckpt.expire_snapshots("s", keep_last=1) == 0


def test_legacy_layout_still_readable(spark, ckpt):
    """Pre-snapshot workdirs (data at stage root, marker without a
    'snapshot' field) must keep resuming byte-identically."""
    df = _df(spark, [5, 6])
    p = ckpt.path("legacy")
    df.write.mode("overwrite").parquet(p)
    with open(os.path.join(p, MARKER), "w") as f:
        json.dump({"stage": "legacy", "schema": df.schema.json()}, f)
    assert ckpt.is_done("legacy")
    assert sorted(r["x"] for r in ckpt.read("legacy").collect()) == [5, 6]


def test_empty_stage_snapshot_roundtrip(spark, ckpt):
    """Zero-row outputs commit and resume through the recorded schema."""
    empty = spark.createDataFrame([], "x bigint").filter("x > 0")
    ckpt.commit("e", empty)
    out = ckpt.read("e")
    assert out.count() == 0 and out.columns == ["x"]


def test_orphaned_history_row_never_reused(spark, ckpt):
    """Crash window: history row appended but pointer swap never happened.
    The next commit must allocate PAST the orphan's id (never half-
    overwrite it), and time travel to a duplicated id resolves newest-first."""
    import json as _json

    ckpt.commit("s", _df(spark, [1]))  # snap-0, pointer → 0
    # simulate the crashed commit: orphan history row for snap-1, no pointer
    with open(os.path.join(ckpt.path("s"), "_snapshots.jsonl"), "a") as f:
        f.write(_json.dumps({"stage": "s", "snapshot": 1, "ts": 0}) + "\n")
    ckpt.commit("s", _df(spark, [2]))  # must become snap-2, not reuse 1
    assert ckpt._pointer("s")["snapshot"] == 2
    assert [r["x"] for r in ckpt.read("s").collect()] == [2]
    assert [r["x"] for r in ckpt.read("s", snapshot_id=0).collect()] == [1]


def test_torn_history_line_is_skipped_not_fatal(spark, ckpt):
    """Crash mid-append to _snapshots.jsonl leaves a half-written trailing
    line. snapshots() must skip it (not raise JSONDecodeError), and the next
    commit must still allocate a fresh id — the stage stays writable."""
    ckpt.commit("s", _df(spark, [1]))
    with open(os.path.join(ckpt.path("s"), "_snapshots.jsonl"), "a") as f:
        f.write('{"stage": "s", "snapshot": 1, "ts"')  # torn mid-append
    assert [m["snapshot"] for m in ckpt.snapshots("s")] == [0]
    ckpt.commit("s", _df(spark, [2]))  # must not raise, must not reuse ids
    assert ckpt._pointer("s")["snapshot"] >= 1
    assert [r["x"] for r in ckpt.read("s").collect()] == [2]


def test_unnamed_snap_dir_never_half_overwritten(spark, ckpt):
    """Crash between data write and history append: a snap dir exists that
    no metadata names. The next commit must allocate past it."""
    ckpt.commit("s", _df(spark, [1]))  # snap-0
    orphan = os.path.join(ckpt.path("s"), "snap-1")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-orphan.parquet"), "wb") as f:
        f.write(b"not really parquet")
    ckpt.commit("s", _df(spark, [2]))
    assert ckpt._pointer("s")["snapshot"] == 2
    # orphan dir untouched
    assert os.path.exists(os.path.join(orphan, "part-orphan.parquet"))


def test_legacy_layout_migrates_on_first_recommit(spark, ckpt):
    """Re-committing over a legacy-root-layout stage must first migrate the
    legacy part-files into snap-0: afterwards no data file sits at the stage
    root, the old data stays time-travelable as snapshot 0, and
    expire_snapshots can reclaim it."""
    df = _df(spark, [5, 6])
    p = ckpt.path("legacy")
    df.write.mode("overwrite").parquet(p)
    with open(os.path.join(p, MARKER), "w") as f:
        json.dump({"stage": "legacy", "schema": df.schema.json()}, f)
    ckpt.commit("legacy", _df(spark, [7]))  # snap-1 after migration
    root_files = [
        n for n in os.listdir(p)
        if not n.startswith("snap-") and n not in (MARKER, "_snapshots.jsonl")
    ]
    assert root_files == [], root_files  # no stray legacy data at the root
    assert [r["x"] for r in ckpt.read("legacy").collect()] == [7]
    assert sorted(
        r["x"] for r in ckpt.read("legacy", snapshot_id=0).collect()
    ) == [5, 6]
    # retention now reclaims the superseded legacy files too
    assert ckpt.expire_snapshots("legacy", keep_last=1) == 1
    assert not os.path.isdir(os.path.join(p, "snap-0"))


def test_manifest_stats_in_commit_marker(spark, ckpt):
    """Every commit records manifest-style stats (file/row/byte counts from
    the parquet footers) so snapshots() doubles as a lineage/size audit."""
    ckpt.commit("s", _df(spark, [1, 2, 3]))
    (meta,) = ckpt.snapshots("s")
    assert meta["n_rows"] == 3
    assert meta["n_files"] >= 1
    assert meta["total_bytes"] > 0
    assert ckpt._pointer("s")["n_rows"] == 3


# ---------------------------------------------------------------------------
# manifest-planned reads: the stats in the commit marker drive the scan, not
# directory listings (the Iceberg scan-planning half)
# ---------------------------------------------------------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, ["pred", "x"])


def test_zero_row_snapshot_reads_as_local_relation(spark, ckpt):
    """n_rows == 0 in the manifest short-circuits to an empty local frame:
    no directory listing, no FileScan in the plan, no Spark job."""
    import pyspark.sql.functions as F

    empty = _df(spark, [1]).filter(F.col("x") > 99)
    out = ckpt.commit("e", empty)
    assert ckpt.current_meta("e")["n_rows"] == 0
    df = ckpt.read("e")
    assert df.schema == empty.schema and df.count() == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert out.count() == 0  # commit() itself returns the planned read


def test_partition_scoped_read_plans_from_manifest_not_listing(spark, ckpt):
    df = _pdf(spark, [("a", 1), ("a", 2), ("b", 3)])
    ckpt.commit("t", df, partition_by=["pred"])
    meta = ckpt.current_meta("t")
    assert meta["partitions"]["pred=a"]["n_rows"] == 2
    assert meta["partitions"]["pred=b"]["n_rows"] == 1

    # plant a DECOY partition dir inside the snapshot: a listing-based
    # reader would pick it up; the manifest-planned one must not
    snap = os.path.join(ckpt.path("t"), f"snap-{meta['snapshot']}")
    decoy = os.path.join(snap, "pred=zzz")
    os.makedirs(decoy)
    _pdf(spark, [("zzz", 99)]).drop("pred").write.parquet(
        os.path.join(decoy, "junk")
    )

    got = ckpt.read("t", partitions=["pred=a", "pred=zzz"])
    assert sorted((r["pred"], r["x"]) for r in got.collect()) == [
        ("a", 1), ("a", 2),
    ]
    # fully-pruned selection: every requested dir absent from the manifest
    none = ckpt.read("t", partitions=["pred=zzz"])
    assert none.count() == 0
    assert set(none.columns) == {"pred", "x"}
    plan = none._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan


def test_partition_read_on_unpartitioned_stage_raises(spark, ckpt):
    ckpt.commit("u", _df(spark, [1]))
    with pytest.raises(ValueError, match="partition manifest"):
        ckpt.read("u", partitions=["pred=a"])


def test_partition_prefix_matches_multi_level_layout(spark, ckpt):
    """A single-level selector over a two-column partition layout must
    match by prefix ('a=1' → 'a=1/b=2'), not return silent zero rows."""
    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 3)], ["a", "b", "v"]
    )
    ckpt.commit("m", df, partition_by=["a", "b"])
    got = ckpt.read("m", partitions=["a=x"])
    assert sorted(r["v"] for r in got.collect()) == [1, 2]
    exactly = ckpt.read("m", partitions=["a=x/b=q"])
    assert [r["v"] for r in exactly.collect()] == [2]


def test_legacy_buried_torn_line_repaired_at_commit(spark, ckpt):
    """A torn history line buried mid-file by a pre-round-6 append (old
    code tolerated torn lines anywhere) must not make the stage
    permanently unwritable: the next commit repairs it, preserving the
    original file for audit; read-only snapshots() still raises first."""
    ckpt.commit("lg", _df(spark, [1]))
    ckpt.commit("lg", _df(spark, [2]))
    hist = os.path.join(ckpt.path("lg"), "_snapshots.jsonl")
    lines = open(hist).read().splitlines()
    lines.insert(1, '{"stage": "lg", "snapsho')  # buried torn line
    open(hist, "w").write("\n".join(lines) + "\n")
    with pytest.raises(ValueError, match="corrupt snapshot history"):
        ckpt.snapshots("lg")
    ckpt.commit("lg", _df(spark, [3]))  # repairs, then commits
    assert [m["snapshot"] for m in ckpt.snapshots("lg")] == [0, 1, 2]
    assert sorted(r["x"] for r in ckpt.read("lg").collect()) == [3]
    assert os.path.exists(hist + ".corrupt-0")  # audit trail preserved
