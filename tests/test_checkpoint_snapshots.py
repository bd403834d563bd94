"""Snapshot isolation for the checkpoint layer — the Iceberg-commit
contract (immutable snapshots, atomic pointer swap, manifest stats,
retention) on plain parquet."""

import os

import pytest

from robokop_build_spark.sources.checkpoint import MARKER, CheckpointManager


@pytest.fixture()
def ckpt(spark, tmp_path):
    return CheckpointManager(spark, str(tmp_path / "wd"))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], ["x"])


def test_snapshot_isolation_for_inflight_readers(spark, ckpt):
    """A reader that resolved the pointer before a re-commit keeps reading
    its snapshot: the new commit writes a NEW directory and only swaps the
    pointer — no file of the old snapshot is rewritten."""
    ckpt.commit("s", _df(spark, [1, 2]))
    old_reader = ckpt.read("s")  # resolves pointer → snap-0
    ckpt.commit("s", _df(spark, [9]))
    assert sorted(r["x"] for r in old_reader.collect()) == [1, 2]
    assert [r["x"] for r in ckpt.read("s").collect()] == [9]


def test_expire_snapshots_retention(spark, ckpt):
    def snap_dirs():
        return sorted(n for n in os.listdir(ckpt.path("s")) if n.startswith("snap-"))

    for vals in ([1], [2], [3], [4]):
        ckpt.commit("s", _df(spark, vals))
    assert snap_dirs() == ["snap-0", "snap-1", "snap-2", "snap-3"]
    assert ckpt.expire_snapshots("s", keep_last=2) == 2
    assert snap_dirs() == ["snap-2", "snap-3"]
    assert ckpt.expire_snapshots("s", keep_last=1) == 1
    assert snap_dirs() == ["snap-3"]
    assert [r["x"] for r in ckpt.read("s").collect()] == [4]
    # current snapshot is never expired, even with keep_last=1 again
    assert ckpt.expire_snapshots("s", keep_last=1) == 0
    # the pointer is the only metadata file beside the snapshot dirs
    assert sorted(os.listdir(ckpt.path("s"))) == [MARKER, "snap-3"]


def test_empty_stage_snapshot_roundtrip(spark, ckpt):
    """Zero-row outputs commit and resume through the recorded schema."""
    empty = spark.createDataFrame([], "x bigint").filter("x > 0")
    ckpt.commit("e", empty)
    out = ckpt.read("e")
    assert out.count() == 0 and out.columns == ["x"]


def test_unnamed_snap_dir_never_half_overwritten(spark, ckpt):
    """Crash between data write and pointer swap: a snap dir exists that
    no pointer names. The next commit must allocate past it."""
    ckpt.commit("s", _df(spark, [1]))  # snap-0
    orphan = os.path.join(ckpt.path("s"), "snap-1")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-orphan.parquet"), "wb") as f:
        f.write(b"not really parquet")
    ckpt.commit("s", _df(spark, [2]))
    assert ckpt._pointer("s")["snapshot"] == 2
    # orphan dir untouched
    assert os.path.exists(os.path.join(orphan, "part-orphan.parquet"))


def test_manifest_stats_in_commit_marker(spark, ckpt):
    """Every commit records manifest-style stats (file/row/byte counts from
    the parquet footers, and per partition directory for a partition_by
    commit) in the pointer, readable through current_meta."""
    ckpt.commit("s", _df(spark, [1, 2, 3]))
    meta = ckpt.current_meta("s")
    assert meta["snapshot"] == 0
    assert meta["n_rows"] == 3
    assert meta["n_files"] >= 1
    assert meta["total_bytes"] > 0
    ckpt.commit("s", _df(spark, [4]), extra_meta={"iteration": 7})
    meta = ckpt.current_meta("s")
    assert (meta["snapshot"], meta["n_rows"], meta["iteration"]) == (1, 1, 7)
    # a partition_by commit rolls the same stats up per partition directory
    ckpt.commit(
        "t",
        spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["pred", "x"]),
        partition_by=["pred"],
    )
    parts = ckpt.current_meta("t")["partitions"]
    assert sorted(parts) == ["pred=a", "pred=b"]
    assert (parts["pred=a"]["n_rows"], parts["pred=b"]["n_rows"]) == (2, 1)


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
