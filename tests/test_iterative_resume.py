"""Durable-commit resume for the distributed connected-components loop:
kill mid-contraction, relaunch, and the loop must resume from the last
committed round with output hash-identical to an uninterrupted run
(round-5 verdict #3 — on a preemptible cluster localCheckpoint blocks die
with their executor)."""

import os

import pytest

from robokop_build_spark.operators.canonicalize import connected_components
from robokop_build_spark.operators.iterate import LoopCheckpointer
from robokop_build_spark.sources.checkpoint import CheckpointManager


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _two_chains(spark):
    # two chains -> two components
    edges = [(f"x{i}", f"x{i + 1}") for i in range(9)] + [
        (f"y{i}", f"y{i + 1}") for i in range(7)
    ]
    return spark.createDataFrame(edges, ["src", "dst"])


def test_loop_checkpointer_rejects_partial_config(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(ValueError):
        LoopCheckpointer(mgr, stage=None, commit_every=2)
    with pytest.raises(ValueError):
        LoopCheckpointer(mgr, stage="s", commit_every=0)


def test_connected_components_kill_mid_contraction_resumes_and_matches(
    spark, tmp_path
):
    df = _two_chains(spark)  # force the distributed star path below
    want = _rows(connected_components(df, strategy="distributed"))
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(
            df, strategy="distributed", max_iter=1, manager=mgr,
            stage="cc", commit_every=1,
        )
    stats: dict = {}
    got = connected_components(
        df, strategy="distributed", manager=mgr, stage="cc",
        commit_every=1, stats=stats,
    )
    assert stats["resumed_from"] == 1
    assert _rows(got) == want


def test_durable_loop_retention_keeps_bounded_snapshots(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    stats: dict = {}
    connected_components(
        _two_chains(spark), strategy="distributed", manager=mgr, stage="cc",
        commit_every=1, stats=stats,
    )
    assert stats["iterations"] > 2  # more rounds committed than kept
    snap_dirs = [
        d for d in os.listdir(mgr.path("cc")) if d.startswith("snap-")
    ]
    # expire_snapshots(keep_last=2) runs after every commit: at most the
    # two newest rounds' data survives however many rounds the loop took
    assert len(snap_dirs) <= 2


def test_connected_components_refuses_resume_under_different_input(
    spark, tmp_path
):
    """A stage name does not encode the input identity (round-6 advice):
    the committed loop_params (op, input fingerprint) must be validated on
    resume, raising instead of silently contracting the wrong state."""
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(
            _two_chains(spark), strategy="distributed", max_iter=1,
            manager=mgr, stage="cc", commit_every=1,
        )
    other = spark.createDataFrame(
        [("q1", "q2"), ("q2", "q3"), ("q3", "q1"), ("q3", "q4"), ("q4", "q1")],
        ["src", "dst"],
    )
    with pytest.raises(ValueError, match="loop params"):
        connected_components(
            other, strategy="distributed", manager=mgr, stage="cc",
            commit_every=1,
        )


def _triple_keys(out):
    return sorted(
        (
            r["subj"], r["pred"], r["obj"], r["edge_source"],
            r["input_identifiers"], tuple(r["publications"]),
        )
        for r in out["triples"].collect()
    )


def test_pipeline_resumes_mid_cc_with_identical_output(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """Round-6 verdict #7: the KG pipeline's rep_map CC loop is durably
    resumable at the PIPELINE level, not just the operator level. Simulate
    a job preempted mid-contraction: pre-seed a fresh workdir's rep_map_cc
    loop stage with the partial committed round a killed distributed-CC
    run leaves behind (same input edges, the pipeline's stage name), then
    run the full pipeline against that workdir and assert it RESUMED the
    loop (resumed_from >= 1) and emitted triples identical to an
    uninterrupted run. The resume does not depend on the pipeline's commit
    cadence: it restores the last committed round, whatever its index."""
    from robokop_build_spark.plans import pipeline as P
    from robokop_build_spark.sources.readers import read_fixtures

    # every alias count is past the threshold: the distributed CC runs
    monkeypatch.setattr(P, "LOCAL_CC_MAX_ALIASES", 0)
    want = _triple_keys(P.run_pipeline(spark, fixture_dir, str(tmp_path / "w1")))

    w2 = str(tmp_path / "w2")
    mgr = CheckpointManager(spark, w2)
    norm = read_fixtures(spark, fixture_dir)["normalization"]
    # max_iter=1 can never observe the fingerprint fixpoint (needs two
    # matching rounds), so this always dies after committing round 0 —
    # exactly a preemption one round into contraction
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(
            norm, src="alias", dst="canonical", strategy="distributed",
            max_iter=1, manager=mgr, stage="rep_map_cc", commit_every=1,
        )
    assert mgr.current_meta("rep_map_cc")["iteration"] == 0

    pipe = P.KGPipeline(spark, P.PipelineConfig(fixture_dir, w2))
    got = _triple_keys(pipe.run())
    assert pipe.cc_stats.get("resumed_from") == 1
    assert got == want
