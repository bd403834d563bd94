"""Durable-commit resume for the iterative fixpoint loops (pagerank,
k_core, core_number, connected_components): kill mid-iteration, relaunch,
and the loop must resume from the last committed round with output
hash-identical to an uninterrupted run (round-5 verdict #3 — on a
preemptible cluster localCheckpoint blocks die with their executor)."""

import pytest

from robokop_build_spark.operators.canonicalize import connected_components
from robokop_build_spark.operators.graph import core_number, k_core, pagerank
from robokop_build_spark.operators.iterate import LoopCheckpointer
from robokop_build_spark.sources.checkpoint import CheckpointManager


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _path_edges(spark, n=14):
    return spark.createDataFrame(
        [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(n)], ["src", "dst"]
    )


def test_loop_checkpointer_rejects_partial_config(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(ValueError):
        LoopCheckpointer(mgr, stage=None, commit_every=2)
    with pytest.raises(ValueError):
        LoopCheckpointer(mgr, stage="s", commit_every=0)


def test_pagerank_resumes_from_last_committed_iteration(spark, tmp_path):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        ["src", "dst"],
    )
    want = _rows(pagerank(edges, iterations=6))

    mgr = CheckpointManager(spark, str(tmp_path))
    # "kill" after 4 of 6 rounds: run a 4-iteration job that commits at
    # rounds 1 and 3, exactly the on-disk state a preempted 6-round job
    # leaves behind
    pagerank(edges, iterations=4, manager=mgr, stage="pr", commit_every=2)
    assert mgr.current_meta("pr")["iteration"] == 3

    stats: dict = {}
    got = pagerank(
        edges, iterations=6, manager=mgr, stage="pr", commit_every=2,
        stats=stats,
    )
    assert stats["resumed_from"] == 4 and stats["rounds_run"] == 2
    assert _rows(got) == want


def test_pagerank_resume_past_target_iterations_runs_zero_rounds(
    spark, tmp_path
):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    mgr = CheckpointManager(spark, str(tmp_path))
    pagerank(edges, iterations=4, manager=mgr, stage="pr", commit_every=4)
    stats: dict = {}
    got = pagerank(
        edges, iterations=4, manager=mgr, stage="pr", commit_every=4,
        stats=stats,
    )
    assert stats["rounds_run"] == 0
    assert _rows(got) == _rows(pagerank(edges, iterations=4))


def test_k_core_kill_mid_peel_resumes_and_matches(spark, tmp_path):
    edges = _path_edges(spark)  # k=2 core is empty; peels one layer/round
    want = _rows(k_core(edges, k=2))
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(edges, k=2, max_iter=4, manager=mgr, stage="kc", commit_every=2)
    assert mgr.current_meta("kc")["iteration"] == 3
    stats: dict = {}
    got = k_core(
        edges, k=2, manager=mgr, stage="kc", commit_every=2, stats=stats
    )
    assert stats["resumed_from"] == 4
    assert _rows(got) == want


def test_core_number_kill_mid_propagation_resumes_and_matches(spark, tmp_path):
    edges = _path_edges(spark)  # estimates tighten inward from the ends
    want = _rows(core_number(edges))
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="did not converge"):
        core_number(edges, max_iter=3, manager=mgr, stage="cn", commit_every=2)
    assert mgr.current_meta("cn")["iteration"] == 1
    stats: dict = {}
    got = core_number(
        edges, manager=mgr, stage="cn", commit_every=2, stats=stats
    )
    assert stats["resumed_from"] == 2
    assert _rows(got) == want


def test_connected_components_kill_mid_contraction_resumes_and_matches(
    spark, tmp_path
):
    # two chains -> two components; force the distributed star path
    edges = [(f"x{i}", f"x{i + 1}") for i in range(9)] + [
        (f"y{i}", f"y{i + 1}") for i in range(7)
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
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
    edges = _path_edges(spark)
    mgr = CheckpointManager(spark, str(tmp_path))
    import os

    k_core(edges, k=2, manager=mgr, stage="kc", commit_every=1)
    snap_dirs = [
        d for d in os.listdir(mgr.path("kc")) if d.startswith("snap-")
    ]
    # expire_snapshots(keep_last=2) runs after every commit: at most the
    # two newest rounds' data survives however many rounds the peel took
    assert len(snap_dirs) <= 2


def test_k_core_refuses_resume_under_different_k_or_input(spark, tmp_path):
    """Default stage names encode neither operator args nor input identity
    (round-6 advice): the committed loop_params (op, k, input fingerprint)
    must be validated on resume, raising instead of silently contracting
    the wrong state."""
    edges = _path_edges(spark)
    mgr = CheckpointManager(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(edges, k=2, max_iter=4, manager=mgr, stage="kc", commit_every=2)
    with pytest.raises(ValueError, match="loop params"):
        k_core(edges, k=3, manager=mgr, stage="kc", commit_every=2)
    other = spark.createDataFrame(
        [("q1", "q2"), ("q2", "q3"), ("q3", "q1"), ("q3", "q4"), ("q4", "q1")],
        ["src", "dst"],
    )
    with pytest.raises(ValueError, match="loop params"):
        k_core(other, k=2, manager=mgr, stage="kc", commit_every=2)


def test_pagerank_refuses_resume_under_different_damping(spark, tmp_path):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    mgr = CheckpointManager(spark, str(tmp_path))
    pagerank(edges, iterations=4, manager=mgr, stage="pr", commit_every=2)
    with pytest.raises(ValueError, match="loop params"):
        pagerank(
            edges, iterations=6, damping=0.5, manager=mgr, stage="pr",
            commit_every=2,
        )


def test_pagerank_refuses_checkpoint_past_requested_iterations(
    spark, tmp_path
):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    mgr = CheckpointManager(spark, str(tmp_path))
    pagerank(edges, iterations=6, manager=mgr, stage="pr", commit_every=3)
    with pytest.raises(ValueError, match="past the requested"):
        pagerank(edges, iterations=3, manager=mgr, stage="pr", commit_every=3)


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
