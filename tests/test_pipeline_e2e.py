"""End-to-end flagship pipeline vs the pure-Python golden oracle.

Correctness gate (BASELINE.json): triple precision AND recall ≥ 0.95 vs
golden_triples. We assert exact-set equality where possible and the P/R gate
as the contractual floor."""

import re

import pytest


def _triple_key(t):
    return (t["subj"], t["pred"], t["obj"], t["edge_source"])


def _full_key(t):
    return (
        t["subj"],
        t["pred"],
        t["obj"],
        t["edge_source"],
        tuple(t["publications"]),
        t["input_identifiers"],
    )


def _node_key(n):
    return (
        n["id"],
        n["node_type"],
        n["name"],
        tuple(n["equivalent_identifiers"]),
        tuple((m["curie"], m["label"]) for m in n["mesh_identifiers"]),
        tuple(sorted((n["properties"] or {}).items())),
    )


def _default_key(fixture_dir):
    """query_key of the default DGX build: the suffix of its committed
    triples and nodes stages."""
    from robokop_build_spark.plans.pipeline import DGX_PATH, PipelineConfig

    return PipelineConfig(fixture_dir, "").query_key([DGX_PATH])


@pytest.fixture(scope="session")
def pipeline_out(spark, fixture_dir, tmp_path_factory):
    from robokop_build_spark.plans.pipeline import run_pipeline

    workdir = str(tmp_path_factory.mktemp("pipeline_work"))
    return run_pipeline(spark, fixture_dir, workdir), workdir


def test_triples_pr_gate(pipeline_out, golden):
    out, _ = pipeline_out
    got = {_triple_key(r.asDict()) for r in out["triples"].collect()}
    want = {_triple_key(t) for t in golden["triples"]}
    assert want, "golden must be non-empty"
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.4f} ({len(got)} got)"
    assert recall >= 0.95, f"recall {recall:.4f} ({len(want)} want)"


def test_triples_exact_including_provenance(pipeline_out, golden):
    out, _ = pipeline_out
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    want = {_full_key(t) for t in golden["triples"]}
    assert got == want


def test_nodes_match_golden(pipeline_out, golden):
    out, _ = pipeline_out
    got = {_node_key(r) for r in out["nodes"].collect()}
    want = {_node_key(n) for n in golden["nodes"]}
    assert got == want
    # the fixture must exercise both extras: some node carries a labeled
    # MESH identifier, some disease carries mondo_identifiers
    assert any(k[4] and any(lbl for _, lbl in k[4]) for k in want)
    assert any(k[5] for k in want)


def test_triples_partitioned_by_pred(pipeline_out, fixture_dir):
    import os

    _, workdir = pipeline_out
    # hive-style pred= dirs live inside the stage's current snapshot dir
    stage = os.path.join(workdir, "triples" + _default_key(fixture_dir))
    snaps = sorted(d for d in os.listdir(stage) if d.startswith("snap-"))
    parts = [
        d for d in os.listdir(os.path.join(stage, snaps[-1])) if d.startswith("pred=")
    ]
    assert len(parts) >= 3  # hop1, hop2, support


def test_metrics_lineage_rows(pipeline_out):
    out, _ = pipeline_out
    m = {(r["stage"], r["partition_key"]): r["row_count"] for r in out["metrics"].collect()}
    stages = {s for s, _ in m}
    assert {"mentions", "doc_entities", "triples", "nodes"} <= stages
    assert all(v > 0 for v in m.values())


def test_resume_skips_completed_stages_and_is_identical(
    spark, fixture_dir, pipeline_out, golden
):
    """Kill/resume semantics: wipe a downstream stage marker, rerun, get
    byte-identical triples; upstream stages are not recomputed."""
    import os
    import shutil

    from robokop_build_spark.plans.pipeline import run_pipeline

    _, workdir = pipeline_out
    before = os.path.getmtime(os.path.join(workdir, "mentions", "_STAGE_COMMITTED"))
    # simulate a crash during the concurrent 'triples' and 'nodes' commits
    # (the last committed frontier stages; doc_entities/triples_base/
    # metrics flow uncommitted and are recomputed from the committed
    # frontier)
    key = _default_key(fixture_dir)
    shutil.rmtree(os.path.join(workdir, "triples" + key))
    shutil.rmtree(os.path.join(workdir, "nodes" + key))
    assert not os.path.exists(os.path.join(workdir, "doc_entities"))
    assert not os.path.exists(os.path.join(workdir, "metrics" + key))
    out2 = run_pipeline(spark, fixture_dir, workdir)
    after = os.path.getmtime(os.path.join(workdir, "mentions", "_STAGE_COMMITTED"))
    assert before == after  # mentions stage skipped on resume
    got = {_full_key(r.asDict()) for r in out2["triples"].collect()}
    want = {_full_key(t) for t in golden["triples"]}
    assert got == want
    got_nodes = {
        (r["id"], r["node_type"], r["name"], tuple(r["equivalent_identifiers"]))
        for r in out2["nodes"].collect()
    }
    want_nodes = {
        (n["id"], n["node_type"], n["name"], tuple(n["equivalent_identifiers"]))
        for n in golden["nodes"]
    }
    assert got_nodes == want_nodes


def test_stage_failure_raised_from_run_and_no_stage_thread_survives(
    spark, fixture_dir, golden, tmp_path, monkeypatch
):
    """A failing job in the nodes branch fails run_pipeline with that
    error; the concurrent triples commit completes on its own, and every
    stage thread has ended when run_pipeline returns."""
    import os
    import threading

    from pyspark.sql import functions as F

    from robokop_build_spark.plans import pipeline as P

    enhance_nodes = P.enhance_nodes
    first = min(n["id"] for n in golden["nodes"])

    def failing_enhance_nodes(nodes, label_lookup):
        out = enhance_nodes(nodes, label_lookup)
        bad = F.raise_error(F.concat(F.lit("ForbiddenPrefixError: primary id "), "id"))
        return out.withColumn(
            "id", F.when(F.col("id") == first, bad).otherwise(F.col("id"))
        )

    monkeypatch.setattr(P, "enhance_nodes", failing_enhance_nodes)
    with pytest.raises(Exception, match="ForbiddenPrefixError"):
        P.run_pipeline(spark, fixture_dir, str(tmp_path))
    assert not [
        t for t in threading.enumerate() if t.name.startswith(P.STAGE_THREAD_PREFIX)
    ]
    committed = {
        d.split("@")[0]
        for d in os.listdir(tmp_path)
        if os.path.exists(os.path.join(tmp_path, d, "_STAGE_COMMITTED"))
    }
    assert "triples" in committed and "nodes" not in committed


def test_stage_jobs_carry_the_callers_job_group(spark, fixture_dir, tmp_path):
    """Jobs run on stage threads inherit the caller's local properties, so
    event-log attribution by job group covers the whole build."""
    from robokop_build_spark.plans.pipeline import run_pipeline

    sc = spark.sparkContext
    sc.setJobGroup("kg-build-test", "pipeline under a job group")
    try:
        run_pipeline(spark, fixture_dir, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    grouped = tracker.getJobIdsForGroup("kg-build-test")
    assert grouped
    # job ids grow with submission: no job without a group ran after the
    # build's first one
    assert not [j for j in tracker.getJobIdsForGroup(None) if j > min(grouped)]


def test_start_pubs_one_row_per_rep_so_gate_bounds_merge(
    spark, fixture_dir, pipeline_out, monkeypatch
):
    """The salted publication merge bounds each group by the edge's
    in-degree in edge_starts (start reps per edge, spread over the salts),
    but its buffer holds the rows of ep = start_pubs ⋈ edge_starts per edge
    key. The bound holds because start_pubs has exactly one row per start
    rep (capping must not split a rep), so ep has as many rows per edge as
    edge_starts."""
    from pyspark.sql import functions as F

    from robokop_build_spark import schemas
    from robokop_build_spark.operators.expand import (
        canonicalize_predicate_map,
        program_edge_starts,
        start_publications,
    )
    from robokop_build_spark.plans.pipeline import DGX_PATH
    from robokop_build_spark.sources.readers import read_fixture

    out, _ = pipeline_out
    de, programs = out["doc_entities"], [DGX_PATH]
    monkeypatch.setattr(schemas, "PUBLICATION_CAP", 2)
    start_pubs = start_publications(de, programs)
    reps = de.filter(F.col("node_type") == DGX_PATH[0]).select("rep").distinct()
    assert start_pubs.count() == reps.count() > 0
    assert start_pubs.groupBy("rep").count().filter("count > 1").count() == 0

    pm_rep = canonicalize_predicate_map(
        read_fixture(spark, fixture_dir, "predicate_map"), out["rep_map"]
    )
    es = program_edge_starts(de, pm_rep, programs)
    key = ["subj", "pred", "obj", "edge_source"]
    ep = start_pubs.join(es.select(*key, F.col("start").alias("rep")), "rep")
    indeg = {tuple(r[:4]): r[4] for r in es.groupBy(*key).count().collect()}
    buffer = {tuple(r[:4]): r[4] for r in ep.groupBy(*key).count().collect()}
    assert indeg and buffer == indeg


def test_salted_publication_merge_on_a_hub_edge(spark, monkeypatch):
    """A hub edge reached from 70 start reps, more than the NSALT = 16
    salts: the two-phase publication merge salted by start rep must still
    give every edge the cap smallest of the union of its start reps'
    documents."""
    from robokop_build_spark import schemas
    from robokop_build_spark.operators.expand import (
        aggregate_program_triples,
        program_edge_starts,
    )
    from robokop_build_spark.plans.pipeline import DGX_PATH

    n_starts, cap = 70, 3
    monkeypatch.setattr(schemas, "PUBLICATION_CAP", cap)
    rows = [
        (f"doc{(7 * i + 3 * j) % 101:03d}", f"D:{i:02d}", "disease", f"O:{i}")
        for i in range(n_starts)
        for j in range(4)
    ]
    de = spark.createDataFrame(
        rows, "doc_id string, rep string, node_type string, orig string"
    )
    pm = [
        ("disease", "gene", "op1", "p:rel", f"D:{i:02d}", "G:1", "RO:1", "rel")
        for i in range(n_starts)
    ] + [("gene", "genetic_condition", "op2", "p:causes", "G:1", "X:1", "RO:2", "causes")]
    pm_rep = spark.createDataFrame(
        pm,
        "src_type string, dst_type string, op_name string, pred string, "
        "subj_rep string, obj_rep string, orig_pred_id string, orig_pred_label string",
    )
    es = program_edge_starts(de, pm_rep, [DGX_PATH])
    triples = aggregate_program_triples(de, es, [DGX_PATH])
    plan = triples._jdf.queryExecution().executedPlan().toString()
    # the merge's first phase aggregates per (edge, salt), the second per
    # edge
    assert re.search(
        r"HashAggregate\(keys=\[subj#\d+, pred#\d+, obj#\d+, edge_source#\d+, "
        r"_salt#\d+\]",
        plan,
    )

    docs: dict[str, set] = {}
    for doc_id, rep, _, _ in rows:
        docs.setdefault(rep, set()).add("DOC:" + doc_id)
    got = [(r["subj"], r["obj"], list(r["publications"])) for r in triples.collect()]
    want = {(rep, "G:1"): sorted(d)[:cap] for rep, d in docs.items()}
    want[("G:1", "X:1")] = sorted(set().union(*docs.values()))[:cap]
    assert len(got) == len(want)
    assert {(s, o): p for s, o, p in got} == want
