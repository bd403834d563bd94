"""Connected-components (large-star/small-star) unit tests: chains, rings,
hubs, long chains — deterministic min representative at any parallelism
(reference analog: KnowledgeGraph.merge, builder/builder.py:136-167)."""

import pytest

from robokop_build_spark.operators import canonicalize as C
from robokop_build_spark.operators.canonicalize import (
    canonical_map,
    connected_components,
    resolve_aliases,
)

cc_strategies = pytest.mark.parametrize("strategy", ["local", "distributed"])


@pytest.fixture
def cc_path(strategy, monkeypatch):
    """Pins the size gate so the parametrized CC path runs: every edge
    count, zero included, is past -1; these inputs are far below the
    default gate."""
    if strategy == "distributed":
        monkeypatch.setattr(C, "LOCAL_CC_MAX_ALIASES", -1)
    return strategy


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {r["curie"]: r["rep"] for r in connected_components(df).collect()}


@cc_strategies
def test_chain(spark, cc_path):
    got = _cc(spark, [("B", "C"), ("C", "D"), ("A", "B")])
    assert got == {"A": "A", "B": "A", "C": "A", "D": "A"}


@cc_strategies
def test_ring(spark, cc_path):
    got = _cc(spark, [("X", "Y"), ("Y", "Z"), ("Z", "X")])
    assert got == {"X": "X", "Y": "X", "Z": "X"}


@cc_strategies
def test_two_components_and_selfloop(spark, cc_path):
    got = _cc(spark, [("A", "B"), ("C", "C"), ("D", "C")])
    assert got == {"A": "A", "B": "A", "C": "C", "D": "C"}


@cc_strategies
def test_long_chain_converges_logarithmically(spark, cc_path):
    n = 40
    pairs = [(f"N{i:03d}", f"N{i + 1:03d}") for i in range(n)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {"N000"}
    assert len(got) == n + 1


@cc_strategies
def test_hub_star(spark, cc_path):
    pairs = [(f"ALIAS:{i:04d}", "HUB:0") for i in range(200)]
    got = _cc(spark, pairs)
    assert all(v == "ALIAS:0000" for v in got.values())


@cc_strategies
@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_empty_edges_give_zero_rows_of_input_types(spark, cc_path, id_type):
    """No edge (a corpus with no verified near-duplicate pair) is zero
    (curie, rep) rows whose ids keep the input's type: long doc ids in the
    dedup query, string CURIEs in the KG."""
    edges = spark.createDataFrame([], f"src {id_type}, dst {id_type}")
    out = connected_components(edges)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("curie", id_type),
        ("rep", id_type),
    ]


@cc_strategies
def test_empty_normalization_gives_empty_rep_map(spark, cc_path):
    """An empty normalization table is a zero-row rep_map with the
    pipeline's string columns."""
    norm = spark.createDataFrame(
        [], "alias string, canonical string, node_type string, name string"
    )
    out = canonical_map(norm, 0)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("curie", "string"),
        ("rep", "string"),
        ("node_type", "string"),
        ("name", "string"),
    ]


@cc_strategies
def test_resolve_aliases_broadcast_vs_salted(spark, cc_path):
    """A hub rep map from either CC path resolves to the same rows whether
    the planner broadcasts it or, with broadcasting off, sort-merge joins it
    — the join that covers a hub key beyond the budget now that the salted
    branch is gone (AQE's skew join splits its partition) — and a miss keeps
    its own id."""
    pairs = [(f"a{i}", "hub") for i in range(40)] + [("b1", "b2")]
    rep_map = connected_components(spark.createDataFrame(pairs, ["src", "dst"]))
    fact = spark.createDataFrame(
        [(f"d{i}", f"a{i % 40}") for i in range(200)]
        + [("h", "hub"), ("b", "b2"), ("z", "zz")],
        ["doc_id", "curie"],
    )
    want = sorted(
        [(f"d{i}", "a0") for i in range(200)]
        + [("h", "a0"), ("b", "b1"), ("z", "zz")]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {}
    try:
        for budget in ("10MB", "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
            out = resolve_aliases(fact, rep_map, "curie")
            got[budget] = sorted((r["doc_id"], r["rep"]) for r in out.collect())
            got[budget, "plan"] = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in got["-1", "plan"]
    assert "BroadcastHashJoin" not in got["-1", "plan"]
    assert got["10MB"] == got["-1"] == want


@cc_strategies
def test_resolve_aliases_auto_flips_strategy_without_output_change(
    spark, cc_path, tmp_path
):
    """The rep map each CC path commits is broadcast under a roomy budget
    and sort-merge joined under a 1-byte budget: the planner flips the join
    on its own size estimate, and the rows do not change."""
    pairs = [(f"A:{i}", f"A:{i // 5 * 5}") for i in range(100)]
    connected_components(
        spark.createDataFrame(pairs, ["src", "dst"])
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    fact = spark.createDataFrame(
        [(f"d{i}", f"A:{i % 110}") for i in range(600)], ["doc_id", "curie"]
    )
    want = sorted(
        (f"d{i}", f"A:{i % 110 // 5 * 5}" if i % 110 < 100 else f"A:{i % 110}")
        for i in range(600)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {}
    try:
        for budget in ("10MB", "1b"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
            out = resolve_aliases(fact, rep_map, "curie")
            plan = out._jdf.queryExecution().executedPlan().toString()
            got[budget] = plan, sorted((r["doc_id"], r["rep"]) for r in out.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in got["10MB"][0]
    assert "SortMergeJoin" in got["1b"][0]
    assert got["10MB"][1] == got["1b"][1] == want


def test_resolve_aliases_budget_picks_join_with_identical_rows(spark, tmp_path):
    """resolve_aliases is one unhinted left join: a roomy broadcast budget
    plans a BroadcastHashJoin, a 1-byte budget a SortMergeJoin, and the
    rows are identical — every alias maps to its rep, a miss keeps its id."""
    # parquet-backed map, as in the pipeline (committed rep_map stage): the
    # planner sizes it from its files
    spark.createDataFrame(
        [(f"A:{i}", f"R:{i % 10}") for i in range(500)], ["curie", "rep"]
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    fact = spark.createDataFrame(
        [(f"d{i}", f"A:{i % 550}") for i in range(2000)], ["doc_id", "curie"]
    )
    want = sorted(
        (f"d{i}", f"R:{i % 550 % 10}" if i % 550 < 500 else f"A:{i % 550}")
        for i in range(2000)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {}
    try:
        for budget in ("10MB", "1b"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
            out = resolve_aliases(fact, rep_map, "curie")
            plan = out._jdf.queryExecution().executedPlan().toString()
            got[budget] = plan, sorted((r["doc_id"], r["rep"]) for r in out.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in got["10MB"][0]
    assert "SortMergeJoin" not in got["10MB"][0]
    assert "SortMergeJoin" in got["1b"][0]
    assert "BroadcastHashJoin" not in got["1b"][0]
    assert got["10MB"][1] == got["1b"][1] == want
