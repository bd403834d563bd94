"""Physical-plan assertions: the plans we designed for are the plans Spark
actually picks — predicate pushdown reaches the parquet scan, column
pruning shrinks ReadSchema, dimension joins broadcast, aggregations keep
map-side partial combine, and hot paths stay inside WholeStageCodegen.
Guards against silent plan regressions as operators evolve."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_column_pruning_in_readschema(spark):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = li.select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan
    assert "l_extendedprice" not in plan


def test_dimension_join_broadcasts(spark):
    from robokop_build_spark.plans.benchmark_queries import j5_region_revenue

    plan = _plan(j5_region_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_alias_resolution_broadcasts(spark, tmp_path):
    from robokop_build_spark.operators.canonicalize import resolve_aliases

    rep_map = spark.createDataFrame([("a", "R")], ["curie", "rep"])
    fact = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("source").alias("curie")
    )
    # a parquet-backed map (the pipeline's committed rep_map) is sized from
    # its files and broadcast at plan time
    rep_map.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "rm"))
    plan = _plan(
        resolve_aliases(fact, spark.read.parquet(str(tmp_path / "rm")), "curie")
    )
    assert "BroadcastHashJoin" in plan
    # an in-memory map has no size estimate: the plan starts as a sort-merge
    # join and AQE broadcasts the map once its shuffle has measured it
    unsized = resolve_aliases(fact, rep_map, "curie")
    assert "BroadcastHashJoin" not in _plan(unsized)
    unsized.collect()
    final = _plan(unsized).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final and "BroadcastHashJoin" in final


def test_aggregation_has_partial_combine(spark):
    from robokop_build_spark.plans.benchmark_queries import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    # map-side combine: a partial HashAggregate below the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_text_ops_python_boundary_is_arrow_only(spark):
    """Round-8 contract: quality_score's one Python crossing is the Arrow
    MapInPandas stopword-count kernel (integer output only); every float
    ratio/round stays in the JVM projection above it, and no row-at-a-time
    Python evaluation (BatchEvalPython) exists anywhere in the plan."""
    from robokop_build_spark.operators.text import quality_score

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(quality_score(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("MapInPandas") == 1
    # the float arithmetic is in a JVM Project over the kernel's int output
    assert "round(" in plan and "__stop" in plan


def test_alias_join_hub_key_split_by_aqe_skew_join(spark):
    """Beyond the broadcast budget the alias join is a sort-merge join, and
    AQE's skew join (session.py) splits a hub entity's partition: with
    broadcasting off and the skew thresholds lowered to this input's size,
    the final plan is a skew-split SortMergeJoin and every row resolves."""
    from robokop_build_spark.operators.canonicalize import resolve_aliases

    rep_map = spark.createDataFrame(
        [("hub", "R")] + [(f"a{i}", f"R{i}") for i in range(400)], ["curie", "rep"]
    )
    fact = spark.createDataFrame(
        [(f"d{i}", f"a{i % 400}" if i % 50 == 0 else "hub") for i in range(20_000)],
        ["doc_id", "curie"],
    )
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        out = resolve_aliases(fact, rep_map, "curie")
        rows = out.collect()
        final = _plan(out).split("== Initial Plan ==")[0]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in final and "LeftOuter" in final
    assert sorted((r["doc_id"], r["rep"]) for r in rows) == sorted(
        (f"d{i}", f"R{i % 400}" if i % 50 == 0 else "R") for i in range(20_000)
    )


def test_publications_window_sorts_only_deduped_rows(spark):
    """The capped-top-k window of start_publications must sit ABOVE a
    hash-distinct of (rep, pub), never directly over the raw (rep, doc)
    rows of doc_entities — the distinct's map-side partial combine is what
    keeps repeated mentions from hitting the window's sort exchange
    un-collapsed."""
    from robokop_build_spark.operators.expand import start_publications

    de = spark.createDataFrame(
        [(f"d{i % 3}", "s", "disease", f"o{i}") for i in range(10)],
        ["doc_id", "rep", "node_type", "orig"],
    )
    plan = _plan(start_publications(de, [["disease", "gene"]]))
    win = plan.index("Window ")
    below_window = plan[win:]
    # a (partial-combined) distinct on the pub column feeds the window
    agg = below_window.find("HashAggregate(keys=[")
    assert agg != -1
    assert "pub" in below_window[agg : below_window.index("\n", agg)]


def test_chemotext_articles_join_not_hint_broadcast(spark, fixture_dir):
    """term_articles (the term→pmid fan-out) is corpus-scale at 100 TB; its
    join must be strategy-chosen by AQE/stats, never a hard broadcast hint.
    The logical plan should carry hints only on the genuinely
    dimension-sized sides (graph_nodes, mesh_terms)."""
    from robokop_build_spark.operators.canonicalize import canonical_map
    from robokop_build_spark.operators.supporters import get_supporter
    from robokop_build_spark.sources.readers import fixture_rows, read_fixtures

    tables = read_fixtures(spark, fixture_dir)
    rep_map = canonical_map(
        tables["normalization"], fixture_rows(fixture_dir, "normalization")
    )
    nodes = rep_map.select(F.col("rep").alias("id")).distinct()
    out = get_supporter("chemotext").support(nodes, rep_map, tables)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # exactly the two intended hints (graph_nodes, mesh_terms), each
    # appearing twice because the pmid self-join duplicates the node_pmids
    # subtree — re-hinting term_articles would make this 6
    assert analyzed.count("ResolvedHint") == 4, analyzed


def test_mentions_single_python_exchange(spark, fixture_dir):
    """Doc-side data crosses the Python boundary exactly once, and the
    pipeline's widened (under-split) document input adds exactly one
    round-robin exchange in front of it."""
    from robokop_build_spark.operators.extract import detect_mentions, explode_spans
    from robokop_build_spark.operators.partitioning import widen_for_kernel
    from robokop_build_spark.sources.readers import read_fixture

    docs = read_fixture(spark, fixture_dir, "documents")
    lex = read_fixture(spark, fixture_dir, "lexicon")
    plan = _plan(detect_mentions(explode_spans(docs), lex))
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan  # no pandas round-trip in the scan

    # the KG pipeline's mentions stage input: the fixture is one file
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    plan = _plan(detect_mentions(explode_spans(widen_for_kernel(docs)), lex))
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.count("Exchange") == 1
    assert plan.count("MapInArrow") == 1


def test_widen_for_kernel_round_robins_only_under_split_frames(spark):
    """An under-split frame becomes defaultParallelism round-robin
    partitions; a frame already that wide comes back unchanged."""
    from robokop_build_spark.operators.partitioning import widen_for_kernel

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, 1, numPartitions=1)
    wide = widen_for_kernel(narrow)
    assert wide.rdd.getNumPartitions() == par
    assert f"RoundRobinPartitioning({par})" in _plan(wide)
    assert sorted(r.id for r in wide.collect()) == list(range(100))

    already = spark.range(0, 100, 1, numPartitions=par)
    assert widen_for_kernel(already) is already


def test_lsh_self_joins_reuse_materialized_signatures(spark):
    """embedding_near_duplicates self-joins a signature table; without
    explicit materialization each join side re-runs the full signature DAG
    (measured 2× the signature cost at SF=1 — AQE exchange reuse does not
    collapse the two sides). The plan must read both sides from the same
    InMemoryRelation."""
    from robokop_build_spark.caching import release_operator_caches
    from robokop_build_spark.operators.similarity import embedding_near_duplicates
    from robokop_build_spark.sources.readers import parquet_rows

    # earlier tests may have left cached signature subtrees; Spark's
    # CacheManager would substitute them into THIS plan and skew the
    # InMemoryTableScan count
    release_operator_caches()
    spark.catalog.clearCache()

    path = os.path.join(SF_DIR, "embeddings.parquet")
    emb = spark.read.parquet(path)
    plan = _plan(
        embedding_near_duplicates(emb, "vec_id", "embedding", n_rows=parquet_rows(path))
    )
    assert plan.count("InMemoryTableScan") == 2, plan


def test_pair_operators_read_their_input_once(spark):
    """The grouped pair operators shuffle once on their pairing key and
    emit from that pass: no persisted intermediate, and each Python kernel
    (shingler, MinHash signature, gram digests, block-pair counter) appears
    exactly once in the plan."""
    from robokop_build_spark.caching import release_operator_caches
    from robokop_build_spark.operators import dedup as D
    from robokop_build_spark.sources.readers import parquet_rows

    release_operator_caches()
    spark.catalog.clearCache()

    path = os.path.join(SF_DIR, "documents.parquet")
    docs = spark.read.parquet(path)
    for df, map_in_pandas, grouped_arrow in (
        (D.ngram_jaccard_pairs(docs, n_rows=parquet_rows(path)), 1, 1),
        (D.minhash_lsh_pairs(docs, "doc_id", "text"), 2, 0),
        (D.cross_doc_spans(docs, "doc_id", "text"), 1, 0),
    ):
        plan = _plan(df)
        assert "InMemoryTableScan" not in plan, plan
        assert plan.count("MapInPandas") == map_in_pandas, plan
        assert plan.count("FlatMapGroupsInArrow") == grouped_arrow, plan


def test_split_is_pure_projection_no_shuffle(spark):
    """train_test_split must stay a narrow map over the scan: no Exchange,
    no Python — the split of a 100-TB corpus is a zero-shuffle pass."""
    from robokop_build_spark.operators.curation import train_test_split

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(train_test_split(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_token_shards_single_shuffle(spark):
    """One hash Exchange on the packer key feeds the per-stream window —
    no global sort, no second shuffle."""
    from robokop_build_spark.operators.curation import pack_token_shards

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    plan = _plan(pack_token_shards(docs, budget=4096, packers=16))
    # exactly one data exchange: hashpartitioning on the packer stream key
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_ivf_assignment_broadcasts_centroids(spark):
    """The centroids ride inside the Arrow cell kernels, so the corpus
    side joins nothing to place its rows in cells (no cartesian product),
    and the probe join on cid broadcasts the query side."""
    from robokop_build_spark.operators.similarity import ivf_topk
    from robokop_build_spark.plans.benchmark_queries import _ivf_centroids_for

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = _ivf_centroids_for(SF_DIR)
    plan = _plan(ivf_topk(emb, emb.filter(F.col("vec_id") < 10), cents, k=5))
    assert "BroadcastHashJoin" in plan  # probe join on cid
    assert "CartesianProduct" not in plan


def test_decontaminate_plan_broadcasts_the_eval_gram_side(spark):
    """The benchmark/eval gram set must ride as a broadcast — a shuffle of
    the train side on a string gram key is the 100-TB failure mode."""
    from robokop_build_spark.operators.curation import decontaminate_ngrams

    train = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(50)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(99, "a b c d e")], "doc_id long, text string")
    plan = (
        decontaminate_ngrams(train, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_plan_has_no_explode_and_broadcasts_stats(spark):
    """bm25_topk computes per-term tf as narrow array columns: no
    Generate (explode) anywhere, corpus stats attached via broadcast, and
    the top-k is TakeOrderedAndProject, not a global Sort."""
    from robokop_build_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, "apple banana cherry") for i in range(50)],
        "doc_id long, text string",
    )
    plan = (
        bm25_topk(docs, ["apple", "cherry"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan  # no explode
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("join", ["broadcast", "salted"])
def test_doc_entities_single_alias_join(spark, join, tmp_path):
    """The alias join carries the component's node_type, so doc_entities
    needs at least one Exchange fewer than resolving the rep and then joining the
    distinct (rep, node_type) metadata in a second join. 'broadcast' plans
    under the session budget; 'salted' turns broadcasting off, the case the
    salted alias join once covered and a sort-merge join now plans."""
    from robokop_build_spark.operators.canonicalize import resolve_aliases
    from robokop_build_spark.plans.pipeline import link_doc_entities

    # parquet-backed, as the pipeline's committed rep_map: sized from its files
    spark.createDataFrame(
        [("A:1", "A:1", "disease", "a"), ("B:1", "A:1", "disease", "a")],
        "curie string, rep string, node_type string, name string",
    ).write.parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    mentions = spark.createDataFrame(
        [(i, "B:1", "gene") for i in range(20)] + [(99, "C:9", "gene")],
        "doc_id long, curie string, node_type string",
    )
    # the two-join form: resolve, then a distinct rep -> node_type join
    resolved = resolve_aliases(mentions, rep_map, "curie", out="rep")
    meta = rep_map.select("rep", F.col("node_type").alias("rep_type")).distinct()
    two_joins = (
        resolved.join(meta, "rep", "left")
        .select(
            "doc_id",
            "rep",
            F.coalesce("rep_type", "node_type").alias("node_type"),
            F.col("curie").alias("orig"),
        )
        .distinct()
    )
    one_join = link_doc_entities(mentions, rep_map)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        if join == "salted":
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_one, plan_two = _plan(one_join), _plan(two_joins)
        rows = one_join.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert ("BroadcastHashJoin" in plan_one) == (join == "broadcast")
    n_one, n_two = plan_one.count("Exchange"), plan_two.count("Exchange")
    assert n_one <= n_two - 1, (n_one, n_two)
    assert sorted(tuple(r) for r in rows) == sorted(
        [(i, "A:1", "disease", "B:1") for i in range(20)] + [(99, "C:9", "gene", "C:9")]
    )


def test_nodes_frame_one_per_rep_aggregate(spark, tmp_path):
    """build_nodes collects every per-rep column (members, MESH structs,
    MONDO curies) in ONE aggregate over rep_map: its plan has two joins —
    mesh labels onto rep_map, and the node ids onto the aggregate — two
    fewer than aggregating each column separately and joining the three
    per-rep results back together."""
    import re

    from robokop_build_spark.operators.materialize import build_nodes

    spark.createDataFrame(
        [
            ("MONDO:1", "MONDO:1", "disease", "d"),
            ("MESH:1", "MONDO:1", "disease", "d"),
            ("MESH:2", "MONDO:1", "disease", "d"),
            ("NCBIGENE:1", "NCBIGENE:1", "gene", "g"),
        ],
        "curie string, rep string, node_type string, name string",
    ).write.parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    labels = spark.createDataFrame(
        [("MESH:1", "one")], "mesh_curie string, term_name string"
    )
    ids = spark.createDataFrame([("MONDO:1",), ("NCBIGENE:1",), ("X:9",)], ["id"])
    nodes = build_nodes(ids, rep_map, labels)
    logical = nodes._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin\b", logical)) == 2, logical
    assert logical.count("Aggregate") == 1, logical
    got = {r["id"]: r for r in nodes.collect()}
    assert [tuple(m) for m in got["MONDO:1"]["mesh_identifiers"]] == [
        ("MESH:1", "one"), ("MESH:2", ""),
    ]
    assert got["MONDO:1"]["properties"] == {"mondo_identifiers": "MONDO:1"}
    assert got["NCBIGENE:1"]["mesh_identifiers"] == []
    assert got["NCBIGENE:1"]["properties"] == {}
    assert got["X:9"]["equivalent_identifiers"] == ["X:9"]
    assert got["X:9"]["node_type"] == "unknown"
