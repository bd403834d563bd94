"""Full reference edge-schema fidelity (export_edge, builder/builder.py:31-41),
the per-edge publication cap (builder/chemotext.py:53), and the all-supporters
pipeline — each exact-matched against the pure-Python golden oracle."""

import pytest

from robokop_build_spark.schemas import TRIPLES

ALL_SUPPORTERS = ["omnicorp", "cdw", "chemotext2", "chemotext"]


def _all_fields(t):
    """Every edge field, normalized for set comparison."""
    props = t["properties"]
    return (
        t["subj"],
        t["pred"],
        t["obj"],
        t["edge_source"],
        tuple(t["publications"]),
        t["input_identifiers"],
        t["ctime"],
        t["url"],
        t["standard_label"],
        t["original_predicate_id"],
        t["original_predicate_label"],
        tuple(sorted((props or {}).items())),
    )


def _run(spark, fixture_dir, tmp_path_factory, **kwargs):
    from robokop_build_spark.plans.pipeline import run_pipeline

    workdir = str(tmp_path_factory.mktemp("schema_work"))
    return run_pipeline(spark, fixture_dir, workdir, **kwargs)


def test_capped_sorted_set_unit(spark):
    from robokop_build_spark.operators.topk import capped_sorted_set

    df = spark.createDataFrame(
        [("k1", f"v{i:02d}") for i in range(20)]
        + [("k1", "v03")]  # duplicate must not consume a slot
        + [("k2", "z")],
        ["k", "v"],
    )
    got = {
        r["k"]: r["vals"]
        for r in capped_sorted_set(df, ["k"], "v", cap=5, out="vals").collect()
    }
    assert got["k1"] == ["v00", "v01", "v02", "v03", "v04"]
    assert got["k2"] == ["z"]


def test_triples_schema_matches_contract(spark, fixture_dir, tmp_path_factory):
    out = _run(spark, fixture_dir, tmp_path_factory)
    got = out["triples"].schema
    assert [f.name for f in got.fields] == [f.name for f in TRIPLES.fields]
    for f_got, f_want in zip(got.fields, TRIPLES.fields):
        assert f_got.dataType == f_want.dataType, f_got.name


def test_full_edge_fields_match_golden(spark, fixture_dir, tmp_path_factory, golden):
    out = _run(spark, fixture_dir, tmp_path_factory)
    got = {_all_fields(r.asDict()) for r in out["triples"].collect()}
    want = {_all_fields(t) for t in golden["triples"]}
    assert got == want


def test_all_supporters_exact_vs_golden(spark, fixture_dir, tmp_path_factory):
    from robokop_build_spark.datagen.oracle import compute_golden

    out = _run(spark, fixture_dir, tmp_path_factory, supporters=list(ALL_SUPPORTERS))
    _, want_triples = compute_golden(fixture_dir, supporters=tuple(ALL_SUPPORTERS))
    got = {_all_fields(r.asDict()) for r in out["triples"].collect()}
    want = {_all_fields(t) for t in want_triples}
    assert got == want
    # every supporter actually contributed edges on the fixture
    sources = {k[3] for k in got}
    for s in (
        "omnicorp.term_to_term",
        "cdw.term_to_term",
        "chemotext2.term_to_term",
        "chemotext.term_to_term",
    ):
        assert s in sources, s


def test_publication_cap_applied(spark, fixture_dir, tmp_path_factory):
    from robokop_build_spark.datagen.oracle import compute_golden

    cap = 3
    out = _run(spark, fixture_dir, tmp_path_factory, publication_cap=cap)
    rows = out["triples"].collect()
    assert rows and all(len(r["publications"]) <= cap for r in rows)
    # capped run still exact vs the capped golden (smallest-cap determinism)
    _, want_triples = compute_golden(fixture_dir, publication_cap=cap)
    got = {_all_fields(r.asDict()) for r in rows}
    want = {_all_fields(t) for t in want_triples}
    assert got == want
    # and the cap bites on this fixture (some edge has >cap docs uncapped)
    _, uncapped = compute_golden(fixture_dir)
    assert any(len(t["publications"]) > cap for t in uncapped)


def test_enhance_nodes_labels_and_guard(spark):
    """Enhance stage (builder/builder.py:309-318, 424-445): authority label
    wins, carried name second, identifier last; forbidden primary-id prefix
    is fatal."""
    from robokop_build_spark.operators.materialize import enhance_nodes

    nodes = spark.createDataFrame(
        [
            ("MONDO:1", "disease", "carried", ["MONDO:1"]),
            ("MONDO:2", "disease", "carried", ["MONDO:2"]),
            ("UNREG:3", "unknown", "", ["UNREG:3"]),
        ],
        ["id", "node_type", "name", "equivalent_identifiers"],
    )
    lookup = spark.createDataFrame([("MONDO:1", "Authority")], ["curie", "label"])
    got = {r["id"]: r["name"] for r in enhance_nodes(nodes, lookup).collect()}
    assert got == {
        "MONDO:1": "Authority",  # authority wins
        "MONDO:2": "carried",  # carried name second
        "UNREG:3": "UNREG:3",  # identifier fallback
    }
    bad = spark.createDataFrame(
        [("DOID:9", "disease", "x", ["DOID:9"])],
        ["id", "node_type", "name", "equivalent_identifiers"],
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="ForbiddenPrefixError"):
        enhance_nodes(bad, lookup, forbidden_prefixes=("DOID",)).collect()
    # the guard only fires on listed prefixes
    ok = enhance_nodes(bad, lookup, forbidden_prefixes=("HP",)).collect()
    assert ok[0]["id"] == "DOID:9"


def test_ctime_injected(spark, fixture_dir, tmp_path_factory):
    out = _run(spark, fixture_dir, tmp_path_factory, ctime=1_700_000_000)
    cts = {r["ctime"] for r in out["triples"].collect()}
    assert cts == {1_700_000_000}
