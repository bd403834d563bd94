"""Variable-length transitions, multi-program enumeration, and end-bound
queries — the reference's compile_query machinery
(builder/userquery.py:26-137) re-expressed as driver-side program
enumeration + per-program frontier joins, exact-matched against the
generalized pure-Python golden oracle."""

import pytest
from pyspark.sql import functions as F

from robokop_build_spark.plans.query import Step, enumerate_programs, tokenize_path


def _full_key(t):
    return (
        t["subj"],
        t["pred"],
        t["obj"],
        t["edge_source"],
        tuple(t["publications"]),
        t["input_identifiers"],
    )


# --------------------------------------------------------------------------
# enumeration unit tests (hand-computed tiny metagraphs)
# --------------------------------------------------------------------------

META = {
    ("disease", "gene"),
    ("disease", "phenotypic_feature"),
    ("phenotypic_feature", "gene"),
    ("gene", "genetic_condition"),
}


def test_fixed_path_single_program():
    assert enumerate_programs(tokenize_path("DGX"), META) == [
        ["disease", "gene", "genetic_condition"]
    ]


def test_var_length_two_programs():
    assert enumerate_programs(tokenize_path("D(1-2)G"), META) == [
        ["disease", "gene"],
        ["disease", "phenotypic_feature", "gene"],
    ]


def test_var_length_min_2_excludes_direct():
    assert enumerate_programs(tokenize_path("D(2-2)G"), META) == [
        ["disease", "phenotypic_feature", "gene"]
    ]


def test_var_length_three_hops_to_x():
    assert enumerate_programs(tokenize_path("D(1-3)X"), META) == [
        ["disease", "gene", "genetic_condition"],
        ["disease", "phenotypic_feature", "gene", "genetic_condition"],
    ]


def test_unspecified_anchor_matches_any_type():
    progs = enumerate_programs(
        [Step("disease"), Step("UNSPECIFIED"), Step("gene")], META
    )
    # D-?-G: ? anchors on any type with D→?→G connectivity
    assert progs == [["disease", "phenotypic_feature", "gene"]]


def test_unreachable_path_is_empty():
    assert enumerate_programs(tokenize_path("XD"), META) == []


def test_cycle_bounded_by_max():
    meta = {("a", "b"), ("b", "a")}
    progs = enumerate_programs(
        [Step("a"), Step("a", 2, 4)], {tuple(p) for p in meta}
    )
    assert progs == [["a", "b", "a"], ["a", "b", "a", "b", "a"]]


def test_program_blow_up_is_rejected(monkeypatch):
    """A path that expands past MAX_PROGRAMS concrete programs is refused:
    D(1-3)GX enumerates two, so a cap of one rejects it and a cap of two
    accepts it."""
    from robokop_build_spark.plans import query as Q

    monkeypatch.setattr(Q, "MAX_PROGRAMS", 1)
    with pytest.raises(ValueError, match="tighten the query"):
        enumerate_programs(tokenize_path("D(1-3)GX"), META)
    monkeypatch.setattr(Q, "MAX_PROGRAMS", 2)
    assert len(enumerate_programs(tokenize_path("D(1-3)GX"), META)) == 2


# --------------------------------------------------------------------------
# e2e golden gates (exact match incl. provenance)
# --------------------------------------------------------------------------


def _run(spark, fixture_dir, tmp_path_factory, **kwargs):
    from robokop_build_spark.plans.pipeline import run_pipeline

    workdir = str(tmp_path_factory.mktemp("qprog_work"))
    return run_pipeline(spark, fixture_dir, workdir, **kwargs)


def _golden(fixture_dir, programs, **kwargs):
    from robokop_build_spark.datagen.oracle import compute_golden

    kwargs.setdefault("supporters", ())
    _, triples = compute_golden(fixture_dir, programs=programs, **kwargs)
    return triples


@pytest.fixture(scope="module")
def fixture_metagraph(spark, fixture_dir):
    pm = spark.read.parquet(f"{fixture_dir}/predicate_map.parquet")
    return {
        (r["src_type"], r["dst_type"])
        for r in pm.select("src_type", "dst_type").distinct().collect()
    }


def test_var_length_exact_vs_golden(spark, fixture_dir, fixture_metagraph, tmp_path_factory):
    out = _run(
        spark, fixture_dir, tmp_path_factory, path="D(1-2)G", supporters=[]
    )
    programs = enumerate_programs(tokenize_path("D(1-2)G"), fixture_metagraph)
    assert len(programs) == 2  # direct + via-phenotype
    want = {_full_key(t) for t in _golden(fixture_dir, programs)}
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    assert got == want
    # the 2-hop program contributes edges the 1-hop program cannot
    srcs = {k[3] for k in got}
    assert "hetio.phenotype_to_gene" in srcs
    assert "hetio.disease_to_phenotype" in srcs
    assert "pharos.disease_get_gene" in srcs


def test_multi_program_union_exceeds_each_program(
    spark, fixture_dir, fixture_metagraph, tmp_path_factory
):
    out = _run(
        spark, fixture_dir, tmp_path_factory, path="D(1-3)X", supporters=[]
    )
    programs = enumerate_programs(tokenize_path("D(1-3)X"), fixture_metagraph)
    assert len(programs) >= 2
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    want = {_full_key(t) for t in _golden(fixture_dir, programs)}
    assert got == want
    # each single program alone under-returns: the union is the answer
    # (compare edge keys — provenance unions across programs, so full keys
    # of shared edges legitimately differ between a lone program and the
    # union)
    want_keys = {k[:4] for k in want}
    for prog in programs:
        alone = {_full_key(t)[:4] for t in _golden(fixture_dir, [prog])}
        assert alone < want_keys


def test_end_bound_exact_and_pruned(spark, fixture_dir, tmp_path_factory):
    end = ["NCBIGENE:7000001"]  # hub gene; canonicalized through the rep map
    out = _run(
        spark,
        fixture_dir,
        tmp_path_factory,
        path_types=["disease", "gene"],
        end_values=end,
        supporters=[],
    )
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    want = {
        _full_key(t)
        for t in _golden(
            fixture_dir, [["disease", "gene"]], end_values=end
        )
    }
    assert got == want and got
    # every emitted edge terminates at the bound value's canonical rep
    objs = {k[2] for k in got}
    assert len(objs) == 1
    # unbound run returns strictly more
    unbound = {
        _full_key(t) for t in _golden(fixture_dir, [["disease", "gene"]])
    }
    assert got < unbound
    # kg_end_bound's config (benchmark_queries): its stage key names the
    # query's committed stages in the kg_* workdir
    from robokop_build_spark.plans.pipeline import DGX_PATH, PipelineConfig

    cfg = PipelineConfig(
        fixture_dir,
        "",
        path_types=["disease", "gene"],
        end_values=end,
        supporters=[],
    )
    assert cfg.query_key([["disease", "gene"]]) == "@a8036cb7"
    # the default DGX build (kg_end_to_end) is keyed like every other config
    assert PipelineConfig(fixture_dir, "").query_key([DGX_PATH]) == "@760d619f"


def test_start_bound_exact_and_restricted(spark, fixture_dir, tmp_path_factory):
    """Seed-bound query (reference --start, builder/builder.py:512-517):
    only paths anchored at the canonicalized seed CURIE are emitted."""
    start = ["MONDO:7000000"]  # hub disease
    out = _run(
        spark,
        fixture_dir,
        tmp_path_factory,
        path_types=["disease", "gene"],
        start_values=start,
        supporters=[],
    )
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    want = {
        _full_key(t)
        for t in _golden(fixture_dir, [["disease", "gene"]], start_values=start)
    }
    assert got == want and got
    # every emitted edge starts at the seed's canonical rep (min-CURIE of
    # the component — an alias prefix, not the MONDO id itself)
    assert len({k[0] for k in got}) == 1
    # unbound run returns strictly more
    unbound = {_full_key(t) for t in _golden(fixture_dir, [["disease", "gene"]])}
    assert got < unbound


def test_paths_pair_mode_exact_and_differs_from_all_pairs(
    spark, fixture_dir, tmp_path_factory
):
    """Contexts-mode support pairs (generate_links_from_paths,
    builder/builder.py:372-407): supporter edges restricted to (node,
    ancestor) pairs along program paths. Exact-golden in both modes, and
    the two modes must observably differ on the fixture (path-restricted
    pairs ⊂ all-pairs)."""
    from robokop_build_spark.datagen.oracle import compute_golden

    kw = dict(path_types=["disease", "gene", "genetic_condition"])
    out = _run(
        spark, fixture_dir, tmp_path_factory, support_pair_mode="paths", **kw
    )
    got = {_full_key(r.asDict()) for r in out["triples"].collect()}
    _, want_t = compute_golden(fixture_dir, support_pair_mode="paths")
    want = {_full_key(t) for t in want_t}
    assert got == want and got
    _, all_t = compute_golden(fixture_dir)  # all-pairs mode
    all_support = {
        _full_key(t) for t in all_t if t["edge_source"] == "omnicorp.term_to_term"
    }
    paths_support = {k for k in want if k[3] == "omnicorp.term_to_term"}
    assert paths_support, "paths mode must still produce support edges"
    assert paths_support < all_support, "modes must observably differ"
