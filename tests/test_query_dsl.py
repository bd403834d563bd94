"""Path-DSL lexer tests mirroring the reference smoke main
(builder/pathlex.py:41-46) and error behavior (:37-38)."""

import pytest

from robokop_build_spark.plans.query import (
    PathSyntaxError,
    Step,
    tokenize_path,
)


def _node_types(path):
    return [s.node_type for s in tokenize_path(path)]


def test_dgx():
    assert _node_types("DGX") == ["disease", "gene", "genetic_condition"]


def test_sgpcatd():
    assert _node_types("SGPCATD") == [
        "chemical_substance",
        "gene",
        "biological_process",
        "cell",
        "anatomical_entity",
        "phenotypic_feature",
        "disease",
    ]


def test_edge_token_bounds():
    steps = tokenize_path("D(1-2)GX")
    assert steps[1] == Step("gene", 1, 2)
    assert steps[0] == Step("disease", 1, 1)


def test_unknown_code_raises():
    with pytest.raises(PathSyntaxError):
        tokenize_path("DQX")


def test_trailing_edge_raises():
    with pytest.raises(PathSyntaxError):
        tokenize_path("DG(1-3)")


def test_leading_edge_raises():
    with pytest.raises(PathSyntaxError):
        tokenize_path("(1-2)DG")
