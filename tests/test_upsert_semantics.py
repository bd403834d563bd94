"""The four golden sink-upsert behaviors from the reference's only pytest
module (builder/test/test_graphdb_update.py:33-82), re-expressed as
DataFrame-merge assertions over upsert_nodes + merge_triples."""

import pytest
from pyspark.sql import functions as F

from robokop_build_spark.operators.materialize import (
    merge_triples,
    upsert_nodes,
    validate_triples,
    write_triples,
)

NODE_SCHEMA = (
    "id string, node_type string, name string, equivalent_identifiers array<string>"
)


def _nodes(spark, rows):
    return spark.createDataFrame(rows, NODE_SCHEMA)


def test_create(spark):
    """New node → exactly one label = its node_type (:33-39)."""
    existing = _nodes(spark, [])
    incoming = _nodes(spark, [("MONDO:1", "disease", "Ebola", ["MONDO:1"])])
    out = upsert_nodes(existing, incoming).collect()
    assert len(out) == 1
    assert out[0]["labels"] == ["disease"]


def test_add_label(spark):
    """Re-export with a subtype ADDS a label, keeps the old one (:41-51)."""
    base = upsert_nodes(
        _nodes(spark, []), _nodes(spark, [("MONDO:1", "disease", "E", ["MONDO:1"])])
    )
    out = upsert_nodes(
        base, _nodes(spark, [("MONDO:1", "genetic_condition", "E", ["MONDO:1"])])
    ).collect()[0]
    assert out["labels"] == ["disease", "genetic_condition"]


def test_also_overwrite_synonyms(spark):
    """Re-export REPLACES equivalent_identifiers (:53-68)."""
    base = upsert_nodes(
        _nodes(spark, []),
        _nodes(spark, [("MONDO:1", "disease", "E", ["MONDO:1", "DOID:9"])]),
    )
    out = upsert_nodes(
        base, _nodes(spark, [("MONDO:1", "disease", "E", ["MONDO:1", "UMLS:7"])])
    ).collect()[0]
    assert out["equivalent_identifiers"] == ["MONDO:1", "UMLS:7"]


def test_just_overwrite_name(spark):
    """Re-export overwrites name, keeps labels (:70-82)."""
    base = upsert_nodes(
        _nodes(spark, []), _nodes(spark, [("MONDO:1", "disease", "Old", ["MONDO:1"])])
    )
    out = upsert_nodes(
        base, _nodes(spark, [("MONDO:1", "disease", "New", ["MONDO:1"])])
    ).collect()[0]
    assert out["name"] == "New" and out["labels"] == ["disease"]


TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, edge_source string, "
    "publications array<string>, input_identifiers string"
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_edge_replace_is_idempotent_merge(spark, tmp_path):
    """Delete-then-create keyed (a, b, source) (builder/builder.py:24-25)
    as idempotent merge: new row replaces, re-merge is a no-op."""
    p1, p2, p3 = str(tmp_path / "t1"), str(tmp_path / "t2"), str(tmp_path / "t3")
    old = _triples(
        spark,
        [
            ("A", "biolink:p1", "B", "src1", ["DOC:1"], "x"),
            ("A", "biolink:p1", "C", "src1", ["DOC:1"], "x"),
        ],
    )
    write_triples(old, p1)
    new = _triples(spark, [("A", "biolink:p2", "B", "src1", ["DOC:2"], "y")])
    merged = merge_triples(spark, p1, new, p2)
    got = {(r["subj"], r["pred"], r["obj"]): r["publications"] for r in merged.collect()}
    # (A,B,src1) replaced (pred + publications overwritten); (A,C,src1) kept
    assert got == {("A", "biolink:p2", "B"): ["DOC:2"], ("A", "biolink:p1", "C"): ["DOC:1"]}
    again = merge_triples(spark, p2, new, p3)
    assert sorted(r["subj"] + r["obj"] for r in again.collect()) == sorted(
        r["subj"] + r["obj"] for r in merged.collect()
    )


def test_null_predicate_is_fatal(spark):
    """standard predicate None → hard failure (builder/builder.py:27-30)."""
    bad = _triples(spark, [("A", None, "B", "src1", [], "")])
    # the check rides the action itself — no extra pass over the fact
    # table, the job aborts at the offending row
    with pytest.raises(Exception, match="NullPredicateError"):
        validate_triples(bad).collect()
    # clean triples flow through the lazy guard unchanged
    ok = _triples(spark, [("A", "biolink:p1", "B", "src1", ["DOC:1"], "")])
    assert validate_triples(ok).collect()[0]["pred"] == "biolink:p1"
