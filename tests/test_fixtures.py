"""Fixture-generator invariants promised in FIXTURES.md §1-3: interleaved
kinds, strictly increasing offsets, empty/duplicate-span edge cases, hub
mention skew (~5%), lexicon ambiguity (≥10%), synonym chains and rings."""

from collections import Counter

import pyarrow.parquet as pq


def _read(fixture_dir, name):
    return pq.read_table(f"{fixture_dir}/{name}.parquet").to_pylist()


def test_span_shape_invariants(fixture_dir):
    docs = _read(fixture_dir, "documents")
    kinds = Counter()
    n_empty = 0
    for d in docs:
        spans = d["spans"]
        if not spans:
            n_empty += 1
            continue
        offsets = [s["offset"] for s in spans]
        assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)
        for s in spans:
            kinds[s["kind"]] += 1
            if s["kind"] in ("text", "caption"):
                assert s["media_ref"] == "" and s["text"]
            else:
                assert s["media_ref"].startswith("media://") and s["text"] == ""
    assert n_empty > 0, "empty-span docs required (edge case)"
    assert set(kinds) == {"text", "caption", "image", "table"}
    assert kinds["image"] > 0 and kinds["table"] > 0


def test_duplicate_span_texts_exist(fixture_dir):
    docs = _read(fixture_dir, "documents")
    assert any(
        len({(s["kind"], s["text"], s["media_ref"]) for s in d["spans"]})
        < len(d["spans"])
        for d in docs
        if d["spans"]
    )


def test_lexicon_ambiguity_rate(fixture_dir):
    lex = _read(fixture_dir, "lexicon")
    by_surface = Counter(r["surface"].lower() for r in lex)
    ambiguous = sum(1 for c in by_surface.values() if c > 1)
    assert ambiguous / len(by_surface) >= 0.05


def test_hub_mention_skew(fixture_dir, golden):
    """~5% of mention occurrences hit the 3 hub entities — checked on the
    detected-mention stream via the oracle's machinery."""
    from robokop_build_spark.datagen.fixtures import Vocab
    from robokop_build_spark.operators.matching import build_trie, detect

    vocab = Vocab()
    hubs = {e["curie"] for e in vocab.entities if e["is_hub"]}
    trie = build_trie(
        [(r["surface"], r["curie"], r["node_type"]) for r in _read(fixture_dir, "lexicon")]
    )
    total = hub_hits = 0
    for d in _read(fixture_dir, "documents"):
        for s in d["spans"] or []:
            if s["kind"] not in ("text", "caption"):
                continue
            for m in detect(s["text"], trie):
                total += 1
                if any(c.curie in hubs for c in m.candidates):
                    hub_hits += 1
    assert total > 1000
    assert 0.02 <= hub_hits / total <= 0.15


def test_normalization_has_chains_and_rings(fixture_dir):
    norm = _read(fixture_dir, "normalization")
    # a chain row points alias→alias (neither endpoint is the canonical id)
    canonicals = {r["canonical"] for r in norm if r["alias"] == r["canonical"]}
    alias_to_alias = [
        r for r in norm if r["canonical"] not in canonicals and r["alias"] != r["canonical"]
    ]
    assert alias_to_alias, "chain/ring rows must exist to exercise CC"
    # hub components have 100+ members
    comp_size = Counter(r["canonical"] for r in norm)
    assert max(comp_size.values()) >= 100


def test_driver_tables_shape_and_determinism(tmp_path):
    """Synthetic driver-shaped tables (datagen/driver_tables.py) must match
    the external driver's documents/embeddings schema, include dedup
    positive classes, and be byte-deterministic for a (sf, seed)."""
    import numpy as np

    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables

    d1 = ensure_driver_tables(str(tmp_path / "a"), 0.01)
    d2 = ensure_driver_tables(str(tmp_path / "b"), 0.01)
    docs = pq.read_table(f"{d1}/documents.parquet")
    assert [f.name for f in docs.schema] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    texts = docs.column("text").to_pylist()
    assert len(texts) == 500
    # injected exact duplicates exist
    assert len(set(texts)) < len(texts)
    # n_chars consistent with text
    for t, n in zip(texts[:50], docs.column("n_chars").to_pylist()[:50]):
        assert len(t) == n
    emb = pq.read_table(f"{d1}/embeddings.parquet")
    assert [f.name for f in emb.schema] == ["vec_id", "embedding", "label"]
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    assert vecs.shape == (200, 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    # determinism across generations
    assert texts == pq.read_table(f"{d2}/documents.parquet").column("text").to_pylist()
    # marker-guard: second call is a no-op returning the same dir
    assert ensure_driver_tables(str(tmp_path / "a"), 0.01) == d1


def test_driver_tables_marker_param_mismatch_regenerates(tmp_path):
    """Calling ensure_driver_tables with a different sf (or seed) against an
    existing dir must regenerate, not silently serve mis-sized tables."""
    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables

    d = str(tmp_path / "x")
    ensure_driver_tables(d, 0.01)
    assert pq.read_table(f"{d}/documents.parquet").num_rows == 500
    # same params: no-op
    ensure_driver_tables(d, 0.01)
    assert pq.read_table(f"{d}/documents.parquet").num_rows == 500
    # different sf: regenerated at the new scale
    ensure_driver_tables(d, 0.02)
    assert pq.read_table(f"{d}/documents.parquet").num_rows == 1000
    # different seed: regenerated (marker mismatch), same shape
    t1 = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
    ensure_driver_tables(d, 0.02, seed=7)
    t2 = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
    assert t1 != t2


def test_driver_tables_spark_generator(spark, tmp_path):
    """The Spark-parallel generator must produce the driver schema, unique
    sequential ids across partition chunks, planted dup classes, and be
    deterministic for (sf, seed)."""
    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables_spark

    d1 = ensure_driver_tables_spark(spark, str(tmp_path / "a"), 0.05)
    docs = spark.read.parquet(f"{d1}/documents.parquet")
    assert docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    n = docs.count()
    assert n == 2500
    assert docs.select("doc_id").distinct().count() == n
    ids = [r[0] for r in docs.selectExpr("min(doc_id)", "max(doc_id)").collect()[0:1]]
    assert docs.selectExpr("min(doc_id)").collect()[0][0] == 0
    assert docs.selectExpr("max(doc_id)").collect()[0][0] == n - 1
    assert docs.groupBy("text").count().filter("count > 1").count() > 0
    emb = spark.read.parquet(f"{d1}/embeddings.parquet")
    assert emb.columns == ["vec_id", "embedding", "label"]
    assert emb.count() == 1000
    # marker no-op, then determinism across dirs
    assert ensure_driver_tables_spark(spark, str(tmp_path / "a"), 0.05) == d1
    d2 = ensure_driver_tables_spark(spark, str(tmp_path / "b"), 0.05)
    t1 = sorted(r["text"] for r in docs.collect())
    t2 = sorted(
        r["text"] for r in spark.read.parquet(f"{d2}/documents.parquet").collect()
    )
    assert t1 == t2
