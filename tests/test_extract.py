"""Span explode/reassemble invariant + mention detection parity with the
pure-Python matcher (input_hint per-row invariant: span-sequence equality)."""

from pyspark.sql import functions as F

from robokop_build_spark.operators.extract import (
    detect_mentions,
    explode_spans,
    reassemble_spans,
)
from robokop_build_spark.sources.readers import read_fixture


def test_detect_batch_bit_identical_to_scalar(fixture_dir):
    """detect_batch (the Spark UDF's vectorized scan) must produce EXACTLY
    detect() per text — over every span of the fixture corpus plus
    adversarial edge cases (overlap consumption, row boundaries, empty and
    whitespace-only tokens, case variants)."""
    import pyarrow.parquet as pq

    from robokop_build_spark.operators.matching import (
        build_trie,
        detect,
        detect_batch,
    )

    lex = pq.read_table(f"{fixture_dir}/lexicon.parquet")
    trie = build_trie(
        list(
            zip(
                lex.column("surface").to_pylist(),
                lex.column("curie").to_pylist(),
                lex.column("node_type").to_pylist(),
            )
        )
    )
    docs = pq.read_table(f"{fixture_dir}/documents.parquet").to_pylist()
    texts = [
        s["text"]
        for row in docs
        for s in (row["spans"] or [])
        if s["kind"] in ("text", "caption")
    ]
    some_surface = sorted(trie.surfaces)[0]
    multi = sorted(s for s in trie.surfaces if " " in s) or [some_surface]
    texts += [
        "",
        " ",
        "  ",
        some_surface,
        some_surface.upper(),
        f"{some_surface} {some_surface}",
        f"x {multi[0]} y",
        multi[0],  # multi-token surface at row start/end
        f"{multi[0]} {some_surface}",
        "zz " * 50,
    ]
    want = [detect(t, trie) for t in texts]
    got = detect_batch(texts, trie)
    assert got == want


def test_span_roundtrip_exact(spark, fixture_dir):
    docs = read_fixture(spark, fixture_dir, "documents")
    back = reassemble_spans(explode_spans(docs))
    orig = docs.filter(F.size("spans") > 0).select("doc_id", "spans")
    # span-sequence equality: (kind, text, media_ref, order) — offsets too
    diff_a = orig.exceptAll(back.select("doc_id", "spans"))
    diff_b = back.select("doc_id", "spans").exceptAll(orig)
    assert diff_a.count() == 0 and diff_b.count() == 0
    # empty-span docs survive explode_outer with null ordinals
    n_empty = docs.filter(F.size("spans") == 0).count()
    exploded = explode_spans(docs)
    assert exploded.filter(F.col("span_pos").isNull()).count() == n_empty


def test_duplicate_spans_preserved(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "same words here", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "same words here", "media_ref": "", "offset": 20},
            ],
        )
    ]
    from robokop_build_spark.schemas import DOCUMENTS

    docs = spark.createDataFrame(rows, DOCUMENTS)
    back = reassemble_spans(explode_spans(docs)).collect()[0]
    assert len(back["spans"]) == 2
    assert back["spans"][0]["offset"] == 0 and back["spans"][1]["offset"] == 20


def test_mentions_match_oracle_matcher(spark, fixture_dir):
    import pyarrow.parquet as pq

    from robokop_build_spark.operators.matching import (
        build_trie,
        detect,
        link_mentions,
    )
    import numpy as np

    docs = read_fixture(spark, fixture_dir, "documents")
    lex = read_fixture(spark, fixture_dir, "lexicon")
    emb = read_fixture(spark, fixture_dir, "entity_embeddings")
    got = {
        (r["doc_id"], r["span_pos"], r["mention_start"], r["curie"])
        for r in detect_mentions(explode_spans(docs), lex, emb).collect()
    }

    lex_t = pq.read_table(f"{fixture_dir}/lexicon.parquet")
    trie = build_trie(
        list(
            zip(
                lex_t.column("surface").to_pylist(),
                lex_t.column("curie").to_pylist(),
                lex_t.column("node_type").to_pylist(),
            )
        )
    )
    emb_t = pq.read_table(f"{fixture_dir}/entity_embeddings.parquet")
    emb_map = {
        c: np.asarray(v, dtype=np.float64)
        for c, v in zip(
            emb_t.column("curie").to_pylist(), emb_t.column("embedding").to_pylist()
        )
    }
    want = set()
    for row in pq.read_table(f"{fixture_dir}/documents.parquet").to_pylist():
        for pos, span in enumerate(row["spans"] or []):
            if span["kind"] not in ("text", "caption"):
                continue
            ments = detect(span["text"], trie)
            if not ments:
                continue
            for m, cand, _ in link_mentions(span["text"], ments, emb_map):
                want.add((row["doc_id"], pos, m.start, cand.curie))
    assert got == want
    assert len(got) > 1000  # fixture actually produces volume


def _mk_spans(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, span_pos int, kind string, text string, media_ref string, offset int"
    )


def test_prefilter_empty_lexicon_short_circuits(spark):
    """Empty lexicon → zero mentions (the kernel's trie matches nothing)."""
    lex = spark.createDataFrame([], "surface string, curie string, node_type string")
    spans = _mk_spans(spark, [("d1", 0, "text", "aspirin treats pain", "", 0)])
    assert detect_mentions(spans, lex).count() == 0


def test_prefilter_non_ascii_rows_pass_to_python(spark):
    """A non-ASCII lexicon surface in non-ASCII text is matched by the
    Python scan (CPython's str.lower(), not the JVM's lower())."""
    lex = spark.createDataFrame(
        [("über", "C:2", "chem")], "surface string, curie string, node_type string"
    )
    spans = _mk_spans(spark, [("d3", 0, "text", "nichts über alles", "", 0)])
    got = detect_mentions(spans, lex).collect()
    assert len(got) == 1 and got[0]["curie"] == "C:2"


def test_prefilter_large_lexicon_degates_literals(spark, fixture_dir):
    """A production-size lexicon (100k surfaces) must NOT be inlined as plan
    literals (plan-serialization/codegen blowup): it reaches the kernel as
    a broadcast trie, and output is unchanged vs the small-lexicon run
    (VERDICT r3 item 3a)."""
    import pyarrow.parquet as pq

    lex_t = pq.read_table(f"{fixture_dir}/lexicon.parquet")
    base_rows = list(
        zip(
            lex_t.column("surface").to_pylist(),
            lex_t.column("curie").to_pylist(),
            lex_t.column("node_type").to_pylist(),
        )
    )
    docs = read_fixture(spark, fixture_dir, "documents")
    spans = explode_spans(docs)
    lex_small = spark.createDataFrame(
        base_rows, "surface string, curie string, node_type string"
    )
    want = sorted(
        map(tuple, detect_mentions(spans, lex_small).collect())
    )

    # junk surfaces that can never occur in the corpus (tokens are plain
    # lowercase words; 'zzqj...' never appears)
    junk = [(f"zzqj{i}", f"J:{i}", "junk") for i in range(100_000)]
    lex_big = spark.createDataFrame(
        base_rows + junk, "surface string, curie string, node_type string"
    )
    out_big = detect_mentions(spans, lex_big)
    plan = out_big._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 50_000, f"plan blew up to {len(plan)} chars"
    assert "zzqj90000" not in plan
    got = sorted(map(tuple, out_big.collect()))
    assert got == want
