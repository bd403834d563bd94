import itertools
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from robokop_build_spark.operators.dedup import (
    cross_doc_spans,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
OTHER = "completely different content about spark partitions and shuffle behavior"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", BASE),
        ("d2", BASE),  # exact dup of d1
        ("d3", NEAR),  # near dup of d1
        ("d4", OTHER),
        ("d5", "tiny"),  # fewer tokens than shingle k
        ("d6", ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert out["d1"] == 2  # d1+d2 collapse
    assert out["d3"] == 1 and out["d4"] == 1


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, n_rows=6).collect()
    }
    assert pairs[("d1", "d2")] == 1.0
    assert 0.5 <= pairs[("d1", "d3")] < 1.0
    assert ("d1", "d4") not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert ("d1", "d2") in pairs
    assert ("d1", "d3") in pairs
    assert ("d1", "d4") not in pairs


def test_simhash_near_pairs(docs):
    sim = simhash(docs)
    vals = {r["id"]: r["simhash"] for r in sim.collect()}
    assert vals["d1"] == vals["d2"]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(sim, max_hamming=6).collect()
    }
    assert pairs[("d1", "d2")] == 0
    assert ("d1", "d4") not in pairs


def test_simhash_hot_bucket_guard(spark, monkeypatch):
    """SIMHASH_MAX_BUCKET drops degenerate (chunk, ckey) buckets before the
    self-join; pairs that also share a NON-degenerate chunk still surface
    (hamming ≤ 2 ⇒ ≥ 2 of 4 chunks equal), and a pair that shares only
    degenerate buckets is the recall the cap trades away."""
    from robokop_build_spark.operators import dedup as D

    # 100 rows all sharing chunk-0 key 0x1111 and chunk-1 key 0x2222 (two
    # degenerate buckets) but with pairwise-distant upper chunks (unique
    # chunk-2/3 keys, hamming >> 2)
    def to_i64(v):  # wrap to signed 64-bit (Spark long)
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [
        (
            f"z{i:03d}",
            to_i64((0x0101010101010101 * (i + 2)) & ~0xFFFFFFFF | 0x22221111),
        )
        for i in range(100)
    ]
    # one true near pair: differs only in chunk 0 (hamming 2 there), so its
    # chunk-1/2/3 buckets (size 2, not hot) must recover it after the drop
    rows += [("a1", 0x00AA00BB00CC0003), ("a2", 0x00AA00BB00CC0000)]
    # one near pair (hamming 2, one bit in each of chunks 2 and 3) that
    # shares only the two degenerate buckets: the cap drops it
    rows += [("h1", 0x00F000F022221111), ("h2", 0x00F100F122221111)]
    sim = spark.createDataFrame(rows, "id string, simhash long")
    production_cap = D.SIMHASH_MAX_BUCKET

    def pairs(cap):
        monkeypatch.setattr(D, "SIMHASH_MAX_BUCKET", cap)
        return {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs(sim, max_hamming=2).collect()
        }

    unguarded = pairs(10**9)
    guarded = pairs(50)
    assert ("a1", "a2") in guarded  # recovered via chunks 1-3
    assert ("h1", "h2") in unguarded and ("h1", "h2") not in guarded
    assert guarded == unguarded - {("h1", "h2")}
    # the production cap, which no bucket here reaches, is a no-op (exact)
    exact = pairs(production_cap)
    assert exact == unguarded


def test_simhash_stable_across_runs(docs):
    a = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    b = {r["id"]: r["simhash"] for r in simhash(docs.repartition(5)).collect()}
    assert a == b


def test_lsh_verified_equals_exact_restricted_to_candidates(spark):
    """The composed op must produce EXACTLY ngram_jaccard_pairs ∩
    lsh-candidates — same jaccard values, no extra or missing pairs — and
    at fixture scale (planted near-dup families) it must recover the
    high-similarity pairs the exact op finds."""
    from robokop_build_spark.operators.dedup import lsh_verified_near_duplicates

    fixture_docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            fixture_docs,
            "doc_id",
            "text",
            k=3,
            threshold=0.12,
            n_rows=fixture_docs.count(),
        ).collect()
    }
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            fixture_docs, "doc_id", "text", k=3, num_hashes=16, bands=8
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in lsh_verified_near_duplicates(
            fixture_docs, "doc_id", "text", k=3, threshold=0.12, num_hashes=16, bands=8
        ).collect()
    }
    want = {p: j for p, j in exact.items() if p in cands}
    assert got == want
    assert len(got) > 0  # planted near-dups must surface
    # recall floor at this banding: everything the exact op scores ≥0.5
    # must be an LSH candidate at 8 bands × 2 rows on the fixture corpus
    high = {p for p, j in exact.items() if j >= 0.5}
    assert high <= set(got)


def test_adaptive_band_width_needs_row_count(docs):
    """num_hashes=None picks the band width from the caller's row count;
    without one it raises instead of running a count() job."""
    with pytest.raises(ValueError, match="n_rows"):
        minhash_lsh_pairs(docs, num_hashes=None)


def test_auto_minhash_rows_per_band_scaling():
    """r stays at the base below the base corpus (so sf0.01-1.0 oracle
    params are unchanged) and grows logarithmically past it."""
    from robokop_build_spark.operators.dedup import auto_minhash_rows_per_band as r

    assert r(500) == 2
    assert r(50_000) == 2
    assert r(100_000) == 2
    assert r(1_600_000) == 3   # SF=32
    assert r(100_000_000) == 4
    assert r(3_200_000_000) == 5


def test_dedup_cluster_canonical_invariants(spark):
    """Cluster election invariants at sf0.001: the canonical doc is the
    min member of its cluster, exactly one member per cluster is kept,
    and every member maps to a canonical that is itself kept."""
    from robokop_build_spark.plans.benchmark_queries import (
        dedup_cluster_canonical,
    )

    rows = dedup_cluster_canonical(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected at least one near-dup cluster in the corpus"
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r)
    for canon, members in by_canon.items():
        ids = [m["doc_id"] for m in members]
        assert canon == min(ids)
        assert sum(1 for m in members if m["keep"]) == 1
        for m in members:
            assert m["keep"] == (m["doc_id"] == canon)


def test_cross_doc_spans_coverage(spark):
    """Known corpus: d1/d2 share one 8-gram (8 covered tokens each);
    d4/d5 share a 9-token span => two OVERLAPPING flagged grams whose
    union must count 9 tokens, not 16 (the window min(n, gap) rule);
    d3 is unique => coverage 0."""
    from robokop_build_spark.operators.dedup import cross_doc_spans

    docs = spark.createDataFrame(
        [
            ("d1", "a b c d e f g h x y"),
            ("d2", "z a b c d e f g h w"),
            ("d3", "q r s t u v w x"),
            ("d4", "a b c d e f g h i"),
            ("d5", "x a b c d e f g h i"),
        ],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in cross_doc_spans(docs, n=8, min_df=2).collect()
    }
    assert out == {
        "d1": (10, 8, 0.8),
        "d2": (10, 8, 0.8),
        "d3": (8, 0, 0.0),
        "d4": (9, 9, 1.0),
        "d5": (10, 9, 0.9),
    }


def _shingles(text, k):
    toks = (text or "").split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _spark_round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its shortest decimal
    form (Python's round works on the binary value)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def brute_jaccard(rows, k, threshold):
    """{(id_a, id_b): jaccard} over every pair sharing ≥1 distinct shingle."""
    sets = {i: _shingles(t, k) for i, t in rows}
    out = {}
    for a, b in itertools.combinations(sorted(i for i in sets if sets[i]), 2):
        shared = len(sets[a] & sets[b])
        if shared:
            j = _spark_round6(shared / len(sets[a] | sets[b]))
            if j >= threshold:
                out[(a, b)] = j
    return out


def brute_spans(rows, n, min_df):
    """{doc_id: (n_tokens, dup_tokens, dup_fraction)}: tokens inside a word
    n-gram that min_df or more distinct docs hold."""
    grams = {}
    for i, t in rows:
        toks = (t or "").split(" ")
        grams[i] = [" ".join(toks[p : p + n]) for p in range(len(toks) - n + 1)]
    df = {}
    for i, gs in grams.items():
        for g in set(gs):
            df[g] = df.get(g, 0) + 1
    out = {}
    for i, t in rows:
        n_tok = len((t or "").split(" "))
        covered = {
            p + q for p, g in enumerate(grams[i]) if df[g] >= min_df for q in range(n)
        }
        out[i] = (n_tok, len(covered), _spark_round6(len(covered) / n_tok))
    return out


def _jaccard(df):
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}


def test_ngram_jaccard_multi_block_matches_one_block_and_brute_force(spark):
    """240 docs, each a few word edits away from one of 30 seed texts, with
    block_target=64: 4 hash blocks, so the grouped kernel sees both
    same-block and cross-block pairs. Pairs and values equal the
    one-block run and a Python brute force."""
    rng = random.Random(7)
    seeds = [[f"w{rng.randrange(80)}" for _ in range(24)] for _ in range(30)]
    rows = []
    for i in range(240):
        toks = list(rng.choice(seeds))
        for _ in range(rng.randrange(8)):
            toks[rng.randrange(len(toks))] = f"w{rng.randrange(80)}"
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(k=3, threshold=0.12, n_rows=len(rows))
    multi = _jaccard(ngram_jaccard_pairs(docs, block_target=64, **kw))
    one = _jaccard(ngram_jaccard_pairs(docs, **kw))
    assert multi == one == brute_jaccard(rows, 3, 0.12)
    assert len(multi) > 240


@pytest.fixture(params=["bigint", "string"])
def make_docs(spark, request):
    """(rows, DataFrame) builder with bigint or string doc ids."""
    id_t = request.param

    def make(texts):
        ids = [i + 1 if id_t == "bigint" else f"d{i:02d}" for i in range(len(texts))]
        rows = list(zip(ids, texts))
        return rows, spark.createDataFrame(rows, f"doc_id {id_t}, text string")

    return make


def _check_pair_ops(rows, docs, threshold=0.12):
    """Each rewritten operator against its brute force, the ngram one at
    one block and at ⌈n/2⌉ blocks; returns the LSH candidate pairs."""
    id_t = dict(docs.dtypes)["doc_id"]
    want = brute_jaccard(rows, 3, threshold)
    for block_target in (4096, 2):
        out = ngram_jaccard_pairs(
            docs, k=3, threshold=threshold, block_target=block_target, n_rows=len(rows)
        )
        assert out.dtypes == [("id_a", id_t), ("id_b", id_t), ("jaccard", "double")]
        assert _jaccard(out) == want
    spans = cross_doc_spans(docs, n=8, min_df=2)
    assert spans.dtypes == [
        ("doc_id", id_t),
        ("n_tokens", "bigint"),
        ("dup_tokens", "bigint"),
        ("dup_fraction", "double"),
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in spans.collect()
    }
    assert got == brute_spans(rows, 8, 2)
    lsh = minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=8)
    assert lsh.dtypes == [("id_a", id_t), ("id_b", id_t)]
    return {(r["id_a"], r["id_b"]) for r in lsh.collect()}


def test_pair_ops_on_empty_docs(make_docs):
    rows, docs = make_docs([])
    assert _check_pair_ops(rows, docs) == set()


def test_pair_ops_on_identical_docs(make_docs):
    """Every LSH bucket holds every doc and every gram is shared."""
    rows, docs = make_docs([BASE] * 6)
    assert len(brute_jaccard(rows, 3, 0.12)) == 15
    lsh = _check_pair_ops(rows, docs)
    assert lsh == set(itertools.combinations(sorted(i for i, _ in rows), 2))


def test_pair_ops_on_docs_shorter_than_k_and_n(make_docs):
    """No doc reaches k=3 tokens; then one doc does, alone in its group.
    No doc reaches the spans' n=8: coverage 0 everywhere."""
    short = ["", "tiny", "two words", "a b"]
    for texts in (short, short + ["a b c d e f g"]):
        rows, docs = make_docs(texts)
        assert _check_pair_ops(rows, docs) == set()


def test_ngram_groups_without_pairs(make_docs):
    """Docs that share no shingle, spread over ≥3 blocks: every block-pair
    group returns an empty Arrow table of the declared types."""
    texts = [f"w{i} x{i} y{i} z{i}" for i in range(8)]
    rows, docs = make_docs(texts)
    out = ngram_jaccard_pairs(docs, threshold=0.0, block_target=2, n_rows=len(rows))
    assert out.collect() == []
    # mixed: one shared pair among the no-pair groups
    rows, docs = make_docs(texts + [texts[0]])
    out = ngram_jaccard_pairs(docs, threshold=0.0, block_target=2, n_rows=len(rows))
    assert _jaccard(out) == {(rows[0][0], rows[8][0]): 1.0}
