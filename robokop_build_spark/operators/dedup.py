"""Deduplication operators for large-scale corpus curation.

All operators take a documents DataFrame with (id_col, text_col) and are
pure DataFrame compositions (JVM-side, whole-stage-codegen-friendly) except
simhash, which needs bit-twiddling and runs as an Arrow-batched pandas UDF.

Hashing note: content hashes use md5 (hex string) rather than xxhash64 so
the DuckDB correctness oracle can reproduce them bit-for-bit; at cluster
scale md5-vs-xxhash is a constant factor inside codegen, not a shuffle
change.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register_persisted


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    kept (min) id and the duplicate count. Map-side partial agg → single
    shuffle on the content hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    block_target: int = 4096,
    *,
    n_rows: int,
) -> DataFrame:
    """Near-dup pairs by word-k-gram Jaccard ≥ threshold — the EXHAUSTIVE
    form: every pair of docs sharing ≥1 distinct shingle is scored with
    |A∩B| / (|A|+|B|−|A∩B|).

    Exact but inherently quadratic in candidate pairs; keep it for small
    corpora / exhaustive audits. At scale run lsh_verified_near_duplicates
    instead: identical jaccard values, computed only on MinHash-LSH
    candidate pairs — linear end-to-end.

    Shape: block-decomposed intersection counting instead of a shingle
    self-join (which emitted one JVM row per (pair, shared shingle): ~113M
    rows at SF=1). Each doc's distinct-shingle set comes from the Arrow
    shingler once, is tagged with its block b = xxhash64(id) mod
    ⌈n_rows/block_target⌉ (≤96 blocks; n_rows is the caller's footer
    count, so planning runs no job) and is sent to every block pair
    (least(b, j), greatest(b, j)) it belongs to. ONE shuffle on the block
    pair then feeds a grouped Arrow kernel that integer-codes the group's
    shingles (pyarrow dictionary_encode) and counts intersections with
    numpy (sort + searchsorted + unique). The kernel emits exact integer
    (n_shared, n_a, n_b) triples for a conservatively prefiltered
    candidate set; the jaccard division/round/threshold runs in Spark, so
    no float crosses the Python boundary. Work and shuffle volume are both
    quadratic in blocks — the honest cost of an exhaustive audit — but at
    memory bandwidth rather than shuffle machinery speed. No intermediate
    is persisted: the shingler runs once, upstream of the one shuffle.
    """
    id_t = dict(docs.dtypes)[id_col]
    n_blocks = max(1, min(96, -(-int(n_rows) // block_target)))
    b = F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    j = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    tagged = (
        _shingle_arrays(docs, id_col, text_col, k)
        .select("id", F.array_distinct("sh").alias("ss"), b.alias("b"), j.alias("j"))
        .select(
            "id",
            "ss",
            "b",
            F.least("b", "j").alias("bx"),
            F.greatest("b", "j").alias("by"),
        )
    )
    # conservative kernel-side prefilter: true ratio of every emitted pair
    # is ≥ threshold − 1e−6; the exact round+filter happens in Spark below,
    # so borderline extras are dropped by the same arithmetic as always
    pre = float(threshold) - 1e-6

    def count_pairs(key, table):
        # one block pair per call: the x side is block bx, the y side block
        # by (the same rows when bx == by). Shingles stay Arrow buffers:
        # dictionary_encode integer-codes them in C++, so no Python string
        # is materialized for the shingle occurrences
        import pyarrow as pa
        import pyarrow.compute as pc

        bx, by = key[0].as_py(), key[1].as_py()
        same = bx == by
        x = table.filter(pc.equal(table.column("b"), bx))
        y = x if same else table.filter(pc.equal(table.column("b"), by))
        ss_x = x.column("ss").combine_chunks()
        ss_y = ss_x if same else y.column("ss").combine_chunks()
        cnt_x = pc.list_value_length(ss_x).to_numpy().astype(np.int64)
        cnt_y = pc.list_value_length(ss_y).to_numpy().astype(np.int64)
        sx = ss_x.flatten()
        sh = sx if same else pa.concat_arrays([sx, ss_y.flatten()])
        codes = (
            pc.dictionary_encode(sh).indices.to_numpy(zero_copy_only=False)
        ).astype(np.int64)
        ex_sid = codes[: len(sx)]
        ey_sid = codes if same else codes[len(sx) :]
        ex_doc = np.repeat(np.arange(len(cnt_x)), cnt_x)
        ey_doc = np.repeat(np.arange(len(cnt_y)), cnt_y)
        order = np.argsort(ey_sid, kind="stable")
        ys, yd = ey_sid[order], ey_doc[order]
        lo = np.searchsorted(ys, ex_sid, "left")
        m = np.searchsorted(ys, ex_sid, "right") - lo
        tot = int(m.sum())
        starts = np.concatenate(([0], np.cumsum(m)[:-1])).astype(np.int64)
        idx = np.repeat(lo - starts, m) + np.arange(tot)
        ny = max(len(cnt_y), 1)
        key = np.repeat(ex_doc, m) * ny + yd[idx]
        ukey, shared = np.unique(key, return_counts=True)
        xi, yi = ukey // ny, ukey % ny
        na, nb = cnt_x[xi], cnt_y[yi]
        cand = shared >= pre * (na + nb - shared)
        xi, yi, na, nb, shared = xi[cand], yi[cand], na[cand], nb[cand], shared[cand]
        ida = x.column("id").take(pa.array(xi, pa.int64()))
        idb = y.column("id").take(pa.array(yi, pa.int64()))
        # same block: every pair arrives in both orders (and as a self
        # pair); different blocks: once, in either order
        lt = pc.less(ida, idb)
        keep = (lt if same else pc.not_equal(ida, idb)).to_numpy(zero_copy_only=False)
        swap = ~lt.to_numpy(zero_copy_only=False)
        mask = pa.array(keep, pa.bool_())
        return pa.table(
            {
                "id_a": pc.if_else(lt, ida, idb).filter(mask),
                "id_b": pc.if_else(lt, idb, ida).filter(mask),
                "n_shared": shared[keep],
                "n_a": np.where(swap, nb, na)[keep],
                "n_b": np.where(swap, na, nb)[keep],
            }
        )

    counted = tagged.groupBy("bx", "by").applyInArrow(
        count_pairs,
        schema=f"id_a {id_t}, id_b {id_t}, n_shared long, n_a long, n_b long",
    )
    return (
        counted.withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
# the auto_minhash_rows_per_band rule (see its docstring)
MINHASH_BASE_ROWS_PER_BAND = 2
MINHASH_BASE_CORPUS = 100_000
MINHASH_ROWS_GROWTH = 32


def auto_minhash_rows_per_band(n_rows: int) -> int:
    """Rows-per-band r that scales with the corpus so background-similarity
    collisions stay ~linear in n.

    A FIXED r makes expected false-candidate volume grow quadratically:
    pairs × P(band match) = C(n,2)·bands·s_bg^r with s_bg the background
    (random-pair) Jaccard. Measured at SF=32 (1.6M synthetic docs,
    r=2): 83.9M candidate pairs from ~16k true near-dups — the corpus
    outgrew the band width, the same failure mode auto_signature_bits fixed
    for hyperplane LSH in round 3. Raising r by 1 multiplies the background
    rate by s_bg (≲1e-3 for natural corpora at near-dup thresholds) while
    n² grows only ~10^3 per 32× corpus growth, so r += 1 per 32× over the
    100k-doc base corpus keeps candidates O(n). Recall trade: per-band match
    probability for TRUE near-dups at similarity s is s^r — at s ≥ 0.8 and
    8 bands, recall stays >0.97 even at r=5; tune bands upward if hunting
    lower-similarity pairs at huge n."""
    import math

    if n_rows <= MINHASH_BASE_CORPUS:
        return MINHASH_BASE_ROWS_PER_BAND
    return MINHASH_BASE_ROWS_PER_BAND + math.ceil(
        math.log(n_rows / MINHASH_BASE_CORPUS) / math.log(MINHASH_ROWS_GROWTH)
    )


def _shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, sh: array<string>) of word-k-gram shingles, empty-doc rows
    dropped (they can neither sign nor pair).

    Arrow-kernel form (round 8): the expression form (split →
    transform(slice+array_join)) runs through Spark's interpreted
    higher-order functions — measured 15 s alone at SF=1, the hidden floor
    under every LSH query. Python's str.split / " ".join produce the
    IDENTICAL token and gram strings (java regex " " == literal space,
    both keep empty tokens, array_join == " ".join on non-null arrays),
    pinned by the unchanged DuckDB twins."""
    id_t = dict(docs.dtypes)[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, grams = [], []
            for did, x in zip(pdf[id_col], pdf[text_col]):
                toks = (x or "").split(" ")
                n = len(toks)
                if n < k:
                    continue
                ids.append(did)
                grams.append(
                    [" ".join(toks[i : i + k]) for i in range(n - k + 1)]
                )
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "sh": pd.Series(grams, dtype=object)}
                )

    from .partitioning import widen_for_kernel

    return widen_for_kernel(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"id {id_t}, sh array<string>"
    )


def _resolve_num_hashes(num_hashes: int | None, bands: int, n_rows: int | None) -> int:
    """num_hashes=None → corpus-adaptive band width (auto_minhash_rows_per_band
    × bands) over the caller's row count (a footer count: planning runs no
    job)."""
    if num_hashes is not None:
        return num_hashes
    if n_rows is None:
        raise ValueError("num_hashes=None needs n_rows to pick the band width")
    return bands * auto_minhash_rows_per_band(n_rows)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int | None = 16,
    bands: int = 4,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH — the scale path:
    cost is (docs × bands) rows hashed into buckets + the pairs within each
    bucket, never an all-pairs comparison.

    bands of rows r = num_hashes/bands; band key = md5(concat of the band's
    slice). Pairs sharing ≥1 band key are candidates (dedup'd).
    num_hashes=None picks r from the corpus size (auto_minhash_rows_per_band)
    so candidate volume stays O(n) as the corpus grows.
    """
    num_hashes = _resolve_num_hashes(num_hashes, bands, n_rows)
    sh = _shingle_arrays(docs, id_col, text_col, k)
    return _lsh_candidate_pairs(sh, num_hashes, bands)


def _banded_keys(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bkey) banded-signature table from a (id, sh) shingle-array
    table — the projection shared by the batch bucket grouping
    (_lsh_candidate_pairs) and the streaming stateful detector (parity by
    construction).

    MinHash family: the affine g_i = (h1 + i·h2) mod MINHASH_PRIME
    (Carter–Wegman 2-universal construction) over the two 32-bit halves of
    ONE md5 per shingle, minimized over the doc's shingles. The DuckDB twin
    (minhash_sql) runs the identical arithmetic.

    Arrow-vectorized (round 8), replacing an interpreted
    zip_with/least fold that was the dominant cost of every LSH query
    (measured ~90 of dedup_minhash_lsh's 100 s at SF=1): one md5 per
    UNIQUE shingle (dict-cached across batches, exactly the corpus-repeat
    structure the simhash kernel already exploits), the affine probes as
    one (entries × num_hashes) int64 matrix, and the per-doc minima via
    np.minimum.reduceat. Exact: h1,h2 < 2^32 so h1 + i·h2 < 2^36 in int64,
    numpy's % on positives equals pmod, str(int) equals the JVM
    long→string cast, and hashlib md5 hex equals Spark's md5 — pinned by
    the DuckDB twin on both sides of the band knee
    (tests/test_queries_oracle.py::test_minhash_generated_oracle_across_band_knee)."""
    if num_hashes % bands:
        # trailing signature components would be silently ignored, weakening
        # recall and desyncing from any oracle built over all hashes
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    r = num_hashes // bands
    id_t = dict(sh.dtypes)["id"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        half_cache: dict[str, tuple[int, int]] = {}
        probe_idx = np.arange(num_hashes, dtype=np.int64)

        def halves_of(tok: str) -> tuple[int, int]:
            v = half_cache.get(tok)
            if v is None:
                d = hashlib.md5(tok.encode()).hexdigest()
                v = (int(d[:8], 16), int(d[8:16], 16))
                half_cache[tok] = v
            return v

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            sh_lists = [np.asarray(x, dtype=object) for x in pdf["sh"]]
            counts = np.array([len(x) for x in sh_lists], dtype=np.int64)
            # empty arrays keep the fold's init sentinel (p repeated), the
            # exact expression-form behavior (callers filter them upstream)
            sig = np.full((n, num_hashes), MINHASH_PRIME, dtype=np.int64)
            nonempty = np.flatnonzero(counts)
            if len(nonempty):
                flat = np.concatenate([sh_lists[i] for i in nonempty])
                # hash-based factorize: O(n) over object strings, vs the
                # comparison sort behind np.unique
                inv, uniq = pd.factorize(flat)
                H = np.empty((len(uniq), 2), dtype=np.int64)
                for u, tok in enumerate(uniq):
                    H[u] = halves_of(tok)
                probes = (
                    H[inv, 0][:, None] + probe_idx[None, :] * H[inv, 1][:, None]
                ) % MINHASH_PRIME
                offsets = np.concatenate(
                    ([0], np.cumsum(counts[nonempty])[:-1])
                )
                sig[nonempty] = np.minimum.reduceat(probes, offsets, axis=0)
            ids = pdf["id"].to_numpy()
            sig_list = sig.tolist()
            out_id, out_band, out_key = [], [], []
            for i in range(n):
                row = sig_list[i]
                did = ids[i]
                for b in range(bands):
                    key = "|".join(str(v) for v in row[b * r : (b + 1) * r])
                    out_id.append(did)
                    out_band.append(b)
                    out_key.append(hashlib.md5(key.encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "id": np.asarray(out_id),
                    "band": np.asarray(out_band, dtype=np.int32),
                    "bkey": out_key,
                }
            )

    return sh.select("id", "sh").mapInPandas(
        run, schema=f"id {id_t}, band int, bkey string"
    )


def _lsh_candidate_pairs(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banded-LSH candidate pairs from a (id, sh) shingle-array table.

    One shuffle on the band key: each (band, bkey) bucket collects its
    sorted distinct ids, and a bucket of m ids emits its C(m, 2) pairs
    (id_a < id_b) by pairing each id with the ids after it. The signature
    kernel runs once, upstream of that shuffle, so nothing is persisted;
    `distinct` folds pairs that share more than one band."""
    buckets = (
        _banded_keys(sh, num_hashes, bands)
        .groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )


def lsh_verified_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int | None = 16,
    bands: int = 4,
    n_rows: int | None = None,
) -> DataFrame:
    """EXACT word-k-gram Jaccard ≥ threshold, computed only on MinHash-LSH
    candidate pairs — the composition that retires ngram_jaccard_pairs'
    all-pairs self-join as the scale path while keeping exact scores.

    Cost shape: LSH is linear (docs × bands bucket rows + the pairs within
    each bucket), and the verify stage is linear in |candidates| — two hash
    joins pulling each candidate's distinct-shingle SET (array_intersect
    inside codegen, no explode blowup), never a shingle self-join whose hot
    keys go quadratic. Output equals
    ngram_jaccard_pairs ∩ lsh-candidates (identical jaccard values); pairs
    the LSH bands miss (below the banding recall curve, tuned by
    num_hashes/bands) are the approximation — the same trade the reference
    makes by only scoring pairs its support generator proposes
    (builder/builder.py:345-361).

    The all-pairs ngram_jaccard_pairs remains the exhaustive-verify path
    for small corpora; THIS op is the one to run at 100 TB.
    """
    from pyspark import StorageLevel

    num_hashes = _resolve_num_hashes(num_hashes, bands, n_rows)
    sh = _shingle_arrays(docs, id_col, text_col, k)
    # consumed twice (signature path + shingle-set verify side); persist so
    # the split/slice scan runs once. Registered for post-action release.
    sh = register_persisted(sh.persist(StorageLevel.MEMORY_AND_DISK))
    cands = _lsh_candidate_pairs(sh, num_hashes, bands)
    sets = sh.select("id", F.array_distinct("sh").alias("shset"))
    a = sets.select(F.col("id").alias("id_a"), F.col("shset").alias("sh_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("shset").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_doc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span coverage — the repeated-n-gram span
    signal of the big public pretraining pipelines (MassiveText /
    RefinedWeb run exactly this shape of filter; the exact-substring
    variant is Lee et al. 2022's suffix-array dedup, whose hash-n-gram
    approximation this is): for every document, how many of its tokens sit
    inside a word n-gram that also appears in at least min_df-1 OTHER
    documents. Complements text.repetition_stats (WITHIN-doc repetition —
    boilerplate/loop output) and the pairwise dedup family (which scores
    whole-doc similarity, not shared spans): a doc can be globally unique
    yet 40% license-header.

    Shape at 100 TB: the positional gram stream is one row per token
    (linear; grams are md5-hashed BEFORE the shuffle so the shuffle key is
    a fixed-width digest, never the n-word string). Document frequency is
    a window over one shuffle on the digest: the highest dense rank of
    doc_id within a digest is the number of distinct docs holding it, so the
    stream is flagged in place — no aggregate joined back to it, and the
    gram kernel runs once with nothing persisted. Coverage union-length
    needs no interval explode: flagged start positions are sorted per doc
    once and each contributes min(n, gap-to-next) tokens — a single window
    pass. md5 rather than xxhash64 because the digest must be reproducible
    by external engines (same rule as the sampling ops); collisions
    (2^-128) are the declared approximation, exactly as in the MinHash
    family.

    Tokenization matches the MinHash shingles (_shingle_arrays: split on
    single space, case preserved). Docs shorter than n tokens have no grams and report
    coverage 0. Returns one row per input doc:
    (doc_id, n_tokens, dup_tokens, dup_fraction)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("t")
    )
    id_t = dict(docs.dtypes)[id_col]

    # Arrow-kernel positional gram stream (round 8): the expression form
    # (posexplode over interpreted HOF shingles → md5) was the dominant
    # cost. The kernel emits the identical grams with the digest as 16-byte
    # BINARY (md5 bytes == unhex of Spark's md5 hex — digests are internal
    # group keys only, so the narrower key halves the shuffle; the twin
    # recomputes its own), dict-cached per unique gram.
    def gram_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        dig: dict[str, bytes] = {}
        for pdf in batches:
            out_id, out_pos, out_h = [], [], []
            for did, x in zip(pdf[id_col], pdf[text_col]):
                tk = (x or "").split(" ")
                nt = len(tk)
                if nt < n:
                    continue
                for i in range(nt - n + 1):
                    g = " ".join(tk[i : i + n])
                    d = dig.get(g)
                    if d is None:
                        d = hashlib.md5(g.encode()).digest()
                        dig[g] = d
                    out_id.append(did)
                    out_pos.append(i)
                    out_h.append(d)
            if out_id:
                yield pd.DataFrame(
                    {
                        "doc_id": out_id,
                        "pos": out_pos,
                        "h": pd.Series(out_h, dtype=object),
                    }
                )

    from .partitioning import widen_for_kernel

    # a doc with a null id joins back to no row and counts toward no
    # document frequency (the twin's count(DISTINCT doc_id) skips nulls,
    # a dense rank would not): it emits no grams
    grams = widen_for_kernel(
        docs.select(id_col, text_col).where(F.col(id_col).isNotNull())
    ).mapInPandas(gram_rows, schema=f"doc_id {id_t}, pos int, h binary")
    by_gram = Window.partitionBy("h")
    doc_rank = F.dense_rank().over(by_gram.orderBy("doc_id"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        grams.withColumn("r", doc_rank)
        .withColumn("df", F.max("r").over(by_gram))
        .filter(F.col("df") >= min_df)
        # digest served as the grouping key only: drop it before the
        # per-doc window shuffle (guide §2.3 — project before the exchange)
        .select("doc_id", "pos")
        .withColumn(
            "contrib",
            F.least(
                F.lit(n), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(n))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("dup_tokens"))
    )
    n_tokens = F.size("t").cast("long")
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return toks.join(cov, "doc_id", "left").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        dup.alias("dup_tokens"),
        F.round(dup / n_tokens, 6).alias("dup_fraction"),
    )


SIMHASH_SCHEMA = "id string, simhash long"


def simhash_py(text: str) -> int:
    """Reference scalar SimHash (signed int64) — the definition the batch
    UDF below must reproduce bit-for-bit; also used to build the DuckDB
    oracle's signature fixture (a genuinely separate code path from the
    vectorized batch kernel)."""
    import hashlib

    toks = [t for t in (text or "").split(" ") if t]
    if not toks:
        return 0
    votes = [0] * 64
    for t in toks:
        d = hashlib.md5(t.encode()).digest()[:8]
        v = int.from_bytes(d, "big")
        for b in range(64):
            votes[b] += (v >> (63 - b)) & 1
    sh = 0
    for b in range(64):
        if votes[b] * 2 > len(toks):
            sh |= 1 << (63 - b)
    return sh - (1 << 64) if sh >= (1 << 63) else sh


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens, Arrow-batched and vectorized
    across the whole batch: one np.add.at scatter per batch accumulates all
    token votes; md5 runs once per *unique* token (cached across batches).
    md5-derived token hashes keep it engine-reproducible (the DuckDB oracle
    replays the same family via simhash_py)."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dig_cache: dict[str, bytes] = {}  # corpus tokens repeat heavily

        for pdf in batches:
            n = len(pdf)
            doc_tokens = [
                [t for t in (x or "").split(" ") if t] for x in pdf["text"]
            ]
            counts = np.array([len(ts) for ts in doc_tokens], dtype=np.int64)
            flat = [t for ts in doc_tokens for t in ts]
            sh = np.zeros(n, dtype=np.int64)
            if flat:
                # hash-based factorize: O(n) over object strings, vs the
                # comparison sort behind np.unique
                inv, uniq = pd.factorize(np.asarray(flat, dtype=object))
                digs = np.empty((len(uniq), 8), dtype=np.uint8)
                for i, t in enumerate(uniq):
                    d = dig_cache.get(t)
                    if d is None:
                        d = hashlib.md5(t.encode()).digest()[:8]
                        dig_cache[t] = d
                    digs[i] = np.frombuffer(d, dtype=np.uint8)
                bits_u = np.unpackbits(digs, axis=1)  # (n_uniq, 64), MSB-first
                doc_idx = np.repeat(np.arange(n), counts)
                # votes = per-doc token-count vector × unique-token bit
                # matrix — exact integer arithmetic either way; the matmul
                # form avoids np.add.at's unbuffered scatter (measured ~10s
                # of the SF=1 kernel) and is used whenever the dense count
                # matrix stays small; the scatter path remains for corpora
                # with large per-batch vocabularies
                n_uniq = len(uniq)
                if n * n_uniq <= 32_000_000:
                    cnt = np.bincount(
                        doc_idx * n_uniq + inv, minlength=n * n_uniq
                    ).reshape(n, n_uniq)
                    votes = cnt @ bits_u.astype(np.int64)
                else:
                    votes = np.zeros((n, 64), dtype=np.int64)
                    np.add.at(votes, doc_idx, bits_u[inv])
                maj = (votes * 2) > counts[:, None]  # zero-token rows: all False
                packed = np.packbits(maj.astype(np.uint8), axis=1)  # MSB-first
                sh = (
                    packed.view(">u8").ravel().astype(np.uint64).view(np.int64)
                )
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "simhash": sh})

    from .partitioning import widen_for_kernel

    return widen_for_kernel(
        docs.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(text_col).alias("text"),
        )
    ).mapInPandas(run, schema=SIMHASH_SCHEMA)


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-pairs by Hamming distance ≤ max_hamming over 64-bit simhashes,
    banded into 4×16-bit chunks (pigeonhole: distance ≤3 ⇒ ≥1 identical
    chunk) — bucket-join, not all-pairs.

    max_bucket_size: optional skew guard, mirroring
    similarity.embedding_near_duplicates — (chunk, ckey) buckets larger
    than the bound are dropped before the self-join. A boilerplate-heavy
    corpus (many documents sharing near-identical token distributions)
    drives some 16-bit chunk values degenerate, and one such bucket goes
    quadratic (measured: 637s / 12.6M pairs at 1.6M synthetic docs over a
    31-word vocabulary). Pairs in a dropped bucket still surface through
    the other chunks: at max_hamming ≤ 2 a pair matches ≥ 2 of the 4
    chunks, so single-bucket drops lose nothing unless BOTH shared chunks
    are degenerate; at max_hamming == 3 only one match is guaranteed and a
    drop is a genuine recall trade (the knob is opt-in and None = exact)."""
    chunks = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("chunk", "ckey")
        chunks = (
            chunks.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    # hamming filter BEFORE the dedup shuffle: on homogeneous corpora the
    # bucket join can emit tens of millions of candidates; filtering inline
    # (inside the join's codegen stage) keeps the exchange small
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .distinct()
    )
