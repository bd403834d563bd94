"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, sequential-order arithmetic
in an Arrow kernel. Scale paths: IVF (cluster-pruned) top-k, SemDeDup
(pairs compared only within an IVF cell), and embedding-cosine
near-duplicate detection for corpus curation with LSH-bucketed
(random-hyperplane signatures) candidate generation, so a 1000-executor
cluster never materializes the full cross product. Every IVF-cell user
assigns cells through one Arrow kernel (_with_cells) that crosses the
Python boundary once per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import register_persisted


def cosine_expr(a, b):
    """cosine(a, b) as a column expression (double), sequential-order
    arithmetic so external oracles reproduce it exactly. A zero norm
    gives null (try_divide; ANSI `/` would fail the query), as do a null
    vector and vectors of different lengths."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return F.try_divide(dot, na * nb)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries is small (broadcast) → the join is a map-side nested loop over
    the corpus scan; per-group top-k via window (rank ties broken by
    neighbor id for run-to-run determinism). Score rounded to 6dp so
    cross-engine fp noise can't flip equality checks.

    The dot/norm arithmetic runs in an Arrow kernel (round 8): np.cumsum
    accumulates left-to-right in the same IEEE order as the JVM
    sequential fold (and the twin's list_reduce), so the doubles are
    bit-identical while the per-pair interpreted higher-order functions
    (the dominant cost — 200k pairs × 3 folds at SF=1) disappear; the
    division and 6dp round stay in the same Spark expression as before.

    A pair with a null or empty vector, vectors of different lengths, or a
    zero-norm vector scores null (ranked after every scored neighbor)
    instead of failing the query."""
    import numpy as np
    import pandas as pd

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    from .partitioning import widen_for_kernel

    c = widen_for_kernel(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        )
    )
    id_t = dict(embeddings.dtypes)[id_col]
    qid_t = dict(queries.dtypes)[id_col]

    def score_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qv, nv = pdf["qvec"].to_numpy(), pdf["nvec"].to_numpy()
            lq = np.array([-1 if v is None else len(v) for v in qv])
            ln = np.array([-1 if v is None else len(v) for v in nv])
            # NaN (a null score) unless both vectors are non-empty and of
            # one length; pairs are stacked per length
            dot, na, nb = (np.full(len(pdf), np.nan) for _ in range(3))
            ok = (lq == ln) & (lq > 0)
            for d in np.unique(lq[ok]):
                rows = np.flatnonzero(ok & (lq == d))
                Q = np.stack([np.asarray(qv[i], np.float64) for i in rows])
                Nv = np.stack([np.asarray(nv[i], np.float64) for i in rows])
                dot[rows] = np.cumsum(Q * Nv, axis=1)[:, -1]
                na[rows] = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
                nb[rows] = np.sqrt(np.cumsum(Nv * Nv, axis=1)[:, -1])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "dot": dot,
                    "na": na,
                    "nb": nb,
                }
            )

    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .mapInPandas(
            score_rows,
            schema=(
                f"query_id {qid_t}, neighbor_id {id_t}, "
                "dot double, na double, nb double"
            ),
        )
        .withColumn(
            # try_divide: a zero norm scores null (ANSI `/` would fail)
            "score",
            F.round(F.try_divide(F.col("dot"), F.col("na") * F.col("nb")), 6),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def make_planes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    import random

    rng = random.Random(f"planes:{seed}")
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_bits)]


def auto_signature_bits(
    n_rows: int, floor_bits: int = 8, target_bucket: int = 4
) -> int:
    """Signature width that keeps expected bucket population ~constant as
    the corpus grows: bits = log2(n / target_bucket), floored at
    floor_bits. A FIXED width means bucket population grows linearly with
    the corpus and the per-bucket self-join goes quadratic (measured: 2^8
    buckets × 20k vectors → 6M candidate pairs for 197 true pairs at
    SF=1); scaling bits with log(n) keeps candidates O(n·target)."""
    import math

    return max(floor_bits, math.ceil(math.log2(max(n_rows, 1) / target_bucket)))


def near_duplicate_planes(
    dim: int, n_tables: int, bits_per_table: int, seed: int = 42
) -> list[tuple[int, int, list[float]]]:
    """(table, bit, plane) rows for the banded near-dup signatures —
    driver-side constants, also exported as a parquet fixture so the DuckDB
    oracle reproduces the buckets bit-for-bit."""
    return [
        (t, b, p)
        for t in range(n_tables)
        for b, p in enumerate(make_planes(dim, bits_per_table, seed=f"{seed}:{t}"))
    ]


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_tables: int = 4,
    bits_per_table: int | None = None,
    seed: int = 42,
    max_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold), banded multi-table
    LSH (mirrors the MinHash banding design, dedup.py): a pair is a
    candidate when ANY table's full signature matches — recall compounds
    across tables (1-(1-p^bits)^tables) while each table's bucket population
    shrinks geometrically with bits_per_table, so per-bucket self-joins stay
    small as the corpus grows (the round-1 single-table design had a FIXED
    1024 buckets → linear bucket growth → quadratic join at 100 TB).

    max_bucket_size: optional skew guard — buckets larger than the bound are
    dropped before the self-join (a degenerate bucket, e.g. all-zero
    embeddings, would otherwise go quadratic); near-dup pairs in a dropped
    bucket still surface through the other n_tables-1 tables.

    bits_per_table=None (default) sizes the signature from the corpus
    row count n_rows (auto_signature_bits; the caller passes it, so the
    operator runs no count() job), keeping expected bucket population —
    and therefore candidate volume per row — constant as the corpus
    grows. Recall per table is p^bits (p = 1 - θ/π), so wider signatures
    trade recall for candidate discipline; at true web scale the recall
    curve is the argument for graduating to IVF/multi-probe, which this
    banded layout is the on-ramp for.
    """
    if bits_per_table is None:
        if n_rows is None:
            raise ValueError("bits_per_table=None needs the corpus row count n_rows")
        bits_per_table = auto_signature_bits(n_rows)
    by_table = near_duplicate_planes(dim, n_tables, bits_per_table, seed)
    # Arrow-vectorized signature kernel (round 8): the expression form
    # (n_tables × bits_per_table sequential-fold dots per vector through
    # interpreted higher-order functions) measured ~6 s of the 9 s query at
    # SF=1. numpy reproduces the EXACT fold arithmetic: np.cumsum is a
    # sequential left-to-right accumulation, so cumsum(products)[-1] is
    # bit-identical to the JVM aggregate fold (same IEEE ops, same order),
    # the sign test and power-of-two bit packing are exact integers, and
    # the norm is the same sqrt of a sequential sum of squares. Values are
    # pinned by the unchanged DuckDB twin (plane fixtures + list_reduce).
    import numpy as np

    nested = [[p for tt, _, p in by_table if tt == t] for t in range(n_tables)]
    P = np.asarray(nested, dtype=np.float64)  # (tables, bits, dim)
    id_t = dict(embeddings.dtypes)[id_col]
    vec_t = dict(embeddings.dtypes)[vec_col]
    weights = (np.int64(1) << np.arange(bits_per_table, dtype=np.int64))

    def sig_rows(batches):
        import pandas as pd

        for pdf in batches:
            # a degenerate vector (_valid_vectors) gets no signature, so it
            # is never a candidate
            ok, X = _valid_vectors(pdf[vec_col].to_numpy(), dim)
            if not len(X):
                continue
            pdf = pdf[ok]
            vecs = pdf[vec_col]
            nrm = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
            for t in range(n_tables):
                # sequential-order dots: cumsum along dim == the JVM fold
                dots = np.cumsum(X[:, None, :] * P[t][None, :, :], axis=2)[
                    :, :, -1
                ]
                sig = ((dots >= 0) * weights[None, :]).sum(axis=1)
                yield pd.DataFrame(
                    {
                        "id": pdf[id_col],
                        "vec": vecs,
                        "nrm": nrm,
                        "tbl": np.full(len(pdf), t, dtype=np.int32),
                        "sig": sig.astype(np.int64),
                    }
                )

    from .partitioning import widen_for_kernel

    sig = widen_for_kernel(embeddings.select(id_col, vec_col)).mapInPandas(
        sig_rows,
        schema=f"id {id_t}, vec {vec_t}, nrm double, tbl int, sig long",
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("tbl", "sig")
        sig = sig.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
            F.col("_n") <= max_bucket_size
        ).drop("_n")
    # materialize before the self-join: both sides otherwise recompute the
    # n_tables × bits_per_table signature dots over the full corpus
    from pyspark import StorageLevel

    sig = register_persisted(sig.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = sig.alias("a"), sig.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.vec"),
            F.col("b.vec"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "score",
            F.round(F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm")), 6),
        )
        .filter(F.col("score") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "score")
        .distinct()
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus by a k-means coarse quantizer
    (the SAME deterministic trainer and cell kernel IVF uses —
    ivf_train_centroids / _with_cells), then compare pairs ONLY within
    a cell, so total pairwise work is sum(|cell|²) ≈ n^1.5 at the √n nlist
    sizing rule instead of n² — the property that makes semantic dedup
    runnable on a 100-TB embedding table. The cell id is the shuffle key;
    each cell's pair set is local to one partition group.

    Keeper rule (the paper's): within a near-duplicate pair the member with
    the LOWER cosine to its cell centroid survives (it carries more novel
    signal); ties broken by lower id. A row is therefore DROPPED when some
    other row in its cell has pairwise cosine ≥ threshold and outranks it
    under (cent_sim ASC, id ASC). Deterministic end to end: stride-init
    k-means, 6dp-rounded L2 argmin assignment (stable lowest-cid ties),
    6dp-rounded cosines — every constant and tie rule replicable in an
    external SQL engine from the shared centroid literals.

    Returns the DROPPED rows: (id, cid, dup_of, score) where dup_of is the
    strongest dominating near-duplicate (score DESC, id ASC). A degenerate
    vector (null, empty, of another length, zero norm) has no cell, so it
    is never compared, dropped or named as dup_of.

    Each candidate pair is scored by the JVM sequential-fold cosine —
    whole-stage codegen, zero Python, and the exact arithmetic order the
    generated DuckDB twin states.

    Reference analog: none (the reference pipeline has no embedding ops);
    beyond-§2 LLM-pipeline family per SURVEY.md, next to
    embedding_near_duplicates (LSH recall-bounded pairs) — this operator is
    the curation-policy variant: partition-exhaustive within cells, with an
    explicit keep/drop election rather than a pair list.
    """
    import numpy as np

    from pyspark import StorageLevel

    from .partitioning import widen_for_kernel

    C = [[float(v) for v in c] for c in centroids]
    sig = _with_cells(
        widen_for_kernel(
            embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        ),
        C,
        "vec",
    )
    # centroid table is nlist(≈√n)-rows — broadcast; cent_sim and the row
    # norm are computed ONCE per row (JVM fold), before the self-join that
    # would otherwise re-derive them per candidate pair
    spark = embeddings.sparkSession
    cents_df = spark.createDataFrame(
        [(i, c, float(np.sqrt(sum(v * v for v in c)))) for i, c in enumerate(C)],
        "cid int, c array<double>, cnrm double",
    )
    nrm = F.sqrt(
        F.aggregate(
            F.col("vec"), F.lit(0.0), lambda a, v: a + v.cast("double") * v.cast("double")
        )
    )
    dot_c = F.aggregate(
        F.zip_with(F.col("vec"), F.col("c"), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    sig = (
        sig.join(F.broadcast(cents_df), "cid")
        .withColumn("nrm", nrm)
        .withColumn(
            "cent_sim",
            F.round(F.try_divide(dot_c, F.col("nrm") * F.col("cnrm")), 6),
        )
        .select("id", "cid", "vec", "nrm", "cent_sim")
    )
    # pre-cast the vector to double ONCE per row (identical values to the
    # old per-pair element casts) so the pair fold below runs over doubles
    sig = sig.withColumn("vec", F.col("vec").cast("array<double>"))
    sig = register_persisted(sig.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = sig.alias("a"), sig.alias("b")
    pair_dot = F.aggregate(
        F.zip_with(
            F.col("a.vec"), F.col("b.vec"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # score each UNORDERED pair once (a.id < b.id) — the dot/norm/round are
    # symmetric, so this halves the interpreted fold work vs the old
    # a.id != b.id self-join — then decide dominance in both directions:
    # with a.id < b.id, "b dominates a" reduces to b.cent_sim < a.cent_sim,
    # and "a dominates b" to a.cent_sim <= b.cent_sim (the id tie-break
    # always favors the lower id). Identical pair set and scores.
    pairs = (
        a.join(b, "cid")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "score",
            F.round(F.try_divide(pair_dot, F.col("a.nrm") * F.col("b.nrm")), 6),
        )
        .filter(F.col("score") >= threshold)
        .select(
            "cid",
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            F.col("a.cent_sim").alias("csa"),
            F.col("b.cent_sim").alias("csb"),
            "score",
        )
    )
    # exactly one member of a qualifying pair dominates the other, so this
    # is a projection, not a union: b dominates a iff csb < csa; otherwise
    # (csa < csb, or the tie, which favors the lower id) a dominates b
    b_wins = F.col("csb") < F.col("csa")
    dominated = pairs.select(
        "cid",
        "score",
        F.when(b_wins, F.col("ida")).otherwise(F.col("idb")).alias("id"),
        F.when(b_wins, F.col("idb")).otherwise(F.col("ida")).alias("dup_of"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("dup_of"))
    return (
        dominated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "cid", "dup_of", "score")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-pruned scale path for top-k search.
# Beyond-reference LLM-pipeline operator (SURVEY.md §2 similarity-search
# family; the top-k counterpart of the hyperplane-LSH near-dup path, as
# IVF complements hyperplane LSH in production vector stores): a
# deterministic k-means coarse quantizer partitions the corpus into nlist
# cells, queries probe only the nprobe nearest cells, and exact cosine runs
# on that slice alone.


def auto_nlist(n_rows: int, floor: int = 8, cap: int = 65_536) -> int:
    """nlist ~ sqrt(n): keeps cell population ~sqrt(n) so probe cost and
    cell-scan cost grow together (the standard IVF sizing rule). Floored so
    tiny fixtures still exercise multi-cell pruning; capped because past
    ~65k cells the centroid scan itself needs its own index."""
    import math

    return max(floor, min(cap, int(round(math.sqrt(max(n_rows, 1))))))


def ivf_train_centroids(
    vectors, nlist: int, iters: int = 5
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a training sample (numpy, driver
    side — at 100 TB you train on a bounded sample, never the corpus).

    Determinism contract: stride init over the id-ordered sample (no RNG),
    fixed iteration count, first-index argmin tie-break, empty cells keep
    their previous centroid. Output rounded to 6dp so the SAME literal
    centroid table embeds identically in the Spark plan and any external
    oracle engine — cross-engine parity is by shared constants, not
    re-derivation."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    n = len(X)
    nlist = max(1, min(nlist, n))
    cents = X[np.arange(nlist) * (n // nlist)].copy()
    xsq = (X**2).sum(axis=1)
    for _ in range(iters):
        # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x.c  (no n*nlist*dim blowup)
        d = xsq[:, None] + (cents**2).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
        assign = d.argmin(axis=1)
        for j in range(nlist):
            members = X[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in np.round(cents, 6)]


def _cell_distances(X, C):
    """The ONE cell-distance kernel every IVF code path shares: 6dp-rounded
    squared L2 of each row of X to each centroid (argmin / stable argsort
    over it = the assignment and probe tie rules). Centralized because the
    bit-exact parity between the live operator, the calibrators and the
    generated DuckDB twin rides on this exact arithmetic — a drifted
    copy would break them silently."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    return np.round(
        (X**2).sum(axis=1)[:, None] + (C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T),
        6,
    )


def _valid_vectors(vecs, dim: int):
    """(mask, X) over one Arrow batch's vector column: which rows have a
    cell — non-null, `dim` long, non-zero norm — and those rows stacked as
    float64. Any other vector is degenerate: cosine is undefined for it."""
    import numpy as np

    ok = np.array([v is not None and len(v) == dim for v in vecs], dtype=bool)
    if not ok.any():
        return ok, np.empty((0, dim))
    X = np.stack([v for v, keep in zip(vecs, ok) if keep]).astype(np.float64)
    nonzero = (X * X).sum(axis=1) > 0
    ok[ok] = nonzero
    return ok, X[nonzero]


def _with_cells(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """`df` plus `cid int`: each row's cell, the argmin of _cell_distances
    (lowest cid on ties). The one cell-assignment kernel — ivf_assign,
    ivf_topk and semantic_dedup all call it; it crosses the Arrow boundary
    once per batch. A degenerate vector (_valid_vectors) gets a null cid,
    so it falls out of every join on cid."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    dim = len(centroids[0])

    def assign(batches):
        for pdf in batches:
            ok, X = _valid_vectors(pdf[vec_col].to_numpy(), dim)
            cid = pd.Series(pd.NA, index=pdf.index, dtype="Int32")
            if len(X):
                cid[ok] = _cell_distances(X, centroids).argmin(axis=1)
            yield pdf.assign(cid=cid)

    schema = StructType(df.schema.fields + [StructField("cid", IntegerType())])
    return df.mapInPandas(assign, schema=schema)


def ivf_calibrate_nprobe(
    vectors,
    centroids: list[list[float]],
    k: int = 5,
    target_recall: float = 0.9,
    margin: float = 0.02,
    n_calibration: int = 128,
) -> tuple[int, float, float]:
    """Recall-targeted probe depth: the smallest nprobe whose measured
    recall@k on the TRAINING SAMPLE reaches target_recall + margin.
    Returns (nprobe, calibration_recall, estimated_scan_fraction).

    A fixed nprobe rule (the old max(4, nlist//8)) encodes an assumption
    about corpus cluster structure; on a weakly clustered corpus it
    silently under-recalls (measured 0.62 recall@5 on the driver corpus —
    round-5 verdict). Calibration measures the actual recall/scan curve:
    stride-sampled calibration queries from the training sample, exact
    cosine top-k within the sample as ground truth, then walk nprobe up
    until the target holds. All driver-side numpy over the SAME bounded
    sample k-means trained on (O(n_calibration x sample) dots — at 100 TB
    this stays a constant-cost calibration pass on the driver), fully
    deterministic (stride sampling, stable argsorts), so the chosen nprobe
    is a shareable literal for external oracle twins exactly like the
    centroid table itself. margin buys generalization headroom: the
    production queries are not the calibration queries, so calibrating to
    the bare floor leaves measure-zero slack. The estimated scan fraction
    is reported, not hidden — on a weakly clustered corpus hitting 0.9
    recall can legitimately cost >50% of the corpus, and pretending
    otherwise would be a silent-cap anti-pattern."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    n, nlist = len(X), len(centroids)
    k = min(k, n - 1)
    if k <= 0:
        return 1, 1.0, 1.0  # degenerate 1-vector sample: recall is vacuous
    step = max(1, n // n_calibration)
    qidx = np.arange(0, n, step)[:n_calibration]
    # cell assignment + per-query probe order, same (distance, cid) rule as
    # ivf_topk's kernels (stable argsort == lower-cid tie-break)
    d = _cell_distances(X, centroids)
    assign = d.argmin(axis=1)
    probe_order = np.argsort(d[qidx], axis=1, kind="stable")
    # ground truth: exact cosine top-k within the sample
    Xn = X / np.maximum(np.linalg.norm(X, axis=1), 1e-30)[:, None]
    sims = Xn[qidx] @ Xn.T
    for r, i in enumerate(qidx):
        sims[r, i] = -2.0
    # nprobe NEEDED to capture a given neighbor = 1 + the rank of its cell
    # in the query's probe order; the recall curve is then the cumulative
    # histogram of needed-ranks — O(nq·nlist) instead of rebuilding probe
    # sets per candidate nprobe (O(nq·nlist²) driver time at the 65k-cell
    # cap, the round-6 review finding)
    rank_of = np.empty_like(probe_order)
    rows = np.arange(len(qidx))[:, None]
    rank_of[rows, probe_order] = np.arange(nlist)[None, :]
    exact = [
        np.argsort(-sims[r], kind="stable")[:k] for r in range(len(qidx))
    ]
    needed = np.concatenate(
        [1 + rank_of[r][assign[exact[r]]] for r in range(len(qidx))]
    )
    goal = min(1.0, target_recall + margin)
    counts = np.bincount(needed, minlength=nlist + 1)
    recall_at = np.cumsum(counts) / (k * len(qidx))  # recall_at[p] = recall@p
    feasible = np.flatnonzero(recall_at[1:] >= goal)
    nprobe = int(feasible[0]) + 1 if len(feasible) else nlist
    cell_pop = np.bincount(assign, minlength=nlist)
    scan = float(cell_pop[probe_order[:, :nprobe]].sum() / (len(qidx) * n))
    return nprobe, float(recall_at[nprobe]), scan


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid) cell assignment of a corpus by _with_cells (6dp-rounded
    L2, stable argmin → lowest cid; null for a degenerate vector) — the
    reusable half of ivf_topk's corpus pass, also needed by exact
    calibration for per-cell population counts."""
    return _with_cells(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col)),
        centroids,
        vec_col,
    ).select("id", "cid")


def ivf_calibrate_nprobe_exact(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    target_recall: float = 0.9,
    margin: float = 0.02,
    n_calibration: int = 128,
    *,
    n_rows: int,
) -> tuple[int, float, float]:
    """Exact (corpus-truth) probe-depth calibration — the production path
    for corpora much larger than the training sample.

    The in-sample estimator (ivf_calibrate_nprobe) is measured to drift
    once corpus >> sample AND the drift direction depends on corpus
    structure (at 640k vectors / 65k sample: unclustered corpus measured
    recall 0.64-0.84 against an in-sample estimate of 0.92 — k-means
    groups sample points that happen to be close, so sample neighbors are
    biased toward shared cells; clustered corpus generalized fine, and a
    held-out split over-probed it 1.8x instead — BENCH §0i). The only
    estimator that cannot drift is ground truth: run the DISTRIBUTED
    exact top-k for ~n_calibration hash-strided queries (ONE corpus
    pass), collect the (query, true-neighbor) pairs plus the neighbors'
    cell assignments and per-cell populations (one narrow aggregate), and
    walk nprobe up the TRUE recall curve driver-side. Per calibration this
    costs two corpus passes and returns a (nprobe, recall, scan_fraction)
    that is exact by construction — what FAISS-style systems report as
    recall@nprobe. Deterministic throughout (hash-strided query choice,
    the kernels' 6dp/stable tie rules), so the result is a shareable
    literal like the centroid table. n_rows is the corpus row count (the
    caller's footer count), which sets the query stride."""
    import numpy as np

    step = max(1, n_rows // n_calibration)
    q = embeddings.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0
    )
    # a degenerate vector (_valid_vectors) scores null as a query or as a
    # neighbor; it has no cell and stays out of the calibration
    truth = [
        r
        for r in brute_force_topk(embeddings, q, id_col, vec_col, k=k).collect()
        if r["score"] is not None
    ]
    if not truth:
        return len(centroids), 1.0, 1.0
    nbr_ids = sorted({r["neighbor_id"] for r in truth})
    nlist = len(centroids)

    def cells_of(rows):
        ok, X = _valid_vectors([r[vec_col] for r in rows], len(centroids[0]))
        return [r for r, keep in zip(rows, ok) if keep], _cell_distances(X, centroids)

    nbr_rows, dn = cells_of(
        embeddings.filter(F.col(id_col).isin(nbr_ids)).select(id_col, vec_col).collect()
    )
    nbr_cell = {r[id_col]: int(c) for r, c in zip(nbr_rows, dn.argmin(axis=1))}
    q_rows, dq = cells_of(q.select(id_col, vec_col).collect())
    probe_order = {
        r[id_col]: np.argsort(dq[i], kind="stable")
        for i, r in enumerate(q_rows)
    }
    pop = dict.fromkeys(range(nlist), 0)
    for row in (
        ivf_assign(embeddings, centroids, id_col, vec_col)
        .filter(F.col("cid").isNotNull())
        .groupBy("cid").count().collect()
    ):
        pop[int(row["cid"])] = int(row["count"])
    # nprobe NEEDED per (query, true-neighbor) = 1 + the rank of the
    # neighbor's cell in the query's probe order; the true recall curve is
    # the cumulative histogram of needed-ranks — O(pairs + nlist), never
    # rebuilding probe sets per candidate nprobe
    rank_by_q = {
        qid: {int(c): pos for pos, c in enumerate(order)}
        for qid, order in probe_order.items()
    }
    needed = np.array(
        [1 + rank_by_q[r["query_id"]][nbr_cell[r["neighbor_id"]]] for r in truth]
    )
    goal = min(1.0, target_recall + margin)
    counts = np.bincount(needed, minlength=nlist + 1)
    recall_at = np.cumsum(counts) / len(truth)
    feasible = np.flatnonzero(recall_at[1:] >= goal)
    nprobe = int(feasible[0]) + 1 if len(feasible) else nlist
    n_q = len(probe_order)
    scanned = sum(
        sum(pop[int(c)] for c in order[:nprobe])
        for order in probe_order.values()
    )
    return nprobe, float(recall_at[nprobe]), float(
        scanned / (n_q * max(n_rows, 1))
    )


def _probe_pairs(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, qvec, cid) — each query expanded to its nprobe nearest
    cells by _cell_distances (stable argsort → lower cid on ties). A
    degenerate query vector (_valid_vectors) has no distances and probes
    cells 0..nprobe-1; its cosines are null."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    width = min(nprobe, len(centroids))
    dim = len(centroids[0])

    def probe(batches):
        for pdf in batches:
            ok, X = _valid_vectors(pdf["qvec"].to_numpy(), dim)
            order = np.tile(np.arange(width, dtype=np.int32), (len(pdf), 1))
            if len(X):
                d = _cell_distances(X, centroids)
                order[ok] = np.argsort(d, axis=1, kind="stable")[:, :width]
            rows = np.repeat(np.arange(len(pdf)), width)
            yield pdf.iloc[rows].assign(cid=order.ravel())

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    schema = StructType(q.schema.fields + [StructField("cid", IntegerType())])
    return q.mapInPandas(probe, schema=schema)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: assign corpus rows to their nearest centroid
    (_with_cells, one narrow Arrow map — no shuffle), expand each query to
    its nprobe nearest cells (_probe_pairs), then exact cosine + a
    per-query top-k window over the probed slice only.

    100-TB shape: the nlist x dim centroid matrix rides inside the Arrow
    kernels' closures (||x||^2 + ||c||^2 - 2 X @ C.T per batch, so the
    cost is O(rows x nlist x dim) BLAS, not a plan that grows with nlist);
    the corpus pass is a single projection. Work per query is nprobe/nlist
    of the corpus instead of all of it; with nlist ~ sqrt(n) that is
    O(nprobe * sqrt(n)) per query. Ties deterministic everywhere:
    assignment argmin breaks to the lowest cid, probe order (distance,
    cid), rank order (score desc, neighbor_id) — all on 6dp-rounded
    doubles. numpy's summation order differs from the
    DuckDB twin's sequential fold at ~1e-15 relative, nine orders below
    the 6dp rounding that feeds the argmin; the twin's hash gate pins the
    rows.

    A degenerate corpus vector (null, empty, of another length, zero norm)
    has no cell and is never a neighbor; a degenerate query probes cells
    0..nprobe-1 and its rows score null."""
    corpus = _with_cells(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        ),
        centroids,
        "nvec",
    )
    probes = _probe_pairs(queries, centroids, nprobe, id_col, vec_col)
    # the probe side is small: broadcast it onto the corpus cells
    scored = (
        corpus.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine_expr(F.col("qvec"), F.col("nvec")), 6))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )
