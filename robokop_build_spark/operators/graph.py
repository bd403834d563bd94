"""Distributed PageRank over an edge DataFrame — the iterative numeric
sibling of the large-star/small-star connected components in
canonicalize.py (the reference engine has neither; this is beyond-reference
graph analytics over the constructed KG: rank entities by citation flow).

Semantics: the simplified uniform-teleport recurrence
    rank_{i+1}(v) = (1-d)/N + d * sum_{(u,v) in E} rank_i(u) / out_deg(u)
with dangling mass dropped (nodes with no out-edges contribute nothing) —
the classic power-iteration form every engine can reproduce exactly when
each iteration's ranks are rounded to a fixed precision.

Determinism contract (shared with the generated DuckDB twin): ranks are
rounded to `round_dp` decimals AFTER each iteration (summation-order fp
noise is ~1e-15 relative, ~7 orders below the 1e-8 boundary, so
cross-engine equality holds through any iteration count that matters) and
to 6dp on output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph, via degree-ordered
    edge orientation (the Cohen / node-iterator++ MapReduce algorithm).

    Every undirected edge is oriented from its lower-(degree, id) endpoint
    to its higher one; wedges are then built only from each node's
    out-neighbors and closed against the oriented edge set. Orientation
    bounds per-node out-degree by O(sqrt(|E|)) on any graph — the wedge
    explosion that kills the naive a<b self-join on skewed graphs (a hub
    with degree d contributes d² wedges unoriented, but only
    out-deg² ≤ O(|E|) oriented) — while finding each triangle exactly once.
    Plan: two shuffles to attach degrees, one self-join on the wedge apex,
    one join to close, partial-agg count per corner. The identity-ordered
    (a<b) variant computes the SAME per-node counts (the triangle set is
    orientation-independent), which is what the SQL oracle uses.

    The oriented edge table is persisted (registered for release via
    caching.release_operator_caches): it is referenced three times (both
    wedge legs + the closing probe), and without the persist Spark re-runs
    the whole upstream edge-construction DAG per reference. On the sf0.1
    co-purchase graph the two are statistically equal (interleaved A/B
    17.0/16.2/17.2s vs 18.3/18.7/15.9s — edge construction is one cheap
    self-join there and the wedge SMJ dominates), but when the edge list
    is the output of an expensive pipeline the 3× recompute is the
    scale-killer the persist exists to prevent."""
    from pyspark import StorageLevel

    from ..caching import register_persisted

    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = register_persisted(
        withdeg.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(
                a_first, F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
            )
            .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
            .alias("v"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    # each unordered out-neighbor pair once: order by the SAME (deg, id)
    # key the orientation uses, so the closing edge (v1 -> v2) exists in
    # `oriented` iff the wedge closes
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    closing = oriented.select(
        F.col("u").alias("w_src"), F.col("v").alias("w_dst")
    )
    tris = wedges.join(
        closing,
        (F.col("v1.n") == F.col("w_src")) & (F.col("v2") == F.col("w_dst")),
    ).select(F.col("u"), F.col("v1.n").alias("v"), F.col("v2.n").alias("w"))
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 200,
    stats: dict | None = None,
) -> DataFrame:
    """The k-core of an undirected graph: the (unique) maximal subgraph in
    which every node has degree ≥ k, via iterative peeling — drop all
    nodes below k, remove their edges, repeat to fixpoint. Returns
    (node, core_deg) for the surviving nodes.

    The third fixpoint pattern in this module family: CC converges in
    O(log n) rounds, PageRank runs a FIXED count, but peeling is
    data-dependent (a path graph peels one layer per round), so the loop
    is driver-driven with one scalar count() per round as the stop test,
    and each round's edge set is localCheckpointed — without it the plan
    gains two anti-joins per round and analysis time, not data, becomes
    the wall. Per round: one partial-agg degree count + two anti-joins.
    The oracle is an independent pure-Python peeler exported to parquet
    (datagen/oracle_fixtures.py) — a data-dependent fixpoint has no
    fixed-unroll SQL twin.

    stats: when given, receives rounds_run (the peeling rounds that
    removed nodes)."""
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = und.localCheckpoint(eager=True)
    rounds_run = 0
    for _ in range(max_iter):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        bad = deg.filter(F.col("deg") < k).select("node")
        if bad.isEmpty():
            break
        e = (
            e.join(bad.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("node", "b"), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
        rounds_run += 1
    else:
        raise RuntimeError(f"k_core did not converge in {max_iter} rounds")
    if stats is not None:
        stats["rounds_run"] = rounds_run
    return (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


def core_number(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 200,
    stats: dict | None = None,
) -> DataFrame:
    """Full core decomposition: (node, core) where core is the largest k
    such that the node survives in the k-core — the op corpus-graph users
    actually ask for, amortizing what per-k peeling (k_core) pays per query.

    Algorithm: distributed h-index propagation (Montresor/De Pellegrini/
    Miorandi, "Distributed k-core decomposition", 2011). Every node starts
    at its degree; each round replaces the estimate with
    min(old, H(neighbor estimates)) where H is the h-index — the largest h
    such that ≥ h neighbors hold estimate ≥ h. Estimates decrease
    monotonically and the fixpoint is exactly the core number.

    100-TB shape — the h-index WITHOUT per-node arrays: a hub with 10^6
    neighbors must not collect_list 10^6 estimates into one row. Instead
    each round is (1) one shuffle joining estimates onto the directed
    neighbor table, (2) groupBy(node, neighbor_est).count() — map-side
    combine collapses a hub's neighbor rows to at most its #distinct
    estimate values (≤ max-core+1 once estimates tighten), (3) a per-node
    cumulative window over estimate values descending, using the identity
    h = max over distinct values t of min(t, count of neighbors with
    est ≥ t). Rounds are data-dependent (a path graph tightens one node
    per round from each end, same worst case as peeling) so the loop is
    driver-driven with one scalar changed-count per round as the stop
    test; per-round estimates are lineage-truncated like the peeling loop.

    stats: when given, receives rounds_run (the rounds up to and including
    the one that changed no estimate)."""
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nbr = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    est = (
        nbr.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("est"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("node").orderBy(F.desc("nbr_est"))
    for i in range(max_iter):
        h = (
            nbr.join(
                est.select(F.col("node").alias("nbr"), F.col("est").alias("nbr_est")),
                "nbr",
            )
            .groupBy("node", "nbr_est")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("cum", F.sum("cnt").over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("nbr_est"), F.col("cum"))).alias("h"))
        )
        new_est = (
            est.join(h, "node")
            .select(
                "node",
                F.least(F.col("est"), F.col("h")).cast("long").alias("est"),
                (F.col("h") < F.col("est")).cast("int").alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_est.agg(F.sum("__chg")).first()[0] or 0
        est = new_est.drop("__chg")
        if changed == 0:
            if stats is not None:
                stats["rounds_run"] = i + 1
            return est.select("node", F.col("est").alias("core"))
    raise RuntimeError(f"core_number did not converge in {max_iter} rounds")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    round_dp: int = 8,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-iteration power-iteration PageRank.

    100-TB shape: per iteration one shuffle joins ranks to edges on the
    source key and one partial-aggregating groupBy sums contributions per
    destination — the canonical Pregel-without-Pregel plan. The edge table
    (joined once with out-degrees) persists across iterations; each
    iteration's rank table is localCheckpointed so the logical plan stays
    O(1)-deep instead of growing by two joins per round (driver analysis
    time, not data, is the thing that explodes otherwise). Fixed iteration
    count rather than fixpoint detection keeps the oracle replayable; CC in
    canonicalize.py shows the fingerprint-fixpoint pattern where
    convergence detection matters.

    stats: when given, receives rounds_run (= iterations).
    """
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()  # one scalar to the driver; node table itself stays out
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    contrib_edges = (
        e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    )
    # every constant is an EXPRESSION over (damping, N) evaluated by the
    # engine — Spark's round and DuckDB's round are both half-away-from-zero
    # for positives and the divisions are the same IEEE ops, so the twin
    # reproduces the literals exactly (Python's round() is banker's and
    # must not leak into the contract)
    n_d = F.lit(float(n))
    ranks = nodes.withColumn(
        "rank", F.round(F.lit(1.0) / n_d, round_dp)
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping) / n_d
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    round_dp,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    if stats is not None:
        stats["rounds_run"] = iterations
    out = ranks.select("node", F.round("rank", 6).alias("rank"))
    nodes.unpersist()
    contrib_edges.unpersist()
    return out
