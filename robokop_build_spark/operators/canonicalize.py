"""Canonicalization: connected components over synonym-equivalence edges +
alias→representative resolution joins.

Reference analog: KnowledgeGraph.merge / add_or_find_node — eager per-edge
synonym merging via an in-memory node_map (builder/builder.py:136-167,
249-264). At 10^12 docs that becomes an iterative large-star/small-star
connected-components fixpoint (Kiveris et al., "Connected Components in
MapReduce and Beyond") with a deterministic min-CURIE representative, so
outputs are stable across runs and parallelism levels (SURVEY.md §7 hard
thing #1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .withColumn("m", F.least("_mn", "src"))
        .drop("_mn")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    orient = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    relinked = orient.join(mins, "src").select(F.col("dst").alias("src"), "m")
    rooted = mins.select("src", "m")
    return (
        relinked.union(rooted)
        .filter(F.col("src") != F.col("m"))
        .withColumnRenamed("m", "dst")
        .distinct()
    )


def _local_union_find(rows) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        p = parent.setdefault(x, x)
        if p != x:
            parent[x] = p = find(p)
        return p

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, list[str]] = {}
    for node in list(parent):
        groups.setdefault(find(node), []).append(node)
    rep_map: dict[str, str] = {}
    for members in groups.values():
        rep = min(members)
        for m in members:
            rep_map[m] = rep
    return rep_map


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    strategy: str = "auto",
    local_threshold: int = 2_000_000,
    stats: dict | None = None,
    manager=None,
    stage: str = "connected_components",
    commit_every: int = 0,
) -> DataFrame:
    """Undirected CC → (curie, rep) with rep = min member of the component.

    Scale-adaptive: a dimension-sized edge list (the usual normalization
    map) is solved with a driver union-find — the same judgment call as
    broadcasting a small join side; paying ~6 shuffle rounds of scheduler
    latency per iteration for 10^4 edges is pure overhead. Above the
    threshold, alternating large-star/small-star rounds (O(log n)
    convergence), each localCheckpointed to cut lineage — the driver
    fixpoint loop Catalyst cannot express (SURVEY.md §4 custom piece #2).
    Both paths produce the identical deterministic min-member mapping.

    manager/stage/commit_every: optional durable loop checkpointing for
    the distributed path (operators/iterate.LoopCheckpointer) — the
    contracted edge set commits as a CheckpointManager snapshot every
    commit_every rounds and a relaunched call resumes contraction from
    there; the star fixpoint is unique, so the resumed output is
    hash-identical (the resume pays one extra fingerprint round to
    re-detect convergence).
    """
    from pyspark import StorageLevel

    from ..caching import register_persisted
    from .iterate import LoopCheckpointer, input_fingerprint

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        # consumed by up to three actions (fingerprint-or-count, the local
        # collect or the loop seed, all_nodes) — without materialization
        # each re-runs the distinct shuffle (round-8 review finding)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register_persisted(e)
    # one shared agg: the fingerprint's first component IS the row count,
    # so durable mode decides the strategy from the same pass instead of a
    # second full count() job; non-durable mode pays count() only
    fp = (
        input_fingerprint(e, ["src", "dst"]) if manager is not None else None
    )
    if strategy == "auto":
        n_e = fp[0] if fp is not None else e.count()
        strategy = "local" if n_e <= local_threshold else "distributed"
    if strategy == "local":
        rep_map = _local_union_find(
            [(r["src"], r["dst"]) for r in e.collect()]
        )
        return e.sparkSession.createDataFrame(
            sorted(rep_map.items()), ["curie", "rep"]
        )
    params = (
        {"op": "connected_components", "input": fp}
        if manager is not None
        else None
    )
    ckpt = LoopCheckpointer(manager, stage, commit_every, params=params)
    all_nodes = e.select(F.col("src").alias("curie")).union(
        e.select(F.col("dst").alias("curie"))
    ).distinct()

    import time

    start = 0
    resumed = ckpt.resume()
    if resumed is not None:
        start, cur = resumed
    else:
        cur = e.filter(F.col("src") != F.col("dst")).localCheckpoint(eager=True)
    prev_fp = None
    converged = False
    iter_secs: list[float] = []
    iter_edges: list[int] = []
    for i in range(start, max_iter):
        t0 = time.time()
        cur = ckpt.save(i, _small_star(_large_star(cur)))
        fp = _fingerprint(cur)
        iter_secs.append(round(time.time() - t0, 3))
        iter_edges.append(fp[0])
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if stats is not None:
        stats["iterations"] = len(iter_secs)
        stats["iter_secs"] = iter_secs
        stats["iter_edges"] = iter_edges
        stats["resumed_from"] = start
    if not converged:
        # a partially-contracted mapping is silently wrong — fail loudly
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds (expected O(log n)); raise max_iter or check for "
            "pathological edge input"
        )

    # fixpoint edges form stars (node → component min); orient + dedupe,
    # then add identity rows for nodes whose component is a singleton
    star = cur.select(
        F.greatest("src", "dst").alias("curie"), F.least("src", "dst").alias("rep")
    ).groupBy("curie").agg(F.min("rep").alias("rep"))
    return (
        all_nodes.join(star, "curie", "left")
        .select("curie", F.coalesce("rep", "curie").alias("rep"))
    )


def canonical_map(
    normalization: DataFrame,
    strategy: str = "local",
    manager=None,
    cc_stage: str = "rep_map_cc",
    cc_commit_every: int = 0,
    stats: dict | None = None,
) -> DataFrame:
    """normalization(alias, canonical, node_type, name) →
    (curie, rep, node_type, name): every known curie mapped to its
    deterministic representative, carrying component metadata (min name/type
    for determinism; fixture components are metadata-consistent).

    strategy='local': single collect + driver union-find + one
    createDataFrame — the normalization map is a dimension table, and the
    distributed path costs ~6 scheduler round-trips per CC iteration that
    dwarf the compute at this size. 'distributed' chains the large-star/
    small-star CC with joins (the 10^12-alias path). The pipeline picks
    the strategy from the normalization table's parquet footer row count.

    Both strategies write the component's (min) node_type and name on every
    row of the component, so rep-level metadata can ride on any alias join.

    manager/cc_stage/cc_commit_every: durable loop checkpointing for the
    distributed CC (operators/iterate.LoopCheckpointer) — a preempted
    10^12-alias canonicalization resumes contraction from the last
    committed round instead of round zero. The local path ignores them
    (its whole cost is one collect). Loop params (op + input fingerprint)
    are validated on resume, so stale state from a different normalization
    map raises instead of silently resuming."""
    if strategy not in ("local", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "local":
        rows = normalization.select("alias", "canonical", "node_type", "name").collect()
        rep_map = _local_union_find([(r["alias"], r["canonical"]) for r in rows])
        # per-field min, independently, to match the distributed agg exactly
        meta: dict[str, list[str]] = {}
        for r in rows:
            rep = rep_map[r["alias"]]
            cur = meta.get(rep)
            if cur is None:
                meta[rep] = [r["node_type"], r["name"]]
            else:
                cur[0] = min(cur[0], r["node_type"])
                cur[1] = min(cur[1], r["name"])
        out = [
            (curie, rep, meta[rep][0], meta[rep][1])
            for curie, rep in sorted(rep_map.items())
        ]
        return normalization.sparkSession.createDataFrame(
            out, ["curie", "rep", "node_type", "name"]
        )
    reps = connected_components(
        normalization,
        src="alias",
        dst="canonical",
        strategy="distributed",
        manager=manager if cc_commit_every > 0 else None,
        stage=cc_stage,
        commit_every=cc_commit_every,
        stats=stats,
    )
    meta_df = (
        normalization.select(F.col("alias").alias("curie"), "node_type", "name")
        .join(reps, "curie")
        .groupBy("rep")
        .agg(F.min("node_type").alias("node_type"), F.min("name").alias("name"))
    )
    return reps.join(meta_df, "rep").select("curie", "rep", "node_type", "name")


def _broadcast_budget_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1 → disabled)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    mult = 1
    low = raw.lower().strip()
    # Spark accepts both '10m' and '10mb' (ditto k/g/t); parse all forms —
    # a silent fallback here would mis-gate every auto-broadcast decision
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if low.endswith(suf):
            low = low[: -len(suf)]
            mult = m
            break
    try:
        return int(float(low) * mult)
    except ValueError:
        return 10 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame (file-size based for
    parquet-backed stages — exactly what the broadcast planner would see)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _fits_broadcast_budget(df: DataFrame) -> bool:
    """Whether df's measured Catalyst size fits the session broadcast budget
    (never when broadcasting is disabled)."""
    budget = _broadcast_budget_bytes(df.sparkSession)
    return budget > 0 and _plan_size_bytes(df) <= budget


def maybe_broadcast(df: DataFrame):
    """F.broadcast(df) while the measured Catalyst size fits the session
    broadcast budget; otherwise return df unhinted and let AQE pick the
    strategy from runtime stats. For joins whose small side scales with the
    ENTITY graph (rep metadata, equivalent-identifier sets, authority
    labels): dimension-sized today, but at web scale they grow with the
    ontology (10^7-10^8 reps) and a hard hint would OOM the driver."""
    return F.broadcast(df) if _fits_broadcast_budget(df) else df


def resolve_aliases(
    fact: DataFrame,
    rep_map: DataFrame,
    key: str,
    out: str = "rep",
    strategy: str = "auto",
    nsalt: int = 8,
    salt_source: Column | None = None,
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Map fact[key] (a CURIE) to its canonical representative.

    carry: extra rep_map columns to attach in the same join, as
    {rep_map column: output name}; null where the alias is unknown.

    strategy='auto' (default): measure the rep map's Catalyst size estimate
    at plan time and broadcast while it fits the session's
    autoBroadcastJoinThreshold, else fall back to the salted shuffle — at
    100 TB the alias map can outgrow the broadcast budget mid-pipeline and a
    hard-coded hint would either OOM the driver or silently shuffle-join
    with hub-key skew.
    strategy='broadcast': map-side join — the right call while the alias map
    is dimension-sized (no shuffle, no skew possible).
    strategy='salted': for when the map outgrows broadcast at 10^12-doc
    scale — replicate the map ×nsalt and spread fact rows of the same hot key
    (hub entity) across salt buckets, so no single shuffle partition owns a
    hub (SURVEY.md §4 custom piece #1). AQE skew-join remains the backstop.
    """
    if strategy == "auto":
        strategy = "broadcast" if _fits_broadcast_budget(rep_map) else "salted"
    mapped = rep_map.select(
        F.col("curie").alias("__alias"),
        F.col("rep").alias(out),
        *(F.col(c).alias(a) for c, a in (carry or {}).items()),
    )
    if strategy == "broadcast":
        joined = fact.join(F.broadcast(mapped), fact[key] == F.col("__alias"), "left")
    elif strategy == "salted":
        salted_map = mapped.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        )
        src = salt_source if salt_source is not None else F.xxhash64(*fact.columns)
        fact_s = fact.withColumn("__salt", F.pmod(src, F.lit(nsalt)).cast("int"))
        joined = fact_s.join(
            salted_map,
            (fact_s[key] == F.col("__alias")) & (fact_s["__salt"] == salted_map["__salt"]),
            "left",
        ).drop("__salt")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return joined.withColumn(out, F.coalesce(F.col(out), fact[key])).drop("__alias")
