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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .iterate import LoopCheckpointer, input_fingerprint

# Above this many alias edges connected components leave the single-process
# union-find for the distributed large-star/small-star loop (the pipeline
# reads the count from the normalization table's parquet footer).
LOCAL_CC_MAX_ALIASES = 2_000_000


def _schema(df: DataFrame, **fields: str) -> StructType:
    """Schema of a driver-built frame: each output field takes the type of
    the named `df` column, so an empty input still has a schema (inferring
    it from zero rows fails) and ids keep their input type."""
    return StructType(
        [StructField(out, df.schema[col].dataType) for out, col in fields.items()]
    )


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
    stats: dict | None = None,
    manager=None,
    stage: str = "connected_components",
    commit_every: int = 0,
) -> DataFrame:
    """Undirected CC → (curie, rep) with rep = min member of the component.

    Scale-adaptive: a dimension-sized edge list (the usual normalization
    map) is solved with a driver union-find — the same judgment call as
    broadcasting a small join side; paying ~6 shuffle rounds of scheduler
    latency per iteration for 10^4 edges is pure overhead. Above
    LOCAL_CC_MAX_ALIASES edges, alternating large-star/small-star rounds (O(log n)
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
        strategy = "local" if n_e <= LOCAL_CC_MAX_ALIASES else "distributed"
    if strategy == "local":
        rep_map = _local_union_find(
            [(r["src"], r["dst"]) for r in e.collect()]
        )
        return e.sparkSession.createDataFrame(
            sorted(rep_map.items()), _schema(e, curie="src", rep="src")
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
        fp = input_fingerprint(cur, ["src", "dst"])
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
            out,
            _schema(
                normalization,
                curie="alias",
                rep="alias",
                node_type="node_type",
                name="name",
            ),
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


def resolve_aliases(
    fact: DataFrame,
    rep_map: DataFrame,
    key: str,
    out: str = "rep",
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Map fact[key] (a CURIE) to its canonical representative; an alias
    outside the map keeps its own id.

    carry: extra rep_map columns to attach in the same join, as
    {rep_map column: output name}; null where the alias is unknown.

    One unhinted left join: the planner broadcasts the map while its size
    estimate fits autoBroadcastJoinThreshold (dimension-sized maps: no
    shuffle, no skew possible); beyond it the join is a sort-merge join and
    AQE's skew join (session.py) splits a hub entity's oversized partition
    from measured partition sizes (SURVEY.md §4 custom piece #1).
    """
    mapped = rep_map.select(
        F.col("curie").alias("__alias"),
        F.col("rep").alias(out),
        *(F.col(c).alias(a) for c, a in (carry or {}).items()),
    )
    joined = fact.join(mapped, fact[key] == F.col("__alias"), "left")
    return joined.withColumn(out, F.coalesce(F.col(out), fact[key])).drop("__alias")
