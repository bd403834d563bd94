"""Stage 3: edge-crawl expansion as per-hop equi-joins.

Reference analog: Program.run_program's frontier crawl — CURIE → typed
neighbors via remote ops, Redis-memoized (builder/builder.py:120-127, log
builder/output:364-389). Spark-first re-expression (SURVEY.md §2.1 S5/S6):
the closed-world KG is a predicate_map table; "calling an op on a frontier"
is a broadcast equi-join of the frontier against that table's
(src_type,dst_type) partition; memoization is replaced by dropDuplicates on
the join key *before* the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import resolve_aliases
from .topk import NSALT, capped_sorted_set


def canonicalize_predicate_map(pm: DataFrame, rep_map: DataFrame) -> DataFrame:
    """Re-key concrete edges into representative space (both endpoints)."""
    pm2 = resolve_aliases(pm, rep_map, "subj_curie", out="subj_rep")
    pm2 = resolve_aliases(pm2, rep_map, "obj_curie", out="obj_rep")
    return pm2.select(
        "src_type",
        "dst_type",
        "op_name",
        "pred",
        "subj_rep",
        "obj_rep",
        "orig_pred_id",
        "orig_pred_label",
    )


def _alive_sets(
    pm_rep: DataFrame,
    path_types: list[str],
    end_reps: list[str] | None,
) -> list[DataFrame | None]:
    """Backward terminal-boundedness pruning (F5; reference analog: the
    two-terminal `robokop.traversable(nodes(p), ..., [c0,cN])` guard in the
    concept cypher, builder/userquery.py:123-126).

    alive[i] = reps at position i from which the remaining hops can complete
    to a valid terminal (∈ end_reps when bound, any type-correct terminal
    otherwise). Sets are predicate-map-bounded (dimension-sized) — each is a
    small DataFrame destined for a broadcast semi-join in the forward pass.

    Returns one entry per position; None means unconstrained (saves the
    join). With end_reps=None only the *existence* of downstream edges
    prunes (full-pattern match semantics); the terminal position itself is
    unconstrained.
    """
    n = len(path_types)
    alive: list[DataFrame | None] = [None] * n
    if end_reps is not None:
        if not end_reps:
            raise ValueError("end_reps must be non-empty when given")
        term = pm_rep.sparkSession.createDataFrame(
            [(r,) for r in sorted(set(end_reps))], ["rep"]
        )
        alive[n - 1] = term
    for i in range(n - 2, -1, -1):
        edges = _typed_edges(
            pm_rep,
            path_types[i],
            path_types[i + 1],
            [F.col("subj_rep").alias("rep"), F.col("obj_rep")],
            alive[i + 1],
        )
        alive[i] = edges.select("rep").distinct()
    return alive


def _typed_edges(
    pm_rep: DataFrame,
    src_type: str,
    dst_type: str,
    cols: list,
    alive_next: DataFrame | None,
) -> DataFrame:
    """The (src_type, dst_type) edges of pm_rep, projected to cols and,
    when alive_next is given, semi-joined with it on obj_rep — restricting
    the (broadcast-sized) edge table itself is cheaper than filtering the
    hop rows after the join."""
    edges = pm_rep.filter(
        (F.col("src_type") == src_type) & (F.col("dst_type") == dst_type)
    ).select(*cols)
    if alive_next is not None:
        edges = edges.join(
            F.broadcast(alive_next.select(F.col("rep").alias("obj_rep"))),
            "obj_rep",
        )
    return edges


def _path_hops(
    frontier: DataFrame,
    pm_rep: DataFrame,
    path_types: list[str],
    end_reps: list[str] | None,
    require_complete: bool,
    cols: list,
) -> tuple[DataFrame, list[DataFrame]]:
    """The hop walk shared by expand_edge_starts and path_constrained_pairs:
    the start frontier (rep, ...) restricted to alive[0], and per hop the
    typed edges (cols) restricted to alive[h + 1]. Without end_reps or
    require_complete nothing is pruned (emit-per-hop semantics)."""
    alive: list[DataFrame | None] = [None] * len(path_types)
    if require_complete or end_reps is not None:
        alive = _alive_sets(pm_rep, path_types, end_reps)
    if alive[0] is not None:
        frontier = frontier.join(F.broadcast(alive[0]), "rep")
    hops = [
        _typed_edges(pm_rep, src_t, dst_t, cols, alive[h + 1])
        for h, (src_t, dst_t) in enumerate(zip(path_types, path_types[1:]))
    ]
    return frontier, hops


def expand_edge_starts(
    start_reps: DataFrame,
    pm_rep: DataFrame,
    path_types: list[str],
    end_reps: list[str] | None = None,
    require_complete: bool = False,
) -> DataFrame:
    """Dimension-level program expansion: one row per (hop edge, start rep)
    for every edge lying on a program path from an OBSERVED start entity.

    Key insight (the SF=1 profiling finding): per-doc frontier walks
    materialize doc×edge events (26.8M rows at SF=1) only to collapse them
    back to 791 edges — but reachability through the predicate map does not
    depend on the document at all. publications(edge) factorizes as
    ∪_{start reaching edge} docs(start), so expansion needs only this
    entity×edge table (predicate-map-bounded, corpus-independent) and the
    per-start doc sets. start_reps: (rep) — start entities observed in ≥1
    document.
    """
    frontier, hop_edges = _path_hops(
        start_reps.select(F.col("rep"), F.col("rep").alias("start")).distinct(),
        pm_rep,
        path_types,
        end_reps,
        require_complete,
        ["subj_rep", "obj_rep", "pred", "op_name", "orig_pred_id", "orig_pred_label"],
    )
    hops = []
    for edges in hop_edges:
        hop = frontier.join(F.broadcast(edges), frontier["rep"] == edges["subj_rep"])
        hops.append(
            hop.select(
                F.col("subj_rep").alias("subj"),
                "pred",
                F.col("obj_rep").alias("obj"),
                F.col("op_name").alias("edge_source"),
                "orig_pred_id",
                "orig_pred_label",
                "start",
            )
        )
        frontier = hop.select(F.col("obj_rep").alias("rep"), "start").distinct()
    out = hops[0]
    for hp in hops[1:]:
        out = out.unionByName(hp)
    return out


def _start_docs(
    doc_entities: DataFrame,
    programs: list[list[str]],
    start_reps: list[str] | None,
) -> DataFrame:
    """Start-typed (node_type, rep, doc_id, orig) rows: the observed path
    starts of every program."""
    if not programs:
        raise ValueError("no programs to execute (path unreachable in metagraph?)")
    start_types = sorted({prog[0] for prog in programs})
    sd = (
        doc_entities.filter(F.col("node_type").isin(start_types))
        .select("node_type", "rep", "doc_id", "orig")
    )
    if start_reps is not None:
        # seed-bound query (reference --start, builder/builder.py:512-517):
        # only observed start entities matching the canonicalized seeds
        # anchor paths; a literal IN filter — seed lists are user-typed small
        if not start_reps:
            raise ValueError("start_reps must be non-empty when given")
        sd = sd.filter(F.col("rep").isin(sorted(set(start_reps))))
    return sd


def program_edge_starts(
    doc_entities: DataFrame,
    pm_rep: DataFrame,
    programs: list[list[str]],
    end_reps: list[str] | None = None,
    require_complete: bool = False,
    start_reps: list[str] | None = None,
) -> DataFrame:
    """(subj, pred, obj, edge_source, orig_pred_id, orig_pred_label, start):
    one row per (hop edge, start rep) over every program, from the start
    entities observed in doc_entities (expand_edge_starts per program).

    Dimension-sized (predicate-map-bounded): materialized once, because it
    feeds the publications and inputs merges of aggregate_program_triples
    and the graph node set that the supporters and the node table start
    from. Without materialization each consumer would re-run the
    frontier-join DAG."""
    start_type_reps = (
        _start_docs(doc_entities, programs, start_reps)
        .select("node_type", "rep")
        .distinct()
    )
    edge_starts = None
    for prog in programs:
        sr = start_type_reps.filter(F.col("node_type") == prog[0]).select("rep")
        es = expand_edge_starts(sr, pm_rep, prog, end_reps, require_complete)
        edge_starts = es if edge_starts is None else edge_starts.unionByName(es)
    return edge_starts.distinct().localCheckpoint(eager=True)


def start_publications(
    doc_entities: DataFrame,
    programs: list[list[str]],
    publication_cap: int = 10_000,
    start_reps: list[str] | None = None,
) -> DataFrame:
    """(rep, pubs): the capped sorted publication set of every observed
    start rep — exactly one row per rep (one capped_sorted_set group per
    rep). ONE bounded top-k window over the start-typed (rep, doc) rows:
    the only corpus-scale aggregation in the build."""
    sd = _start_docs(doc_entities, programs, start_reps)
    return capped_sorted_set(
        sd.select("rep", F.concat(F.lit("DOC:"), F.col("doc_id")).alias("pub")),
        ["rep"],
        "pub",
        publication_cap,
        out="pubs",
    )


def aggregate_program_triples(
    doc_entities: DataFrame,
    edge_starts: DataFrame,
    programs: list[list[str]],
    publication_cap: int = 10_000,
    ctime: int = 0,
    start_reps: list[str] | None = None,
) -> DataFrame:
    """Factored expansion+aggregation: the triples of a per-document
    frontier walk (datagen/oracle.compute_golden replays one in pure
    Python; tests/test_pipeline_e2e.py and the kg_* oracles compare the
    build against it exactly) with the doc×edge event stream eliminated:

    1. per-start doc sets (start_publications);
    2. per-start origin sets: entity-bounded groupBy;
    3. (edge, start) table: edge_starts from program_edge_starts
       (dimension-level frontier joins, predicate-map-bounded, corpus-
       independent), with the same programs and start_reps;
    4. per-edge merge: union the per-start capped arrays in two phases
       salted by start rep and re-cap —
       valid because the k smallest of a union are contained in the union
       of each member's k smallest; volume ≤ edges × in-degree × cap, a
       constant w.r.t. corpus size.

    Every edge of edge_starts is in the output: both start_pubs and
    start_origins hold a row for every start rep, so the inner joins below
    drop no edge key. The graph node set is therefore subj ∪ obj of
    edge_starts.

    At 10^12 docs only step 1 scales with the corpus (a narrow distinct +
    window); the round-1/round-2 event-stream design shuffled O(docs ×
    mentions × edges) rows instead (26.8M at SF=1, memory-bound at ~100µs
    of JVM time per row — measured via event-log task metrics).
    """
    sd = _start_docs(doc_entities, programs, start_reps)
    start_pubs = start_publications(doc_entities, programs, publication_cap, start_reps)
    start_origins = sd.groupBy("rep").agg(
        F.array_sort(F.collect_set("orig")).alias("origs")
    )
    key = ["subj", "pred", "obj", "edge_source"]

    # per-edge publications: merge the member start arrays and re-cap —
    # array-at-a-time (flatten/dedup/sort/slice on whole arrays), never an
    # explode: re-windowing the exploded elements measured 55s/1240 CPU-s/
    # 25% GC at SF=1 for work these vector expressions do in ~2s. Two
    # phases salted by start rep bound every group's buffer at any
    # in-degree: an (edge, salt) group merges ~in_degree/NSALT member
    # arrays, an edge at most NSALT, each of ≤ cap elements. ep holds one
    # row per (edge, start) because start_pubs has exactly one row per rep
    # (start_publications; tests/test_pipeline_e2e.py asserts it). Each
    # phase computes sorted(set(union))[:cap], and the k smallest of a
    # union are contained in the union of each member's k smallest.
    merge = lambda c: F.slice(  # noqa: E731
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(c)))),
        1,
        publication_cap,
    )
    ep = start_pubs.join(
        F.broadcast(edge_starts.select(*key, F.col("start").alias("rep"))), "rep"
    ).withColumn("_salt", F.pmod(F.xxhash64("rep"), F.lit(NSALT)).cast("int"))
    pubs = (
        ep.groupBy(*key, "_salt")
        .agg(merge("pubs").alias("_part"))
        .groupBy(*key)
        .agg(merge("_part").alias("publications"))
    )
    inputs = (
        start_origins.join(
            F.broadcast(
                edge_starts.select(
                    *key, "orig_pred_id", "orig_pred_label", F.col("start").alias("rep")
                )
            ),
            "rep",
        )
        .groupBy(*key)
        .agg(
            F.concat_ws(
                ",",
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("origs")))),
            ).alias("input_identifiers"),
            F.min("orig_pred_id").alias("original_predicate_id"),
            F.min("orig_pred_label").alias("original_predicate_label"),
        )
    )
    return pubs.join(inputs, key).select(
        *key,
        "publications",
        "input_identifiers",
        F.lit(ctime).cast("long").alias("ctime"),
        F.concat(F.lit("op://"), F.col("edge_source"), F.lit("/"), F.col("subj")).alias(
            "url"
        ),
        F.substring_index("pred", ":", -1).alias("standard_label"),
        "original_predicate_id",
        "original_predicate_label",
        # every edge added through add_nonsynonymous_edge carries
        # properties['reversed']=False (builder/builder.py:217; the True
        # branch is dead code — it hard-exits at :202-204)
        F.create_map(F.lit("reversed"), F.lit("False")).alias("properties"),
    )


def path_constrained_pairs(
    start_reps: DataFrame,
    pm_rep: DataFrame,
    path_types: list[str],
    end_reps: list[str] | None = None,
    require_complete: bool = False,
) -> DataFrame:
    """Path-constrained support-pair generation — the reference's contexts
    mode (generate_links_from_paths, builder/builder.py:372-407): a pair
    (node, ancestor) for every node reachable on a program path and every
    node preceding it on such a path (transitive, within the program).

    The reference walks the built graph forward, accumulating per-node
    ancestor sets (`ancestors[other].update(ancestors[node])`,
    builder.py:396-397). Re-expressed relationally: one (node, anc) table,
    per hop extended with the direct edges plus the inherited closure —
    all frames predicate-map-bounded (dimension-sized, corpus-independent).

    Pair orientation is canonicalized to (least, greatest) — the reference's
    order depends on dict iteration and is not reproducible; supporters
    normalize to subj<obj anyway. Returns (rep_a, rep_b), rep_a < rep_b.
    """
    frontier, hop_edges = _path_hops(
        start_reps.select("rep").distinct(),
        pm_rep,
        path_types,
        end_reps,
        require_complete,
        ["subj_rep", "obj_rep"],
    )
    anc: DataFrame | None = None
    for edges in hop_edges:
        step = (
            frontier.join(F.broadcast(edges), frontier["rep"] == edges["subj_rep"])
            .select("subj_rep", "obj_rep")
            .distinct()
        )
        direct = step.select(
            F.col("obj_rep").alias("node"), F.col("subj_rep").alias("anc")
        )
        if anc is None:
            anc = direct
        else:
            inherited = step.join(
                anc.select(F.col("node").alias("subj_rep"), "anc"), "subj_rep"
            ).select(F.col("obj_rep").alias("node"), "anc")
            anc = anc.unionByName(direct).unionByName(inherited).distinct()
        frontier = step.select(F.col("obj_rep").alias("rep")).distinct()
    if anc is None:  # single-node path: no hops, no pairs
        return start_reps.sparkSession.createDataFrame([], "rep_a string, rep_b string")
    return (
        anc.filter(F.col("node") != F.col("anc"))
        .select(
            F.least("node", "anc").alias("rep_a"),
            F.greatest("node", "anc").alias("rep_b"),
        )
        .distinct()
    )


def program_support_pairs(
    doc_entities: DataFrame,
    pm_rep: DataFrame,
    programs: list[list[str]],
    end_reps: list[str] | None = None,
    require_complete: bool = False,
    start_reps: list[str] | None = None,
) -> DataFrame:
    """(rep_a, rep_b): the path-constrained support pairs of every program
    (path_constrained_pairs per program, from the same observed start reps
    as program_edge_starts), deduplicated across programs."""
    sd = _start_docs(doc_entities, programs, start_reps)
    pairs = None
    for prog in programs:
        sr = sd.filter(F.col("node_type") == prog[0]).select("rep")
        p = path_constrained_pairs(sr, pm_rep, prog, end_reps, require_complete)
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()
