"""End-to-end KG-construction pipeline: extract → link → canonicalize →
materialize, with per-stage checkpoints, lineage metrics, and the flagship
DGX query (disease→gene→genetic_condition, the reference's `-q 1` path,
builder/builder.py:589-591).

Lifecycle mapping (SURVEY.md §3 rebuild lifecycle). The reference runs
execute → enhance → support → export in strict sequence
(builder/builder.py:473-482); here each stage starts on its own thread as
soon as the stages it reads have finished ("←" = reads):

    mentions     ← documents, lexicon, entity_embeddings   (committed)
    rep_map      ← normalization                           (committed)
    query        ← rep_map      compiled programs + canonicalized seeds
    pm_rep       ← rep_map      predicate map in rep space (materialized)
    doc_entities ← mentions, rep_map                       (materialized)
    edge_starts  ← doc_entities, pm_rep, query (materialized)
    triples_base ← edge_starts, doc_entities   publications + inputs merge
                                                           (materialized)
    support      ← edge_starts, rep_map        supporter edges (materialized)
    triples      ← triples_base, support       (committed, by pred)
    nodes        ← edge_starts, rep_map        (committed, by node_type)
    metrics      ← mentions, doc_entities, triples, nodes  (lazy)

"Committed" stages are CheckpointManager snapshots, which a rerun in the
same workdir resumes; "materialized" ones are eager localCheckpoints, which
a rerun recomputes from the committed stages they read. Past
LOCAL_CC_MAX_ALIASES the rep_map stage also commits its connected-components
rounds as they run (stage rep_map_cc), so a preempted canonicalization
resumes mid-loop.

Overlapping: mentions with rep_map, query and pm_rep; triples_base,
support and nodes (all three start from the graph node set, subj ∪ obj of
edge_starts, which is exactly the node set of the triples); the triples
and nodes commits. Every commit stays atomic on its own, so a resume after
a failure in one of two concurrent commits recomputes only the missing
stage. Within a stage the only driver-side loops are plan construction and
the connected-components fixpoint.

The build's settings are those of the reference builder's flags
(builder/builder.py:566-585): the path, its start and end values, the
supporters and the support-pair mode. What the reference hard-codes stays
constant here: the per-edge publication cap (schemas.PUBLICATION_CAP) and
the edge ctime (0, so runs are reproducible).
"""

from __future__ import annotations

from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonical_map, resolve_aliases
from ..operators.expand import (
    aggregate_program_triples,
    canonicalize_predicate_map,
    program_edge_starts,
    program_support_pairs,
)
from ..operators.extract import detect_mentions, explode_spans
from ..operators.materialize import (
    build_nodes,
    enhance_nodes,
    graph_nodes,
    stage_metrics,
    validate_triples,
)
from ..operators.partitioning import widen_for_kernel
from ..sources.checkpoint import CheckpointManager
from ..sources.readers import fixture_rows, read_fixtures
from .query import enumerate_programs, tokenize_path

DGX_PATH = ["disease", "gene", "genetic_condition"]

# name prefix of the pipeline's stage threads
STAGE_THREAD_PREFIX = "kg-stage-"


class _Stages:
    """Starts each stage on its own thread once its input stages have
    finished. The threads are pyspark InheritableThreads, so every Spark
    job a stage runs carries the caller's local properties (job group,
    scheduler pool)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._started: list[tuple[InheritableThread, Future]] = []

    def start(self, name: str, fn, *inputs: Future) -> Future:
        """fn(*input results) on a new thread; a failed input fails it."""
        out: Future = Future()

        def target() -> None:
            for f in inputs:
                if f.exception() is not None:  # blocks until f is done
                    out.set_exception(f.exception())
                    return
            try:
                out.set_result(fn(*[f.result() for f in inputs]))
            except BaseException as e:  # noqa: BLE001 — raised by wait()
                out.set_exception(e)

        th = InheritableThread(
            target, session=self.spark, name=STAGE_THREAD_PREFIX + name, daemon=True
        )
        th.start()
        self._started.append((th, out))
        return out

    def wait(self) -> None:
        """Joins every stage thread, then raises the first failure in start
        order (an upstream failure precedes the downstream ones it caused)."""
        for th, _ in self._started:
            th.join()
        for _, out in self._started:
            out.result()


@dataclass
class _Query:
    programs: list[list[str]]
    key: str  # PipelineConfig.query_key suffix of query-dependent stages
    start_reps: list[str] | None
    end_reps: list[str] | None


def link_doc_entities(mentions: DataFrame, rep_map: DataFrame) -> DataFrame:
    """(doc_id, rep, node_type, orig): every mention's canonical rep, typed
    by its component's node_type (the component's metadata wins, as in
    reference synonymization), or by the mention's own type for an alias
    outside the map. One alias join carries both: canonical_map writes the
    component's node_type on every row of the component."""
    resolved = resolve_aliases(
        mentions, rep_map, "curie", out="rep", carry={"node_type": "rep_type"}
    )
    return resolved.select(
        "doc_id",
        "rep",
        F.coalesce("rep_type", "node_type").alias("node_type"),
        F.col("curie").alias("orig"),
    ).distinct()


@dataclass
class PipelineConfig:
    fixture_dir: str
    workdir: str
    path_types: list[str] = field(default_factory=lambda: list(DGX_PATH))
    # path DSL (e.g. "D(1-2)GX"); overrides path_types — compiled into every
    # concrete program through the metagraph (reference compile_query)
    path: str | None = None
    # seed values: restrict path starts to these CURIEs (the reference's
    # --start seed, builder/builder.py:512-517 — lookup_identifier output
    # feeds generate_query's start_identifiers); canonicalized via the rep map
    start_values: list[str] | None = None
    # terminal values: run as an end-bound two-sided query
    # (builder/userquery.py:104-113), which emits only edges on paths that
    # complete to one of them; CURIEs, canonicalized via the rep map.
    # Without them every reachable edge is emitted (emit-per-hop)
    end_values: list[str] | None = None
    # supporter modules to run (reference -s flag, builder/builder.py:320-362);
    # an empty list builds no support edges
    supporters: list[str] = field(default_factory=lambda: ["omnicorp"])
    # support-pair generator: 'all' = unordered all-pairs over graph nodes
    # (generate_all_links, builder/builder.py:364-370 — the reference's live
    # path); 'paths' = path-constrained contexts mode
    # (generate_links_from_paths, builder/builder.py:372-407)
    support_pair_mode: str = "all"

    def query_key(self, programs: list[list[str]]) -> str:
        """Stage-name suffix for query-dependent stages, so one workdir
        shares the expensive doc-scale stages (mentions, rep_map,
        doc_entities) across query variants while expansion outputs stay
        isolated per query. Every parameter that changes stage output is
        part of the key, or a rerun in the same workdir would resume stages
        computed under other parameters."""
        import hashlib
        import json

        sig = json.dumps(
            [
                programs,
                sorted(self.start_values or []),
                sorted(self.end_values or []),
                sorted(self.supporters),
                self.support_pair_mode,
            ]
        )
        return "@" + hashlib.md5(sig.encode()).hexdigest()[:8]


class KGPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.ckpt = CheckpointManager(spark, cfg.workdir)

    def run(self) -> dict[str, DataFrame]:
        """Runs the stage graph of the module docstring. A failure in any
        stage is raised from here, after every stage thread has ended."""
        spark, cfg, ckpt = self.spark, self.cfg, self.ckpt
        t = read_fixtures(spark, cfg.fixture_dir)
        # surfaced for tests/operators-report: resumed_from/iterations of
        # the CC loop when the distributed path ran durably this run
        self.cc_stats: dict = {}

        def mentions() -> DataFrame:
            def compute() -> DataFrame:
                # under-split input (few files / giant row groups) would pin
                # the most expensive stage to a handful of tasks
                return detect_mentions(
                    explode_spans(widen_for_kernel(t["documents"])),
                    t["lexicon"],
                    t["entity_embeddings"],
                )

            return ckpt.run_stage("mentions", compute)

        def rep_map() -> DataFrame:
            return ckpt.run_stage(
                "rep_map",
                lambda: canonical_map(
                    t["normalization"],
                    fixture_rows(cfg.fixture_dir, "normalization"),
                    manager=ckpt,
                    stats=self.cc_stats,
                ),
            )

        def query(rep_map: DataFrame) -> _Query:
            # compile the query into concrete programs (driver-side, over
            # the type-level metagraph = distinct (src,dst) pairs — dimension)
            if cfg.path:
                metagraph = {
                    (r["src_type"], r["dst_type"])
                    for r in t["predicate_map"]
                    .select("src_type", "dst_type")
                    .distinct()
                    .collect()
                }
                programs = enumerate_programs(tokenize_path(cfg.path), metagraph)
            else:
                programs = [cfg.path_types]

            def canonize(values: list[str] | None) -> list[str] | None:
                # canonicalize seed/terminal CURIEs (tiny driver-side lookup)
                if not values:
                    return None
                hits = {
                    r["curie"]: r["rep"]
                    for r in rep_map.filter(F.col("curie").isin(values))
                    .select("curie", "rep")
                    .collect()
                }
                return sorted({hits.get(v, v) for v in values})

            return _Query(
                programs,
                cfg.query_key(programs),
                canonize(cfg.start_values),
                canonize(cfg.end_values),
            )

        def pm_rep(rep_map: DataFrame) -> DataFrame:
            # dimension-sized; read by every program's hop joins
            return canonicalize_predicate_map(
                t["predicate_map"], rep_map
            ).localCheckpoint(eager=True)

        # doc_entities and triples_base are not commit points: each is
        # re-derivable from the committed frontier, so a parquet
        # write+read-back cycle would only tax the fixed floor.
        # localCheckpoint (eager) materializes it once and truncates lineage
        # to a LogicalRDD — every consumer then carries a leaf-sized plan
        # instead of re-embedding the join subtree (plain persist was
        # measured SLOWER fresh-JVM: the re-analyzed subtrees grow
        # optimization + codegen time past what the skipped commits saved).
        # On executor loss past the block's lifetime the job restarts from
        # the committed frontier.
        def doc_entities(mentions: DataFrame, rep_map: DataFrame) -> DataFrame:
            return link_doc_entities(mentions, rep_map).localCheckpoint(eager=True)

        # on resume, the uncommitted stages that only feed committed ones
        # are skipped (None)
        def done(q: _Query, *stages: str) -> bool:
            return all(ckpt.is_done(s + q.key) for s in stages)

        def edge_starts(doc_entities: DataFrame, pm_rep: DataFrame, q: _Query):
            if done(q, "triples", "nodes"):
                return None
            return program_edge_starts(
                doc_entities,
                pm_rep,
                q.programs,
                q.end_reps,
                start_reps=q.start_reps,
            )

        def triples_base(doc_entities: DataFrame, edge_starts: DataFrame, q: _Query):
            if done(q, "triples"):
                return None
            return aggregate_program_triples(
                doc_entities, edge_starts, q.programs, start_reps=q.start_reps
            ).localCheckpoint(eager=True)

        def support(
            edge_starts: DataFrame,
            rep_map: DataFrame,
            pm_rep: DataFrame,
            doc_entities: DataFrame,
            q: _Query,
        ) -> DataFrame:
            from ..operators.supporters import get_supporter

            if done(q, "triples"):
                return None
            pairs = None
            if cfg.support_pair_mode == "paths":
                # contexts mode (builder/builder.py:372-407): restrict
                # supporter pairs to (node, ancestor) along program paths
                pairs = program_support_pairs(
                    doc_entities,
                    pm_rep,
                    q.programs,
                    q.end_reps,
                    start_reps=q.start_reps,
                )
            elif cfg.support_pair_mode != "all":
                raise ValueError(f"unknown support_pair_mode {cfg.support_pair_mode!r}")

            # supporters pair up graph nodes only, so the node set of
            # edge_starts is the node set of the finished graph
            ids = graph_nodes(edge_starts)
            out = None
            for name in cfg.supporters:
                edges = get_supporter(name).support(ids, rep_map, t, pairs=pairs)
                out = edges if out is None else out.unionByName(edges)
            # node-pair-bounded, not doc-scale: never a commit point
            return out.localCheckpoint(eager=True)

        def triples(triples_base: DataFrame, q: _Query, *support: DataFrame):
            from ..schemas import TRIPLES

            def compute() -> DataFrame:
                out = triples_base
                for s in support:
                    out = out.unionByName(s)
                # cluster rows by the partition column before the
                # partitioned commit: without this every one of the ~32
                # writer tasks opens a file per pred value (measured 65
                # files for 791 rows at SF=1 — guide §6 small-files);
                # after, one file per pred per non-empty partition. Row
                # content unchanged.
                return validate_triples(out).repartition("pred")

            committed = ckpt.run_stage(
                f"triples{q.key}", compute, partition_by=["pred"]
            )
            # partitioned read-back floats the partition column out of
            # place; re-assert the contractual column order (schemas.TRIPLES)
            return committed.select(*[f.name for f in TRIPLES.fields])

        def nodes(edge_starts: DataFrame, rep_map: DataFrame, q: _Query):
            return ckpt.run_stage(
                f"nodes{q.key}",
                lambda: enhance_nodes(
                    build_nodes(
                        graph_nodes(edge_starts),
                        rep_map,
                        mesh_labels=t.get("mesh_terms"),
                    ),
                    t["label_lookup"],
                ),
                partition_by=["node_type"],
            )

        S = _Stages(spark)
        try:
            f_mentions = S.start("mentions", mentions)
            f_rep_map = S.start("rep_map", rep_map)
            f_query = S.start("query", query, f_rep_map)
            f_pm_rep = S.start("pm_rep", pm_rep, f_rep_map)
            f_doc_entities = S.start(
                "doc_entities", doc_entities, f_mentions, f_rep_map
            )
            f_edge_starts = S.start(
                "edge_starts", edge_starts, f_doc_entities, f_pm_rep, f_query
            )
            f_triples_base = S.start(
                "triples_base", triples_base, f_doc_entities, f_edge_starts, f_query
            )
            f_support = [
                S.start(
                    "support",
                    support,
                    f_edge_starts,
                    f_rep_map,
                    f_pm_rep,
                    f_doc_entities,
                    f_query,
                )
            ] if cfg.supporters else []
            f_nodes = S.start("nodes", nodes, f_edge_starts, f_rep_map, f_query)
            f_triples = S.start(
                "triples", triples, f_triples_base, f_query, *f_support
            )
        finally:
            S.wait()
        out = {
            "mentions": f_mentions.result(),
            "rep_map": f_rep_map.result(),
            "doc_entities": f_doc_entities.result(),
            "triples": f_triples.result(),
            "nodes": f_nodes.result(),
        }

        # lazy: a dimension-sized rollup over tables that are either
        # committed (mentions/triples/nodes) or materialized — computed only
        # when a consumer collects it
        out["metrics"] = (
            stage_metrics(out["mentions"], "mentions")
            .unionByName(stage_metrics(out["doc_entities"], "doc_entities"))
            .unionByName(stage_metrics(out["triples"], "triples", by="pred"))
            .unionByName(stage_metrics(out["nodes"], "nodes", by="node_type"))
        )
        return out


def run_pipeline(
    spark: SparkSession, fixture_dir: str, workdir: str, **kwargs
) -> dict[str, DataFrame]:
    return KGPipeline(spark, PipelineConfig(fixture_dir, workdir, **kwargs)).run()
