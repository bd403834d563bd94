"""Stage 4: materialize node + triple tables with merge semantics,
validation, lineage and metrics.

Reference analog: export_node / export_edge over a Neo4j bolt session
(builder/builder.py:76-96, 16-41). Spark-first: triples written
partitionBy('pred') (partition pruning for per-predicate consumers).
Resume never duplicates (SURVEY.md §7 hard thing #4) because each stage
commits atomically as a whole snapshot and a relaunch skips every stage
that `CheckpointManager.is_done` reports, not because the build merges
into earlier output. The reference's "delete old edge then create"
(builder/builder.py:24-25) is `merge_triples`, an idempotent merge keyed
on (subj, obj, edge_source) for sinks that accumulate across builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRIPLE_MERGE_KEY = ["subj", "obj", "edge_source"]


def validate_triples(triples: DataFrame) -> DataFrame:
    """Fatal NULL-key guard: standard_predicate_id IS NULL is fatal in the
    reference (builder/builder.py:27-30) — modeled as a check that fails
    the job, not a silent drop (SURVEY.md §7 hard thing #5).

    The check rides inside the write job itself: the key columns are
    wrapped in a raise_error branch, so a NULL aborts the job at the row
    that carries it with ZERO extra passes over the fact table."""
    bad = F.col("pred").isNull() | F.col("subj").isNull() | F.col("obj").isNull()
    msg = F.concat(
        F.lit("NullPredicateError: NULL pred/subj/obj in triple subj="),
        F.coalesce(F.col("subj"), F.lit("NULL")),
        F.lit(" obj="),
        F.coalesce(F.col("obj"), F.lit("NULL")),
    )
    # the guard rides on ALL THREE key columns: a consumer plan that prunes
    # any one of them (column pruning) still evaluates the raise_error branch
    # through the others — dropping the check would require pruning the
    # entire key, at which point no keyed output exists to mis-write
    out = triples
    for c in ("pred", "subj", "obj"):
        out = out.withColumn(c, F.when(bad, F.raise_error(msg)).otherwise(F.col(c)))
    return out


def graph_nodes(edges: DataFrame) -> DataFrame:
    """(id): every distinct node of an edge table (subj ∪ obj)."""
    return (
        edges.select(F.col("subj").alias("id"))
        .union(edges.select(F.col("obj").alias("id")))
        .distinct()
    )


def build_nodes(
    ids: DataFrame, rep_map: DataFrame, mesh_labels: DataFrame | None = None
) -> DataFrame:
    """Node table for every graph node id in ids(id), with sorted
    equivalent_identifiers (builder/builder.py:81-82) = all member CURIEs of
    the canonical component, plus the KNode-level extras the reference's
    prepare_node_for_output consumes (builder/builder.py:427-430):

    - mesh_identifiers: [{curie, label}] for every MESH member of the
      component; labels resolved from mesh_labels(mesh_curie, term_name)
      when known, '' otherwise (the reference filters mi['curie'] != '' at
      fold-in, so empty labels are representable). The synonym fold-in
      itself (synonyms.update(mesh curies)) is inherent here — MESH members
      are already in equivalent_identifiers.
    - properties: open dict; mondo_identifiers (comma-joined MONDO members)
      for disease/genetic_condition components, mirroring builder.py:428-430.
    """
    members = rep_map
    label = F.lit("")
    if mesh_labels is not None:
        labels = mesh_labels.select(F.col("mesh_curie").alias("curie"), "term_name")
        members = members.join(F.broadcast(labels), "curie", "left")
        label = F.coalesce("term_name", label)
    # one per-rep aggregate: collect_set skips the nulls that the prefix
    # filters leave for non-MESH / non-MONDO members
    members = members.groupBy("rep").agg(
        F.array_sort(F.collect_set("curie")).alias("equivalent_identifiers"),
        F.min("node_type").alias("node_type"),
        F.min("name").alias("name"),
        F.array_sort(
            F.collect_set(
                F.when(
                    F.col("curie").startswith("MESH:"),
                    F.struct(F.col("curie"), label.alias("label")),
                )
            )
        ).alias("mesh_identifiers"),
        F.array_sort(
            F.collect_set(
                F.when(F.col("curie").startswith("MONDO:"), F.col("curie"))
            )
        ).alias("mondos"),
    )
    empty_mesh = F.array().cast("array<struct<curie:string,label:string>>")
    empty_map = F.create_map().cast("map<string,string>")
    # members scales with the entity graph (one row per rep, carrying
    # synonym/mesh arrays): no hint, the planner broadcasts it while it fits
    return ids.join(members, ids["id"] == members["rep"], "left").select(
        "id",
        # non-empty sentinel: the node table is partitionBy(node_type), and
        # an empty-string partition value round-trips as NULL through
        # hive-style layout (__HIVE_DEFAULT_PARTITION__)
        F.coalesce("node_type", F.lit("unknown")).alias("node_type"),
        F.coalesce("name", F.lit("")).alias("name"),
        F.coalesce("equivalent_identifiers", F.array(F.col("id"))).alias(
            "equivalent_identifiers"
        ),
        F.coalesce("mesh_identifiers", empty_mesh).alias("mesh_identifiers"),
        F.when(
            F.col("node_type").isin("disease", "genetic_condition")
            & (F.size(F.coalesce("mondos", F.array())) > 0),
            F.create_map(
                F.lit("mondo_identifiers"), F.concat_ws(",", "mondos")
            ),
        )
        .otherwise(empty_map)
        .alias("properties"),
    )


def enhance_nodes(nodes: DataFrame, label_lookup: DataFrame) -> DataFrame:
    """Enhance stage (builder/builder.py:309-318 + prepare_node_for_output
    :424-445): authority labels win over carried names, and the identifier
    is the last-resort label. The reference also hard-exits on a DOID
    primary id (its normalizer promises MONDO); this engine's canonical rep
    is the deterministic min-CURIE, which legitimately surfaces alias
    prefixes, so it has no such guard.

    MeSH synonym fold-in (prepare_node_for_output:427) is inherent to the
    component model here: equivalent_identifiers already carries every
    component member including MESH aliases — no extra join needed.
    """
    auth = label_lookup.select(
        F.col("curie").alias("id"), F.col("label").alias("__auth_label")
    )
    # authority labels are entity-scale at web size: no hint
    named = nodes.join(auth, "id", "left").withColumn(
        "name",
        F.coalesce(
            F.nullif(F.col("__auth_label"), F.lit("")),
            F.nullif(F.col("name"), F.lit("")),
            F.col("id"),  # label = identifier fallback (builder.py:441)
        ),
    ).drop("__auth_label")
    extras = [c for c in ("mesh_identifiers", "properties") if c in named.columns]
    return named.select(
        "id", "node_type", "name", "equivalent_identifiers", *extras
    )


def write_triples(triples: DataFrame, path: str) -> None:
    """Partitioned-by-predicate sink (S13). Parquet stands in for Iceberg in
    this sandbox (no Iceberg runtime jar available offline); layout and merge
    semantics are format-agnostic."""
    validate_triples(triples).write.mode("overwrite").partitionBy("pred").parquet(path)


def merge_triples(
    spark: SparkSession, existing_path: str, new: DataFrame, out_path: str
) -> DataFrame:
    """Idempotent MERGE: new rows replace existing rows with the same
    (subj, obj, edge_source) — the reference's delete-then-create
    (builder/builder.py:24-25) made resume-safe. With Iceberg this is a
    single MERGE INTO; on parquet it is anti-join + union + rewrite."""
    import os

    if os.path.abspath(out_path) == os.path.abspath(existing_path):
        # the lazy read + mode('overwrite') would delete the input mid-plan
        raise ValueError(
            "merge_triples: out_path must differ from existing_path "
            f"({out_path!r}); write to a new location, then swap"
        )
    existing = spark.read.parquet(existing_path)
    keep = existing.join(
        new.select(*TRIPLE_MERGE_KEY).distinct(), TRIPLE_MERGE_KEY, "left_anti"
    )
    merged = new.unionByName(keep.select(*new.columns))
    write_triples(merged, out_path)
    return spark.read.parquet(out_path)


def upsert_nodes(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Node upsert semantics from the reference's export_node + the four
    golden behaviors in builder/test/test_graphdb_update.py:33-82:
    - new id → insert (test_create)
    - re-export with a subtype → node_type labels are ADDED (test_add_label):
      modeled as a sorted array union in a `labels` column
    - name and equivalent_identifiers are OVERWRITTEN by the incoming row
      (test_just_overwrite_name / test_also_overwrite_synonyms)
    """
    ex = existing.select(
        "id",
        F.col("node_type").alias("ex_node_type"),
        F.col("name").alias("ex_name"),
        F.col("equivalent_identifiers").alias("ex_eq"),
        (
            F.col("labels")
            if "labels" in existing.columns
            else F.array(F.col("node_type"))
        ).alias("ex_labels"),
    )
    inc = incoming.select(
        "id",
        F.col("node_type").alias("in_node_type"),
        F.col("name").alias("in_name"),
        F.col("equivalent_identifiers").alias("in_eq"),
    )
    merged = ex.join(inc, "id", "full_outer")
    return merged.select(
        "id",
        F.coalesce("in_node_type", "ex_node_type").alias("node_type"),
        F.coalesce("in_name", "ex_name").alias("name"),  # overwrite name
        F.coalesce("in_eq", "ex_eq").alias("equivalent_identifiers"),  # overwrite
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.coalesce("ex_labels", F.array()),
                    F.when(
                        F.col("in_node_type").isNotNull(), F.array(F.col("in_node_type"))
                    ).otherwise(F.array()),
                )
            )
        ).alias("labels"),  # add label, never remove
    )


def stage_metrics(df: DataFrame, stage: str, by: str | None = None) -> DataFrame:
    """Per-partition lineage/metrics rows written alongside each stage
    (SURVEY.md §4 custom piece #3): counts + content checksum, keyed by
    stage and (optionally) output partition."""
    key = F.coalesce(F.col(by), F.lit("__null__")) if by else F.lit("__all__")
    # xxhash64 rejects MapType inputs: stringify map columns (sorted keys so
    # the checksum is order-independent) and hash everything else directly
    hash_cols = [
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(F.col(c)))))
        if t.startswith("map")
        else F.col(c)
        for c, t in df.dtypes
    ]
    return df.groupBy(key.alias("partition_key")).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.coalesce(F.bit_xor(F.xxhash64(*hash_cols)), F.lit(0)).alias("checksum"),
    ).select(F.lit(stage).alias("stage"), "partition_key", "row_count", "checksum")
