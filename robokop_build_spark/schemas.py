"""Fixed per-stage schemas for the KG-construction pipeline.

Reference data model (SURVEY.md §1): KNode → nodes row, KEdge → triples row.
Input shape is authoritative from BASELINE.json input_hint:
documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# per-edge publications cap (the reference's per-pair article LIMIT 10000,
# builder/chemotext.py:53): program edges, support edges and the golden
# oracle all read it from here
PUBLICATION_CAP = 10_000

SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN)),
    ]
)

# Mention dictionary (reference analog: name→CURIE lookups,
# builder/lookup_utils.py:4-77).
LEXICON = StructType(
    [
        StructField("surface", StringType()),
        StructField("curie", StringType()),
        StructField("node_type", StringType()),
    ]
)

# alias→canonical map (reference analog: node_map synonym index,
# builder/builder.py:249-264).
NORMALIZATION = StructType(
    [
        StructField("alias", StringType()),
        StructField("canonical", StringType()),
        StructField("node_type", StringType()),
        StructField("name", StringType()),
    ]
)

# Typed edge ops + concrete edge instances (reference analog: metagraph
# edges with r.op, builder/userquery.py:128; the closed-world KG the
# crawl queries).
PREDICATE_MAP = StructType(
    [
        StructField("src_type", StringType()),
        StructField("dst_type", StringType()),
        StructField("op_name", StringType()),
        StructField("pred", StringType()),
        StructField("subj_curie", StringType()),
        StructField("obj_curie", StringType()),
        StructField("orig_pred_id", StringType()),
        StructField("orig_pred_label", StringType()),
    ]
)

# Chemotext side tables (builder/chemotext.py:22-36: mesh id → chemotext
# term; term-pair → articles, modeled as term → article rows).
MESH_TERMS = StructType(
    [
        StructField("mesh_curie", StringType()),
        StructField("term_name", StringType()),
    ]
)

TERM_ARTICLES = StructType(
    [
        StructField("term_name", StringType()),
        StructField("pmid", StringType()),
    ]
)

ENTITY_EMBEDDINGS = StructType(
    [
        StructField("curie", StringType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

TERM_PMIDS = StructType(
    [
        StructField("curie", StringType()),
        StructField("pmid", StringType()),
    ]
)

CDW_COUNTS = StructType(
    [
        StructField("icd9", StringType()),
        StructField("count", LongType()),
    ]
)

CDW_PAIRCOUNTS = StructType(
    [
        StructField("icd9_a", StringType()),
        StructField("icd9_b", StringType()),
        StructField("c1", LongType()),
        StructField("c2", LongType()),
        StructField("c", LongType()),
        StructField("p", DoubleType()),
    ]
)

# Stage 1 output: one row per detected mention.
MENTIONS = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_pos", IntegerType()),
        StructField("span_offset", IntegerType()),
        StructField("mention_start", IntegerType()),
        StructField("surface", StringType()),
        StructField("curie", StringType()),  # linked (post-rerank) CURIE
        StructField("node_type", StringType()),
        StructField("score", DoubleType()),
    ]
)

# Materialized node table (reference analog: export_node fields,
# builder/builder.py:76-96, plus the KNode-level mesh_identifiers list and
# open properties dict consumed by prepare_node_for_output,
# builder/builder.py:427-430 — carried so downstream consumers see what the
# reference's node objects carry, even though export_node itself writes only
# the first four).
NODES = StructType(
    [
        StructField("id", StringType()),
        StructField("node_type", StringType()),
        StructField("name", StringType()),
        StructField("equivalent_identifiers", ArrayType(StringType())),
        StructField(
            "mesh_identifiers",
            ArrayType(
                StructType(
                    [
                        StructField("curie", StringType()),
                        StructField("label", StringType()),
                    ]
                )
            ),
        ),
        StructField("properties", MapType(StringType(), StringType())),
    ]
)

# Materialized triple table (reference analog: export_edge fields,
# builder/builder.py:16-41: edge_source, ctime, standard_label,
# original_predicate_id, original_predicate_label, publications, url,
# input_identifiers — plus the per-supporter properties map, KEdge.properties).
TRIPLES = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("edge_source", StringType()),
        StructField("publications", ArrayType(StringType())),
        StructField("input_identifiers", StringType()),
        StructField("ctime", LongType()),
        StructField("url", StringType()),
        StructField("standard_label", StringType()),
        StructField("original_predicate_id", StringType()),
        StructField("original_predicate_label", StringType()),
        StructField("properties", MapType(StringType(), StringType())),
    ]
)
