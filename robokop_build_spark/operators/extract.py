"""Stage 1: explode span arrays + detect/link mentions.

Spark-first: posexplode keeps exact span ordinals so the span-sequence
invariant (BASELINE.json input_hint) is checkable/invertible; mention
detection + embedding rerank run inside a single mapInArrow (one
Python→JVM exchange, Arrow RecordBatches end to end — no per-row Spark UDFs
and no pandas round-trip; measured 2.5× the mapInPandas stage wall at SF=1).

Reference analog: seed lookups builder/lookup_utils.py:4-77 generalized to
in-text dictionary matching; rerank = argmax similarity per
builder/chemotext2.py:51-64 (SURVEY.md §2.10 E1 mapping).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .matching import build_trie, mention_record_batch

MENTION_UDF_SCHEMA = (
    "doc_id string, span_pos int, span_offset int, mention_start int, "
    "surface string, curie string, node_type string, score double"
)


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span with its ordinal.

    posexplode (never explode+re-sort) so reassembly is exactly invertible
    even with duplicate span texts (SURVEY.md §7 hard thing #2).
    """
    return documents.select(
        "doc_id", F.posexplode_outer("spans").alias("span_pos", "span")
    ).select(
        "doc_id",
        "span_pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans — used by the span-sequence-equality test."""
    return (
        exploded.filter(F.col("span_pos").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_pos", "kind", "text", "media_ref", "offset"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def detect_mentions(
    spans: DataFrame,
    lexicon: DataFrame,
    entity_embeddings: DataFrame | None = None,
) -> DataFrame:
    """Text/caption spans → mention rows with linked CURIE + score.

    The lexicon trie and embedding matrix are dimension tables (fixed size,
    not SF-scaled) → driver-collected and broadcast once; the scan side
    streams through mapInArrow in Arrow batches. An empty lexicon yields
    zero rows (the kernel matches nothing).
    """
    sc = spans.sparkSession.sparkContext
    trie = build_trie(
        [(r["surface"], r["curie"], r["node_type"]) for r in lexicon.collect()]
    )
    emb_map: dict[str, np.ndarray] = {}
    if entity_embeddings is not None:
        for r in entity_embeddings.collect():
            emb_map[r["curie"]] = np.asarray(r["embedding"], dtype=np.float64)
    b_trie = sc.broadcast(trie)
    b_emb = sc.broadcast(emb_map)

    def run(batches):
        # Arrow-native batches: detect→link→assemble without a pandas
        # round-trip (matching.mention_record_batch — tokenize/intern run
        # as Arrow C++ kernels, output columns are take-gathers on the
        # input buffers). Parity-gated against the scalar
        # detect()+link_mentions() loop the oracle runs.
        trie_l = b_trie.value
        emb_l = b_emb.value
        for rb in batches:
            yield mention_record_batch(rb, trie_l, emb_l)

    textual = spans.filter(F.col("kind").isin("text", "caption")).select(
        "doc_id", "span_pos", "offset", "text"
    )
    return textual.mapInArrow(run, schema=MENTION_UDF_SCHEMA)

