"""Supporter plugin registry: the reference's dynamic support-module
contract (builder/builder.py:320-326 — `import_module(name).get_supporter`,
then `prepare(nodes)` + `term_to_term(a,b)` per pair) re-expressed as
DataFrame-native plugins: `prepare` becomes broadcast side-table
construction, the per-pair scorer becomes one set-at-a-time join/agg over
all pairs (SURVEY.md §2.10 E1).

Each supporter consumes (graph_nodes, rep_map, tables) and returns
support-edge rows in the full reference edge schema (export_edge,
builder/builder.py:31-41): (subj, pred, obj, edge_source, publications,
input_identifiers, ctime, url, standard_label, original_predicate_id,
original_predicate_label, properties).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from .support import (
    cdw_pair_lookup,
    finalize_support_edges,
    restrict_pairs,
    shared_pmid_support,
)
from .topk import capped_sorted_set


class OmnicorpSupporter:
    """builder/omnicorp.py:11-37: shared-PMID literature co-occurrence."""

    name = "omnicorp"

    def support(
        self,
        graph_nodes: DataFrame,
        rep_map: DataFrame,
        tables,
        pairs: DataFrame | None = None,
    ) -> DataFrame:
        from ..operators.canonicalize import resolve_aliases

        tp_rep = resolve_aliases(tables["term_pmids"], rep_map, "curie", out="rep")
        return shared_pmid_support(
            graph_nodes, tp_rep.select("rep", "pmid"), pairs=pairs
        )


class ChemotextSupporter:
    """builder/chemotext.py:8-68 (J7): MeSH-label literature co-occurrence.

    prepare = node → MeSH synonyms (rep-map members with the MESH prefix) →
    chemotext term labels (broadcast join; unknown mesh ids are skipped, the
    reference warns, chemotext.py:30-36). term_to_term = shared-article
    self-join with the per-pair LIMIT 10000 (chemotext.py:53) as a bounded
    top-k. Union-of-intersections over label pairs ≡ intersection of the
    nodes' article unions, so one node-level (rep, pmid) join suffices.
    """

    name = "chemotext"

    def support(
        self,
        graph_nodes: DataFrame,
        rep_map: DataFrame,
        tables,
        pairs: DataFrame | None = None,
    ) -> DataFrame:
        mesh = (
            rep_map.filter(F.col("curie").startswith("MESH:"))  # F2 prefix select
            .join(F.broadcast(graph_nodes.select(F.col("id").alias("rep"))), "rep")
            .select("rep", F.col("curie").alias("mesh_curie"))
        )
        node_pmids = (
            mesh.join(F.broadcast(tables["mesh_terms"]), "mesh_curie")
            # term_articles is the (term, pmid) fan-out — corpus-scale at
            # 100 TB, never hint-broadcast: the SMALL side here is the
            # graph-restricted mesh/term set, and AQE (or stats) picks the
            # strategy from actual sizes
            .join(tables["term_articles"], "term_name")
            .select("rep", "pmid")
            .distinct()
        )
        a, b = node_pmids.alias("a"), node_pmids.alias("b")
        cand = a.join(b, "pmid").filter(F.col("a.rep") < F.col("b.rep"))
        agg = capped_sorted_set(
            restrict_pairs(
                cand.select(
                    F.col("a.rep").alias("subj"), F.col("b.rep").alias("obj"), "pmid"
                ),
                pairs,
            ),
            ["subj", "obj"],
            "pmid",
            schemas.PUBLICATION_CAP,
            out="publications",
            skip_dedup=True,  # node_pmids is distinct → pair rows unique
        ).withColumn(
            "properties",
            F.create_map(
                F.lit("num_publications"), F.size("publications").cast("string")
            ),
        )
        # original predicate preserves the reference's KEdge values verbatim
        # (chemotext.py:62-64, including the 'co-occurence' spelling and the
        # '{a},{b}' input_id)
        return finalize_support_edges(
            agg,
            "biolink:literature_co-occurrence",
            "chemotext.term_to_term",
            "chemotext:1",
            "literature_co-occurence",
            pair_input_id=True,
        )


class CdwSupporter:
    """builder/cdw.py:9-103: clinical ICD9 co-occurrence with the '<11'
    sentinel fallback. prepare = restrict graph nodes to those carrying an
    ICD9 synonym (F6 guard via the rep_map members), pairs = upper triangle
    (J4), scoring = broadcast pair lookup (J8)."""

    name = "cdw"

    def support(
        self,
        graph_nodes: DataFrame,
        rep_map: DataFrame,
        tables,
        pairs: DataFrame | None = None,
    ) -> DataFrame:
        icd9 = (
            rep_map.filter(F.col("curie").startswith("ICD9CM:"))  # F2 prefix select
            .join(F.broadcast(graph_nodes.select(F.col("id").alias("rep"))), "rep")
            .groupBy("rep")
            .agg(F.min("curie").alias("icd9"))  # deterministic code choice
        )
        a = icd9.select(F.col("rep").alias("rep_a"), F.col("icd9").alias("icd9_a"))
        b = icd9.select(F.col("rep").alias("rep_b"), F.col("icd9").alias("icd9_b"))
        cand = a.join(b, F.col("rep_a") < F.col("rep_b"))  # J4 upper triangle
        if pairs is not None:
            cand = cand.join(F.broadcast(pairs), ["rep_a", "rep_b"], "left_semi")
        scored = cdw_pair_lookup(
            cand.select("rep_a", "rep_b", "icd9_a", "icd9_b"),
            tables["cdw_counts"],
            tables["cdw_paircounts"],
        )
        edges = scored.select(
            F.col("rep_a").alias("subj"),
            F.col("rep_b").alias("obj"),
            F.array().cast("array<string>").alias("publications"),
            # %.6f, not cast-to-string: Java double→string flips to
            # scientific notation below 1e-3 and would desync from any
            # python/SQL twin
            F.create_map(
                F.lit("c"), F.col("c_sentinel"),
                F.lit("e"), F.format_string("%.6f", F.col("e")),
                F.lit("p"), F.when(
                    F.col("p").isNotNull(), F.format_string("%.6f", F.col("p"))
                ),
            ).alias("properties"),
        )
        return finalize_support_edges(
            edges,
            "biolink:occurs_together_in_clinical_records",
            "cdw.term_to_term",
            "cdw:1",
            "clinical co-occurrence",
        )


def featurize_tokens(tokens: DataFrame, tok_col: str = "tok") -> DataFrame:
    """Distributed token featurization: Arrow-batched mapInPandas over the
    (dimension-sized) distinct-token table — replaces the round-1 driver
    collect+createDataFrame (the vocabulary never routes through the
    driver)."""
    from .matching import featurize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "tok": pdf[tok_col],
                    "vec": [[float(x) for x in featurize(t)] for t in pdf[tok_col]],
                }
            )

    return tokens.select(F.col(tok_col).alias("tok")).mapInPandas(
        run, schema="tok string, vec array<double>"
    )


class MaxSimSupporter:
    """builder/chemotext2.py:9-70: per pair, the max token-pair similarity
    between the two node labels. Label tokenization (X5 translate+split,
    F3 stopword/length filter) + distributed hashed token vectors
    (featurize_tokens) + node-granular pairing: tokens are grouped into one
    (tok, vec) array per node first, so the all-pairs join is over nodes
    (the reference is also O(n²) in nodes) and the token-level max runs
    inside one flatten(transform×transform) + array_max expression — never
    a token-level cross join, never a driver-side vocabulary collect."""

    name = "chemotext2"

    BADWORDS = {"disease", "syndrome", "type", "and", "the", "with", "of"}

    def support(
        self,
        graph_nodes: DataFrame,
        rep_map: DataFrame,
        tables,
        pairs: DataFrame | None = None,
    ) -> DataFrame:
        labels = (
            rep_map.select("rep", "name")
            .distinct()
            .join(F.broadcast(graph_nodes.select(F.col("id").alias("rep"))), "rep")
        )
        toks = labels.select(
            "rep",
            F.explode(
                F.split(F.translate(F.lower("name"), "()-,;./", "       "), " +")
            ).alias("tok"),
        ).filter(
            (F.length("tok") > 2) & (~F.col("tok").isin(*sorted(self.BADWORDS)))
        )
        vec_df = featurize_tokens(toks.select("tok").distinct())
        tv = toks.join(F.broadcast(vec_df), "tok")
        node_toks = tv.groupBy("rep").agg(
            F.collect_list(F.struct("tok", "vec")).alias("tvs")
        )
        a = node_toks.select(F.col("rep").alias("subj"), F.col("tvs").alias("ta"))
        b = node_toks.select(F.col("rep").alias("obj"), F.col("tvs").alias("tb"))
        crossed = a.join(b, F.col("subj") < F.col("obj"))  # F9 self-pair filter
        if pairs is not None:
            crossed = crossed.join(
                F.broadcast(
                    pairs.select(
                        F.col("rep_a").alias("subj"), F.col("rep_b").alias("obj")
                    )
                ),
                ["subj", "obj"],
                "left_semi",
            )
        dot = lambda x, y: F.aggregate(  # noqa: E731
            F.zip_with(x["vec"], y["vec"], lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        # struct ordering (sim, tok_a, tok_b) reproduces the reference
        # argmax's deterministic tie-break (A6/J9)
        sims = F.flatten(
            F.transform(
                F.col("ta"),
                lambda x: F.transform(
                    F.col("tb"),
                    lambda y: F.struct(
                        F.round(dot(x, y), 6).alias("sim"),
                        x["tok"].alias("tok_a"),
                        y["tok"].alias("tok_b"),
                    ),
                ),
            )
        )
        best = crossed.withColumn("best", F.array_max(sims))
        edges = best.select(
            "subj",
            "obj",
            F.array().cast("array<string>").alias("publications"),
            F.create_map(
                F.lit("similarity"), F.format_string("%.6f", F.col("best.sim")),
                F.lit("terms"), F.concat_ws("|", "best.tok_a", "best.tok_b"),
            ).alias("properties"),
        )
        return finalize_support_edges(
            edges,
            "biolink:similar_to",
            "chemotext2.term_to_term",
            "chemotext2:1",
            "similarity",
        )


SUPPORTERS = {
    s.name: s
    for s in (
        OmnicorpSupporter(),
        CdwSupporter(),
        MaxSimSupporter(),
        ChemotextSupporter(),
    )
}


def get_supporter(name: str):
    """builder/builder.py:320-326 analog (dynamic load by module name)."""
    try:
        return SUPPORTERS[name]
    except KeyError:
        raise ValueError(f"unknown supporter {name!r}; have {sorted(SUPPORTERS)}")
