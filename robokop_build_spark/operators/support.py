"""Support-edge analytics as set-at-a-time DataFrame math.

The reference scores every unordered node pair with per-pair remote calls
(builder/builder.py:345-361, O(n²) RPCs). The rebuild replaces that with
joins + aggregations — the biggest semantic win of the rewrite
(SURVEY.md §7 M4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas

SUPPORT_PRED = "biolink:correlated_with"
SUPPORT_SOURCE = "omnicorp.term_to_term"

CDW_TOTAL = 269332  # grand total of patients, builder/cdw.py:16


def finalize_support_edges(
    df: DataFrame,
    pred: str,
    source: str,
    orig_pred_id: str,
    orig_pred_label: str,
    pair_input_id: bool = False,
) -> DataFrame:
    """Project supporter rows (subj, obj, publications, properties) onto the
    full reference edge schema (export_edge, builder/builder.py:31-41).

    pair_input_id: supporters whose KEdge carries the node-pair input_id
    ('{a},{b}' — omnicorp builder/omnicorp.py:27-29, chemotext
    builder/chemotext.py:62-64) set True; cdw/chemotext2 use the legacy
    KEdge constructor without an input_id (builder/cdw.py:68,
    builder/chemotext2.py:66) and keep ''. Every edge added through
    add_nonsynonymous_edge carries properties['reversed']=False
    (builder/builder.py:217) — injected here for all supporter edges."""
    inputs = (
        F.concat_ws(",", "subj", "obj") if pair_input_id else F.lit("")
    )
    return df.select(
        "subj",
        F.lit(pred).alias("pred"),
        "obj",
        F.lit(source).alias("edge_source"),
        "publications",
        inputs.alias("input_identifiers"),
        F.lit(0).cast("long").alias("ctime"),
        F.concat(F.lit("op://"), F.lit(source), F.lit("/"), F.col("subj")).alias("url"),
        F.lit(pred.split(":")[1]).alias("standard_label"),
        F.lit(orig_pred_id).alias("original_predicate_id"),
        F.lit(orig_pred_label).alias("original_predicate_label"),
        # inject the default 'reversed' only when the supporter's own
        # properties don't already carry one: map_concat under the default
        # spark.sql.mapKeyDedupPolicy=EXCEPTION throws on a duplicate key,
        # while the oracle's {'reversed': 'False', **properties} lets the
        # caller's value win — this keeps both sides agreeing either way
        F.when(
            F.map_contains_key("properties", F.lit("reversed")), F.col("properties")
        )
        .otherwise(
            F.map_concat(
                F.create_map(F.lit("reversed"), F.lit("False")), "properties"
            )
        )
        .alias("properties"),
    )


def restrict_pairs(df: DataFrame, pairs: DataFrame | None) -> DataFrame:
    """Optionally restrict candidate (subj, obj) pair rows to an allowed
    pair set (contexts mode, builder/builder.py:372-407): a broadcast
    semi-join — the pair set is walk-derived, dimension-sized."""
    if pairs is None:
        return df
    allowed = pairs.select(
        F.col("rep_a").alias("subj"), F.col("rep_b").alias("obj")
    )
    return df.join(F.broadcast(allowed), ["subj", "obj"], "left_semi")


def shared_pmid_support(
    graph_nodes: DataFrame,
    term_pmids_rep: DataFrame,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Omnicorp analog (builder/omnicorp.py:21-33, SURVEY.md §2.3 J6):
    support edge (a, correlated_with, b) for every unordered graph-node pair
    sharing ≥1 PMID; publications = sorted shared PMIDs, capped (the
    reference's per-pair article LIMIT, builder/chemotext.py:53) via the
    bounded two-phase top-k — a hub pair never owns an unbounded buffer.

    Shape: semi-join term_pmids down to graph nodes (small), then a
    self-equi-join on pmid + bounded top-k — replaces O(n²) per-pair RPCs.
    graph_nodes: (id); term_pmids_rep: (rep, pmid).
    """
    from .topk import capped_sorted_set

    tp = (
        term_pmids_rep.join(
            F.broadcast(graph_nodes.select(F.col("id").alias("rep"))), "rep"
        )
        .select("rep", "pmid")
        .distinct()
    )
    a, b = tp.alias("a"), tp.alias("b")
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
        skip_dedup=True,  # tp is distinct → (subj,obj,pmid) already unique
    ).withColumn(
        "properties",
        F.create_map(
            F.lit("num_publications"), F.size("publications").cast("string")
        ),
    )
    # original predicate label preserves the reference KEdge value VERBATIM,
    # including the 'co-occurence' misspelling (builder/omnicorp.py:27-29)
    return finalize_support_edges(
        agg, SUPPORT_PRED, SUPPORT_SOURCE, "omnicorp:1", "literature_co-occurence",
        pair_input_id=True,
    )


def cdw_pair_lookup(
    pairs: DataFrame, cdw_counts: DataFrame, cdw_paircounts: DataFrame
) -> DataFrame:
    """CDW clinical co-occurrence (builder/cdw.py:92-100, SURVEY.md J8).

    pairs: (icd9_a, icd9_b). Left-join the (symmetrized) pair-counts table;
    pairs absent from it fall back to the `'<11'` sentinel row with
    e = c1*c2/total and NULL p — keeping BOTH the stringly sentinel (for
    reference fidelity) and a typed nullable c_count (SURVEY.md §7 hard
    thing #3).
    """
    # both (a,b) and (b,a) keyed, marginals swapped (builder/cdw.py:48-62)
    sym = cdw_paircounts.select("icd9_a", "icd9_b", "c1", "c2", "c", "p").unionByName(
        cdw_paircounts.select(
            F.col("icd9_b").alias("icd9_a"),
            F.col("icd9_a").alias("icd9_b"),
            F.col("c2").alias("c1"),
            F.col("c1").alias("c2"),
            "c",
            "p",
        )
    )
    counts_a = cdw_counts.select(
        F.col("icd9").alias("icd9_a"), F.col("count").alias("cnt_a")
    )
    counts_b = cdw_counts.select(
        F.col("icd9").alias("icd9_b"), F.col("count").alias("cnt_b")
    )
    joined = (
        pairs.join(F.broadcast(counts_a), "icd9_a")  # F7 known-code guard
        .join(F.broadcast(counts_b), "icd9_b")
        .join(F.broadcast(sym), ["icd9_a", "icd9_b"], "left")
    )
    passthrough = [c for c in pairs.columns if c not in ("icd9_a", "icd9_b")]
    return joined.select(
        *passthrough,
        "icd9_a",
        "icd9_b",
        F.coalesce("c1", "cnt_a").alias("c1"),
        F.coalesce("c2", "cnt_b").alias("c2"),
        F.coalesce(F.col("c").cast("string"), F.lit("<11")).alias("c_sentinel"),
        F.col("c").alias("c_count"),
        (
            F.coalesce("c1", "cnt_a").cast("double")
            * F.coalesce("c2", "cnt_b").cast("double")
            / F.lit(float(CDW_TOTAL))
        ).alias("e"),
        "p",
    )


def chi2_2x2(df: DataFrame, a: str, b: str, c: str, n: str, yates: bool = True):
    """Closed-form 2×2 chi² (CDW/CooccurChi2.ipynb cells 2-5, SURVEY.md A5)
    as pure column expressions — no per-row Python, no scipy on executors.

    Contingency from marginals: both = c, only_a = a-c, only_b = b-c,
    neither = n-a-b+c. Returns (chi2, expected_both) columns.
    """
    A = F.col(a).cast("double")
    B = F.col(b).cast("double")
    C = F.col(c).cast("double")
    N = F.col(n).cast("double")
    o11, o12, o21, o22 = C, A - C, B - C, N - A - B + C
    r1, r2 = o11 + o12, o21 + o22
    c1, c2 = o11 + o21, o12 + o22
    exp = [r1 * c1 / N, r1 * c2 / N, r2 * c1 / N, r2 * c2 / N]
    obs = [o11, o12, o21, o22]
    corr = F.lit(0.5) if yates else F.lit(0.0)
    # degenerate margins (expected cell = 0) contribute 0, not ±inf/error
    terms = [
        F.when(
            e > 0,
            F.pow(F.greatest(F.abs(o - e) - corr, F.lit(0.0)), F.lit(2.0)) / e,
        ).otherwise(F.lit(0.0))
        for o, e in zip(obs, exp)
    ]
    chi2 = terms[0] + terms[1] + terms[2] + terms[3]
    return chi2, exp[0]
