"""Deterministic SF-scaled synonym-equivalence graphs, generated WITH Spark.

The pipeline's normalization maps are dimension-sized, so the distributed
large-star/small-star connected-components path (operators/canonicalize.py)
never runs at size in the standard benches — every corpus solves through the
driver union-find under the 2M-edge gate. This generator produces an
arbitrarily large synonym graph whose canonical representatives are known in
CLOSED FORM, so an at-size CC run can be verified with one distributed
comparison (no driver-side ground truth needed):

- nodes 0..n-1 as curies SYN:%09d, partitioned into chain blocks of
  `block` consecutive ids: edge (i, i-1) whenever i % block != 0. Chains
  are the adversarial case for star-contraction (deep diameter → multiple
  alternating rounds), unlike star graphs which converge immediately.
- shortcut edges (i → its block head) for a deterministic ~1/7 of in-block
  ids (xxhash64-selected) — mixes star-ish fan-in into the chains.
- hub edges: every block whose index b satisfies b % hub_stride == 1 links
  its head to node 0 — one giant skewed component spanning ~n/hub_stride
  of the graph plus many small ones, exercising hub skew in the
  distributed CC rounds.

Expected representative (min member of the component):
  rep(i) = SYN:0 if block(i) == 0 or block(i) % hub_stride == 1
           else SYN:(block(i) * block)
exposed as `expected_rep_col` for a fully distributed correctness check.

All edges are pure column expressions over spark.range — no driver-side
loops, no RNG state; any SF generates in seconds and identically on any
cluster layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _curie(c):
    return F.format_string("SYN:%09d", c)


def synonym_graph(
    spark: SparkSession,
    n_nodes: int,
    block: int = 64,
    hub_stride: int = 50,
    shortcut_mod: int = 7,
) -> DataFrame:
    """(src, dst) synonym-equivalence edges over n_nodes; ~n·(1 + 1/7)
    edges. Deterministic for (n_nodes, block, hub_stride, shortcut_mod)."""
    ids = spark.range(n_nodes)
    pos = F.col("id") % block
    head = F.col("id") - pos
    chain = ids.filter(pos != 0).select(
        _curie(F.col("id")).alias("src"), _curie(F.col("id") - 1).alias("dst")
    )
    shortcut = (
        ids.filter((pos >= 2) & (F.pmod(F.xxhash64("id"), F.lit(shortcut_mod)) == 0))
        .select(_curie(F.col("id")).alias("src"), _curie(head).alias("dst"))
    )
    blk = (F.col("id") / block).cast("long")
    hub = (
        ids.filter((pos == 0) & (F.col("id") != 0) & (blk % hub_stride == 1))
        .select(_curie(F.col("id")).alias("src"), _curie(F.lit(0)).alias("dst"))
    )
    return chain.unionByName(shortcut).unionByName(hub)


def expected_rep_col(curie_col, block: int = 64, hub_stride: int = 50):
    """Closed-form representative for a synonym_graph node curie column."""
    node_id = F.substring(curie_col, 5, 9).cast("long")
    blk = (node_id / block).cast("long")
    rep_id = F.when((blk == 0) | (blk % hub_stride == 1), F.lit(0)).otherwise(
        blk * block
    )
    return _curie(rep_id)
