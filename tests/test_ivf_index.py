"""Persisted IVF index: build once (cid-partitioned CheckpointManager
snapshot), probe by reading ONLY the manifest-named cell partitions —
the composition of the IVF operator with the manifest-planned read path,
i.e. the on-disk shape a 100-TB deployment actually serves queries from."""

import numpy as np
import pytest

from robokop_build_spark.operators import similarity as S
from robokop_build_spark.sources.checkpoint import CheckpointManager

DIM = 16
N = 120


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.RandomState(7)
    v = rng.randn(N, DIM).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v[1] = v[0] + 0.01 * rng.randn(DIM).astype(np.float32)
    v[1] /= np.linalg.norm(v[1])
    return v


@pytest.fixture(scope="module")
def emb_df(spark, vecs):
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(N)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_index_commit_carries_per_cell_manifest(spark, emb_df, vecs, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    cents = S.ivf_train_centroids(vecs, nlist=6)
    S.ivf_build_index(emb_df, cents, mgr, stage="idx")
    meta = mgr.current_meta("idx")
    parts = meta["partitions"]
    assert all(p.startswith("cid=") for p in parts)
    assert sum(v["n_rows"] for v in parts.values()) == N
    assert meta["n_rows"] == N


def test_indexed_topk_equals_in_memory_ivf(spark, emb_df, vecs, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    cents = S.ivf_train_centroids(vecs, nlist=6)
    S.ivf_build_index(emb_df, cents, mgr, stage="idx")
    queries = emb_df.filter(emb_df.vec_id < 8)
    for nprobe in (2, 3, 6):
        live = S.ivf_topk(emb_df, queries, cents, k=4, nprobe=nprobe)
        idx = S.ivf_topk_indexed(
            mgr, queries, cents, stage="idx", k=4, nprobe=nprobe
        )
        assert sorted(map(tuple, idx.collect())) == sorted(
            map(tuple, live.collect())
        ), f"nprobe={nprobe}"


def test_indexed_probe_reads_only_probed_cells(spark, emb_df, vecs, tmp_path):
    """The probe scan must touch exactly the probed cells: every scanned
    cid is one the query probed, and the physical plan reads the pruned
    partition set (no full-table scan behind the scenes)."""
    mgr = CheckpointManager(spark, str(tmp_path))
    cents = S.ivf_train_centroids(vecs, nlist=6)
    S.ivf_build_index(emb_df, cents, mgr, stage="idx")
    q1 = emb_df.filter(emb_df.vec_id == 0)
    probed = {
        r["cid"]
        for r in S._probe_pairs(q1, cents, nprobe=2).select("cid").collect()
    }
    assert len(probed) == 2
    corpus = mgr.read("idx", partitions=[f"cid={c}" for c in sorted(probed)])
    scanned = {r["cid"] for r in corpus.select("cid").distinct().collect()}
    assert scanned <= probed
    # the pruned read plans strictly fewer rows than the full index
    assert corpus.count() < N
    full = mgr.read("idx")
    assert full.count() == N


def test_index_rebuild_is_snapshot_isolated(spark, emb_df, vecs, tmp_path):
    """Re-building the index (new centroids) commits a NEW snapshot; a
    reader that resolved the index before the rebuild keeps reading the
    old one — an in-flight reader is never broken mid-query."""
    mgr = CheckpointManager(spark, str(tmp_path))
    c1 = S.ivf_train_centroids(vecs, nlist=6)
    S.ivf_build_index(emb_df, c1, mgr, stage="idx")
    old = mgr.read("idx")  # resolves the pointer to the first snapshot
    c2 = S.ivf_train_centroids(vecs, nlist=4)
    S.ivf_build_index(emb_df, c2, mgr, stage="idx")
    new = mgr.read("idx")
    assert old.count() == new.count() == N
    # the two snapshots are genuinely different indexes (6 vs 4 cells)
    assert len({r["cid"] for r in old.select("cid").distinct().collect()}) == 6
    assert len({r["cid"] for r in new.select("cid").distinct().collect()}) <= 4
    # retention never deletes the current snapshot
    mgr.expire_snapshots("idx", keep_last=1)
    assert mgr.read("idx").count() == N
