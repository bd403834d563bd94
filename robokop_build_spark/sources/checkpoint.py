"""Per-stage checkpointing with snapshot isolation.

Reference analog: the Redis memo cache (builder/builder.py:348-356) — here
replaced by durable per-stage tables with Iceberg's commit contract,
implemented on plain parquet (the offline container has no Iceberg runtime
jar; the semantics below are the part of the contract a query engine
actually depends on):

- **Immutable snapshots**: each commit writes a NEW directory
  `<stage>/snap-<n>/` and never touches previous snapshots' files.
- **Atomic metadata-pointer swap**: the commit point is one atomic
  os.replace of `<stage>/_STAGE_COMMITTED`, whose JSON names the current
  snapshot id, schema and manifest stats — exactly Iceberg's
  version-hint/metadata swap. A reader that resolved the pointer before a
  re-commit keeps reading its (untouched) snapshot: snapshot isolation
  without locks. `expire_snapshots` is the retention sweep (never expires
  the current snapshot).
- **Resumability**: a killed job relaunches and skips every stage whose
  pointer exists (north_rule "resumable from checkpoint").

The pointer is the only metadata file: the snapshot ids a stage holds are
its `snap-*` directories on disk.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MARKER = "_STAGE_COMMITTED"


class CheckpointManager:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self.path(stage), MARKER))

    def _pointer(self, stage: str) -> dict | None:
        marker = os.path.join(self.path(stage), MARKER)
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            return json.load(f)

    def current_meta(self, stage: str) -> dict | None:
        """Metadata of the current committed snapshot (the pointer JSON:
        snapshot id, schema, manifest stats, any extra_meta recorded at
        commit) — None when the stage has never committed."""
        return self._pointer(stage)

    def _snapshot_ids(self, stage: str) -> list[int]:
        """Ids of the snapshot directories on disk, ascending — including a
        directory no pointer names (a commit that crashed after its data
        write), so that id is never reused."""
        p = self.path(stage)
        if not os.path.isdir(p):
            return []
        return sorted(
            int(name[5:])
            for name in os.listdir(p)
            if name.startswith("snap-") and name[5:].isdigit()
        )

    def read(self, stage: str) -> DataFrame:
        """Read the current snapshot of a committed stage with its
        commit-time schema."""
        from pyspark.sql.types import StructType

        meta = self._pointer(stage)
        if meta is None:
            raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
        p = os.path.join(self.path(stage), f"snap-{meta['snapshot']}")
        # schema recorded at commit time, applied explicitly: an empty stage
        # output writes zero part-files, and schema inference over a
        # fileless directory fails even though the stage legitimately
        # produced 0 rows (e.g. an end-bound query with no matches)
        schema = StructType.fromJson(json.loads(meta["schema"]))
        # the commit marker's stats say what the data layer holds: a
        # zero-row snapshot resolves to a LocalRelation — no directory
        # listing, no FileScan, no job
        if meta.get("n_rows") == 0:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(p)

    @staticmethod
    def _manifest_stats(data_dir: str) -> dict:
        """Iceberg-manifest-style per-snapshot stats from the written files'
        parquet footers (metadata-only reads — no data scan, no Spark job):
        file count, total bytes, exact row count, plus the same rollup per
        partition directory for partitioned commits. Recorded in the commit
        marker so read() can short-circuit a zero-row snapshot without
        listing directories, and callers can audit a stage's size and
        per-partition lineage."""
        import pyarrow.parquet as pq

        n_files = n_rows = n_bytes = 0
        parts: dict[str, dict] = {}
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                rows = pq.ParquetFile(full).metadata.num_rows
                size = os.path.getsize(full)
                n_files += 1
                n_bytes += size
                n_rows += rows
                rel = os.path.relpath(root, data_dir)
                if rel != ".":  # hive partition dir(s), e.g. pred=treats
                    p = parts.setdefault(
                        rel, {"n_files": 0, "n_rows": 0, "total_bytes": 0}
                    )
                    p["n_files"] += 1
                    p["n_rows"] += rows
                    p["total_bytes"] += size
        stats = {"n_files": n_files, "n_rows": n_rows, "total_bytes": n_bytes}
        if parts:
            stats["partitions"] = dict(sorted(parts.items()))
        return stats

    def commit(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        extra_meta: dict | None = None,
    ) -> DataFrame:
        """Write stage output as a NEW immutable snapshot, then atomically
        swap the pointer (commit point). Returns the re-read DataFrame so
        downstream stages consume the materialized table (cuts lineage like
        an Iceberg snapshot would). Concurrent readers of the previous
        snapshot are unaffected — its files are never rewritten."""
        p = self.path(stage)
        os.makedirs(p, exist_ok=True)
        snap = max(self._snapshot_ids(stage), default=-1) + 1
        data_dir = os.path.join(p, f"snap-{snap}")
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        meta = {
            "stage": stage,
            "snapshot": snap,
            "ts": time.time(),
            "wall_sec": round(time.time() - t0, 3),
            "schema": df.schema.json(),
            **self._manifest_stats(data_dir),
            **(extra_meta or {}),
        }
        tmp = os.path.join(p, MARKER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(p, MARKER))  # atomic pointer swap
        return self.read(stage)

    def expire_snapshots(self, stage: str, keep_last: int = 1) -> int:
        """Retention sweep: delete all but the newest keep_last snapshot
        directories (the current snapshot is always kept). Returns the
        number removed."""
        import shutil

        ids = self._snapshot_ids(stage)
        keep = set(ids[-max(keep_last, 1):])
        cur = self._pointer(stage)
        if cur is not None:
            keep.add(cur["snapshot"])
        gone = [i for i in ids if i not in keep]
        for i in gone:
            shutil.rmtree(os.path.join(self.path(stage), f"snap-{i}"))
        return len(gone)

    def run_stage(
        self, stage: str, compute, partition_by: list[str] | None = None
    ) -> DataFrame:
        """compute: () -> DataFrame; skipped entirely when already
        committed (resume path)."""
        if self.is_done(stage):
            return self.read(stage)
        return self.commit(stage, compute(), partition_by)
