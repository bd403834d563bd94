"""SparkSession factory with scale-appropriate defaults.

Configs chosen for a multi-executor cluster (AQE, skew-join handling,
Arrow-batched UDF exchange); tested on local[N]. UTC session timezone so
epoch math matches external oracles (DuckDB) exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "robokop-build-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (env) or local[*].
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # shuffle/spill dirs: prefer RAM-backed tmpfs in this sandbox (the VM's
    # virtio disk throttles in multi-minute waves and fsync latency leaks
    # into every shuffle); a real cluster points this at local NVMe
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime re-plan, partition coalescing, skew-join splitting of
        # a hub entity's alias-join partition (SURVEY.md §4 custom piece #1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's 64MB advisory target collapses this sandbox's ~100s-of-MB
        # exchanges to a handful of reducers, capping post-shuffle
        # parallelism below the core count; a smaller local target keeps
        # every core engaged (cluster deployments should raise it back)
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"),
        )
        # local corpora arrive as a handful of files; smaller split targets
        # keep scans wide (cluster deployments with many files can raise it).
        # Round 8: 16m -> 4m — the driver ships each table as ONE file
        # (lineitem at SF=1 is 131 MB -> 9 tasks at 16m on a 32-core host;
        # 4m fills every core). Guide §6's large-split advice targets
        # many-file cluster scans, which the env override restores.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # zstd parquet output (guide §6/§9): stage commits write markedly
        # fewer bytes than snappy at similar speed — on this sandbox's
        # wave-prone disk, commit wall tracks bytes written
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Arrow for pandas UDF exchange and toPandas/createDataFrame.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep broadcast threshold generous: our dimension tables (lexicon,
        # normalization map, predicate map) are deliberately broadcast-sized.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic file listing / stable outputs.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Delay scheduling is tuned for congested-network clusters; on
        # loopback multi-executor runs (local-cluster) and modern fast
        # cluster networks the up-to-3s-per-locality-level wait starves
        # short AQE query stages: measured flat (non-scaling) walls on the
        # many-small-job stages (doc_entities/triples_base/metrics) going
        # 1->4 executors while the long map stage scaled 3.65x. No-op on
        # single-JVM local[N], where every block is already PROCESS_LOCAL.
        .config(
            "spark.locality.wait", os.environ.get("SPARK_GRAFT_LOCALITY_WAIT", "0s")
        )
        # ObjectHashAggregate (collect_set/collect_list) falls back to
        # sort-based aggregation after 128 distinct groups per task by
        # default — measured 4.5× anti-scaling on provenance aggregation.
        # Our group cardinality is edge-bounded (dimension-scale), so a
        # large in-memory map is safe; revisit if group count ever scales
        # with the fact table.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        # local[N] runs executor work inside the driver JVM: size the heap
        # for N concurrent tasks or GC noise dominates benchmarks
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        # Python workers import pyspark from Spark's zip archives, and the
        # worker invalidates import caches at every task: on Python
        # 3.11/3.12 each zip importer then re-reads its archive directory
        # (~26.7k entries, 30-60 ms per task on 4 CPUs; 3.13 made that
        # lazy). This daemon drops the archives when an installed pyspark
        # of the same version is on the path (robokop_build_spark/
        # pyworker.py). The daemon must import this package before any
        # task runs, so only local masters get it: their workers share the
        # driver's filesystem, and the package's parent directory on
        # PYTHONPATH lets them import it from any working directory.
        # Executors elsewhere (local-cluster, a cluster with --py-files)
        # keep Spark's own daemon
        conf.setdefault("spark.python.daemon.module", "robokop_build_spark.pyworker")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, [_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")])
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
