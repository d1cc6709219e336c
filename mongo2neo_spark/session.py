"""SparkSession factory with the contract configuration.

Arrow-vectorized Python, AQE + skew-join handling, dynamic partition
overwrite (idempotent per-partition replace = the Cypher-MERGE
equivalent), and shuffle-partition sizing for local[N] testing that
still reflects multi-executor design (SURVEY.md §2.10/§2.11/§4).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # Arrow batching is contractual: "vectorized pandas/Arrow UDFs
    # (no per-row Python)" — BASELINE.json input_hint.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
    # fork the Python workers from a daemon that has compiled pyspark and
    # the UDF modules loaded, and no archive on its path that the workers
    # do not import from (worker_daemon.py); the module must be importable
    # when the daemon starts
    "spark.python.daemon.module": "mongo2neo_spark.worker_daemon",
    # AQE: runtime shuffle coalescing + skew-join splitting (K2).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # idempotent per-partition overwrite (S2 / MERGE semantics).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # deterministic session timezone for timestamp comparisons.
    "spark.sql.session.timeZone": "UTC",
    # progress bars corrupt harness stdout parsing
    "spark.ui.showConsoleProgress": "false",
    # v2 commit: task-side (parallel) renames instead of a sequential
    # driver-side move loop — the v1 commit is pure non-scaling overhead
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # disk and network bandwidth do NOT scale with executors on shared
    # storage: trade cheap CPU for them with zstd (default level) on every
    # byte Spark moves or keeps.  The IO codec covers every shuffle
    # exchange (the dedup key aggregate, the duplicated-row dedup, the
    # extraction rebalance, mention_stats, the edge window) and its
    # spills, the broadcast norm->entity map and the persisted blocks
    # (DISK_ONLY caches, with rdd.compress); checkpoint.compress adds the
    # all-Spark CC's per-round checkpoints, otherwise written raw.
    # Against lz4 it took a fresh run's shuffle writes at seed 1 from 0.98
    # to 0.43 MB (kg_agent) and from 0.52 to 0.30 MB (kg_vocab); README
    # "Scale design notes" has the bytes per exchange
    "spark.io.compression.codec": "zstd",
    "spark.checkpoint.compress": "true",
    "spark.rdd.compress": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # ObjectHashAggregate (collect_set/collect_list) falls back to
    # sort-based aggregation after 128 in-memory keys — sized for
    # huge-object aggs, pathological for bounded small-set aggs such as
    # materialize.edges' provenance collect_list (at most max_provenance
    # turn ids per edge): event-log-measured 4.9 GB of sort-spill on a
    # 1M-group build.  64k keys of bounded small sets is a few tens of
    # MB per task.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
    # connected components checkpoints every round into the reliable
    # checkpoint dir below; delete each round's files once its RDD is
    # garbage-collected instead of leaving them on disk for good
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def _core_count(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner != "*":
            try:
                return int(inner)
            except ValueError:
                pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "mongo2neo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    # local mode runs driver+executors in ONE JVM: the 1g default heap
    # causes GCLocker thrash with 32 task threads.  Size like a real
    # executor (these only apply at JVM launch; no-ops on getOrCreate
    # reuse).
    confs.setdefault("spark.driver.memory", os.environ.get("M2N_DRIVER_MEM", "24g"))
    confs.setdefault("spark.driver.maxResultSize", "4g")
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        # >= 4x cores so AQE has room to coalesce (SURVEY.md §4)
        confs.setdefault("spark.sql.shuffle.partitions", "128")
    # file scans: 128MB maxPartitionBytes is right at warehouse scale, but
    # it packs a small (sandbox-scale) table into 1-4 scan tasks and
    # serializes every map stage downstream of a read.  minPartitionNum
    # keeps scans at least as wide as the machine without changing
    # large-table behavior.
    n_cores = _core_count(master)
    confs.setdefault("spark.sql.files.minPartitionNum", str(2 * n_cores))
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # reliable checkpoint dir for iterative CC lineage truncation (S4):
    # one per session, removed when the process exits (Spark makes a
    # subdirectory per SparkContext in it and never deletes that)
    if spark.sparkContext.getCheckpointDir() is None:
        checkpoints = tempfile.mkdtemp(prefix="m2n_checkpoints-")
        atexit.register(shutil.rmtree, checkpoints, True)
        spark.sparkContext.setCheckpointDir(checkpoints)
    return spark
