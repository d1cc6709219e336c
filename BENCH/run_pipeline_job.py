"""spark-submit job script: run the transcript->KG pipeline and print a
RESULT json line.  Master/executors come from spark-submit; the package
ships via --py-files (BASELINE.json north_star launch mode).

    spark-submit --master local-cluster[N,4,3072] \
        --py-files m2n.zip BENCH/run_pipeline_job.py \
        --input <parquet> --out <dir>
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args()

    from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline
    from mongo2neo_spark.session import DEFAULT_CONFS

    builder = SparkSession.builder.appName("m2n-pipeline-job")
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    # --py-files reach the executors' Python path per task, after their
    # worker daemon has started, so the package daemon is not importable
    builder = builder.config("spark.python.daemon.module", "pyspark.daemon")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # scans must be at least as wide as the cluster: the default 128MB
    # maxPartitionBytes packs a ~1GB intermediate table into ~8 splits,
    # capping every downstream map stage at 8-way parallelism no matter
    # how many executors there are (this is what get_spark() does for
    # local sessions; spark-submit jobs must do it from defaultParallelism)
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(2 * spark.sparkContext.defaultParallelism),
    )

    n_turns = spark.read.parquet(args.input).count()
    # warm EVERY core's Python UDF worker (fork + pandas/numpy import is
    # 1-3s each; a single-partition warm-up only spawns one) so the
    # measurement is steady-state at both cluster sizes
    from mongo2neo_spark.operators import extract as _ex

    width = 4 * spark.sparkContext.defaultParallelism
    warm = spark.read.parquet(args.input).limit(4096).repartition(width)
    _ex.mentions(_ex.extract(warm)).count()

    cfg = PipelineConfig(n_buckets=args.buckets, run_id="job")
    t0 = time.monotonic()
    paths = run_pipeline(spark, args.input, args.out, cfg, resume=False)
    wall = time.monotonic() - t0
    n_triples = spark.read.parquet(paths["triples"]).count()
    execs = spark.sparkContext.getConf().get("spark.master", "?")
    print(
        "RESULT "
        + json.dumps(
            {
                "master": execs,
                "wall_sec": round(wall, 2),
                "turns": n_turns,
                "turns_per_sec": round(n_turns / wall, 1),
                "triples": n_triples,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
