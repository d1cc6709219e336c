"""Per-partition lineage + extraction metrics (S3/J5/A5, SURVEY.md §2.1,
§2.3, §2.4) — the resume contract: "checkpoints per-partition lineage and
extraction metrics so any stage resumes idempotently" (BASELINE.json).

Lineage is an append-only table.  A stage partition (a conversation
bucket for extraction; the whole stage for the global linking/CC/
materialize stages) is *done* when a lineage row exists for its
(stage, partition_key); resume anti-joins the work list against the
recorded keys and recomputes only the remainder.

Checksums are order-insensitive content hashes — sum(xxhash64(row)) —
so a resumed run can be diffed against a fresh run bit-for-bit.
At design scale (10^12 turns → ~10^6-10^7 tasks/stage) lineage is
per-partition, never per-row: the lineage table stays tiny relative to
the data (SURVEY.md §6).
"""

from __future__ import annotations

import time
from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import LINEAGE

STAGE_KEY = "__stage__"  # partition_key for single-partition (global) stages


def checksum_expr(cols: Sequence[str]) -> F.Column:
    """Order-insensitive, duplicate-SENSITIVE content checksum aggregate.

    sum of per-row xxhash64 widened to decimal(38,0): commutative (so
    partitioning/order can't change it), and — unlike bit_xor, where a
    row duplicated an even number of times cancels out — every extra
    copy of a row shifts the value.  decimal(38) headroom means no ANSI
    overflow until ~10^19 rows.
    """
    return F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)"))


def lineage_path(out_dir: str) -> str:
    return f"{out_dir}/lineage"


def read_lineage(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    """The lineage table, or None when no run has recorded any yet.  Only
    a missing path means "no lineage": any other failure (an unreadable
    or corrupt table) is raised, never taken for an empty history."""
    path = lineage_path(out_dir)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(LINEAGE).parquet(path)


def completed_keys(spark: SparkSession, out_dir: str, stage: str) -> List[str]:
    """Partition keys already recorded for a stage (across all runs —
    idempotent re-runs skip work done by any previous run)."""
    lin = read_lineage(spark, out_dir)
    if lin is None:
        return []
    rows = (
        lin.filter(F.col("stage") == stage)
        .select("partition_key")
        .distinct()
        .collect()
    )
    return [r.partition_key for r in rows]


# the LINEAGE fields a record call supplies (ts is stamped by Spark)
_RECORD_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in LINEAGE.fields if f.name != "ts"]
)


def record(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    entries: Sequence[tuple],
    run_id: str,
) -> None:
    """entries: (partition_key, input_rows, output_rows, checksum, wall_ms).
    A ``None`` checksum (the observed sum over zero rows) is written as
    "0"."""
    if not entries:
        return
    # a pandas frame with a declared schema becomes an Arrow
    # LocalTableScan: no Python worker and no pickled-row RDD to ship
    rows = pd.DataFrame(
        [
            (stage, str(k), int(i), int(o), "0" if c is None else str(c),
             int(w), run_id)
            for (k, i, o, c, w) in entries
        ],
        columns=_RECORD_SCHEMA.fieldNames(),
    )
    df = spark.createDataFrame(rows, _RECORD_SCHEMA).withColumn(
        "ts", F.current_timestamp()
    )
    df.write.mode("append").parquet(lineage_path(out_dir))


def observe_bucket_metrics(df: DataFrame, buckets: Sequence[int],
                           cols: Sequence[str], bucket_col: str = "bucket"):
    """Attach per-bucket (count, checksum) metrics to ``df`` via
    ``observe()`` — collected as a side effect of the NEXT action (the
    stage's own write), so lineage costs zero extra scans.

    Returns (Observation, observed_df); after the action,
    ``obs.get[f"n_{b}"]`` / ``obs.get[f"c_{b}"]`` hold bucket ``b``'s
    row count and checksum.
    """
    from pyspark.sql import Observation

    # hash each row ONCE into a hidden column — referencing the xxhash64
    # expression inside every per-bucket conditional aggregate would
    # recompute it |buckets| times per row (no CSE across agg buffers)
    hcol = "_lineage_h"
    df = df.withColumn(
        hcol, F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    )
    b_col = F.col(bucket_col)
    aggs = []
    for b in buckets:
        aggs.append(F.count(F.when(b_col == b, 1)).alias(f"n_{b}"))
        aggs.append(F.sum(F.when(b_col == b, F.col(hcol))).alias(f"c_{b}"))
    obs = Observation(f"lineage_{buckets[0]}_{buckets[-1]}")
    return obs, df.observe(obs, *aggs).drop(hcol)


def observe_table_metrics(df: DataFrame):
    """Whole-table (count, checksum) metrics via ``observe()``; returns
    (Observation, observed_df) — read ``obs.get["n"]`` / ``obs.get["c"]``
    after the next action on ``df``."""
    from pyspark.sql import Observation

    obs = Observation("lineage_table")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        checksum_expr(df.columns).alias("c"),
    )
    return obs, out


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
