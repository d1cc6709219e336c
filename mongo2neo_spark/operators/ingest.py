"""Ingest stage: P1 prune/cast, P2 validity filter, P3 deterministic
turn dedup (SURVEY.md §2.2/§2.5).

Scale notes: the filters sit *before* any UDF so Catalyst pushes them
into the parquet/Iceberg scan.  Dedup is a hash AGGREGATE on the
fine-grained (conv_id, turn_idx) key — min(struct(...)) — not a
row_number window: the aggregate gets map-side partial combine (dup
payload shrinks before the shuffle), needs NO sort, and a hot
conversation does not create a hot partition because the key includes
turn_idx.  min over a struct is field-wise ascending-nulls-first —
bit-identical to the oracle's survivor order (verified by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def clean(df: DataFrame) -> DataFrame:
    """P1 prune/cast + P2 validity filter (no dedup).

    Kept separate from :func:`dedup`, which :func:`dedup_adaptive` runs
    on the duplicated rows only.
    """
    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.col("text").cast("string").alias("text"),
        F.col("tool").cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    ).filter(
        F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    )


def dedup(df: DataFrame) -> DataFrame:
    """P3: exactly one row per (conv_id, turn_idx).

    The survivor is the minimum row under (role, text, tool, ts)
    ascending-nulls-first — a *total* deterministic order, mirrored
    bit-for-bit by the oracle (mongo2neo_spark.oracle.dedup_turns), so
    per-turn text equality vs the reference holds under any input
    permutation or duplication.  If ``df`` is already hash-partitioned
    by (conv_id, turn_idx) (or any superset-compatible key), Catalyst
    plans this with NO additional exchange.
    """
    return (
        df.groupBy("conv_id", "turn_idx")
        .agg(F.min(F.struct("role", "text", "tool", "ts")).alias("_m"))
        .select(
            "conv_id", "turn_idx", "_m.role", "_m.text", "_m.tool", "_m.ts"
        )
    )


def dedup_adaptive(df: DataFrame) -> DataFrame:
    """P3 dedup that only shuffles rows that are ACTUALLY duplicated.

    The full-row shuffle in :func:`dedup` exists purely to co-locate
    duplicate (conv_id, turn_idx) keys — but at production scale
    duplicates are the exception (a replayed partition, a retried
    writer), so shuffling 100 TB of text to dedup a few thousand rows is
    the wrong default.  Shape:

        dup_keys = narrow (column-pruned) aggregate -> keys with count>1
        unique   = df ANTI-join dup_keys   (AQE broadcasts tiny dup_keys
                                            -> the text stream never
                                            shuffles)
        dupes    = df SEMI-join dup_keys  |> dedup()  (full shuffle of
                                            just the duplicated rows)
        result   = unique UNION dupes

    No duplicates at all -> zero full-row exchanges.  Pathological
    duplication degrades gracefully: AQE falls back from broadcast to a
    shuffled join and the cost approaches plain :func:`dedup`.
    Survivor semantics are identical (same total order, same oracle).
    """
    keys = ["conv_id", "turn_idx"]
    dup_keys = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select(*keys)
    )
    unique = df.join(dup_keys, keys, "left_anti")
    dupes = dedup(df.join(dup_keys, keys, "left_semi"))
    return unique.unionByName(dupes)
