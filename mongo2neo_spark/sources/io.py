"""Table IO abstraction (SURVEY.md §2.1 S1/S2, §7 M1).

The contract names Iceberg as the table format; this sandbox has no
Iceberg runtime jar, so the format is abstracted behind this module:
``format="iceberg"`` uses Spark's catalog ``writeTo``/``table`` API,
``format="parquet"`` (default here) uses path-based parquet with dynamic
partition overwrite — the same idempotent per-partition replace
semantics Iceberg's ``overwritePartitions`` gives (the Spark analogue
of the reference's Cypher ``MERGE`` upsert).

Stage code never mentions a format — it calls ``read_transcripts``/
``write_table`` only.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

TABLE_FORMAT = os.environ.get("M2N_TABLE_FORMAT", "parquet")


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """S1: the contract transcript table.

    ``source`` is a path (parquet) or a catalog table name (iceberg).
    """
    if TABLE_FORMAT == "iceberg" and not _is_path(source):
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def write_table(
    df: DataFrame,
    target: str,
    partition_by: Optional[Sequence[str]] = None,
    options: Optional[dict] = None,
) -> None:
    """S2: idempotent table write.

    With ``partition_by``, dynamic partition overwrite replaces exactly
    the partitions present in ``df`` — re-running a completed stage is a
    no-op change-wise (resume contract).

    ``options`` passes writer options through (e.g. a small
    ``parquet.block.size`` for INTERMEDIATE tables: parquet scans split
    at row-group granularity, so a stage output written as a few large
    row groups caps every downstream scan's parallelism at the file
    count no matter what minPartitionNum asks for).
    """
    if TABLE_FORMAT == "iceberg" and not _is_path(target):
        writer = df.writeTo(target)
        if options:
            for k, v in options.items():
                writer = writer.option(k, str(v))
        writer.overwritePartitions()
        return
    w = df.write.mode("overwrite")
    if options:
        for k, v in options.items():
            w = w.option(k, str(v))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


# row-group size for intermediate (re-scanned) tables: small enough that
# downstream scans can split a file into many tasks, large enough that
# column-chunk encoding stays efficient
INTERMEDIATE_ROW_GROUP_BYTES = 16 * 1024 * 1024


def _is_path(s: str) -> bool:
    return "/" in s or s.startswith(".")
