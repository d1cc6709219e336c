"""Per-partition lineage + extraction metrics (S3/J5/A5, SURVEY.md §2.1,
§2.3, §2.4) — the resume contract: "checkpoints per-partition lineage and
extraction metrics so any stage resumes idempotently" (BASELINE.json).

Lineage is a directory of records.  Each stage commit is one JSON-lines
file, one line per partition, written by the driver through Hadoop's
FileSystem API (so any ``out_dir`` scheme works) under a ``_``-prefixed
temp name and then renamed: readers skip ``_``/``.`` names, so a crash
between the write and the rename leaves nothing a reader takes for a
record.  Recording and reading lineage start no Spark job.

A stage partition (a conversation bucket for extraction; the whole stage
for the global linking/CC/materialize stages) is *done* when a record
exists for its (stage, partition_key); resume subtracts the recorded keys
from the work list and recomputes only the remainder.

Checksums are order-insensitive content hashes — sum(xxhash64(row)) —
so a resumed run can be diffed against a fresh run bit-for-bit.
At design scale (10^12 turns → ~10^6-10^7 tasks/stage) lineage is
per-partition, never per-row: the records stay tiny relative to the data
(SURVEY.md §6).
"""

from __future__ import annotations

import json
import time
import uuid
from datetime import datetime, timezone
from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE

STAGE_KEY = "__stage__"  # partition_key for single-partition (global) stages
_FIELDS = LINEAGE.fieldNames()


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


def _lineage_dir(spark: SparkSession, out_dir: str):
    """(Hadoop FileSystem, Path) of ``out_dir``'s lineage directory."""
    path = spark._jvm.org.apache.hadoop.fs.Path(lineage_path(out_dir))
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _read_file(fs, status) -> bytes:
    if status.isDirectory():
        raise ValueError("a directory")
    stream = fs.open(status.getPath())
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _parse(data: bytes) -> List[dict]:
    lines = data.decode("utf-8").splitlines()
    if not lines:
        raise ValueError("no records")
    records = [json.loads(line) for line in lines]
    for r in records:
        if not isinstance(r, dict) or set(r) != set(_FIELDS):
            raise ValueError(f"{r!r} does not hold the fields {_FIELDS}")
    return records


def read_records(spark: SparkSession, out_dir: str) -> Optional[List[dict]]:
    """Every lineage record (a dict of the ``LINEAGE`` fields, ``ts`` an
    ISO-8601 string) in commit order, or None when no run has recorded
    any yet.  Only a missing directory means "no lineage": a file that is
    not a record — a damaged one, or a parquet part file of the lineage
    table older versions wrote — raises, never taken for an empty
    history that would redo (or skip) work."""
    fs, path = _lineage_dir(spark, out_dir)
    if not fs.exists(path):
        return None
    records = []
    # names start with the commit's zero-padded epoch nanoseconds
    for status in sorted(fs.listStatus(path), key=lambda s: s.getPath().getName()):
        f = status.getPath()
        if f.getName().startswith(("_", ".")):
            continue
        try:
            records.extend(_parse(_read_file(fs, status)))
        except ValueError as e:  # UnicodeDecodeError and JSONDecodeError too
            raise ValueError(
                f"lineage file {f} is not a lineage record ({e}); lineage "
                f"from an older version or a damaged record cannot be "
                f"resumed from: rerun with --no-resume (resume=False), "
                f"which starts a new lineage") from e
    return records


def read_lineage(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    """The lineage records as a ``LINEAGE`` frame (a driver-built local
    table), or None when no run has recorded any yet; errors as in
    :func:`read_records`."""
    records = read_records(spark, out_dir)
    if records is None:
        return None
    pdf = pd.DataFrame(records, columns=_FIELDS)
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    return spark.createDataFrame(pdf, LINEAGE)


def completed_keys(spark: SparkSession, out_dir: str, stage: str) -> List[str]:
    """Partition keys already recorded for a stage (across all runs —
    idempotent re-runs skip work done by any previous run)."""
    records = read_records(spark, out_dir) or []
    return list(dict.fromkeys(
        r["partition_key"] for r in records if r["stage"] == stage))


def record(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    entries: Sequence[tuple],
    run_id: str,
) -> None:
    """entries: (partition_key, input_rows, output_rows, checksum, wall_ms).
    A ``None`` checksum (the observed sum over zero rows) is written as
    "0".  One file per call, stamped with the driver's UTC time."""
    if not entries:
        return
    ts = datetime.now(timezone.utc).isoformat()
    body = "".join(
        json.dumps(dict(zip(_FIELDS, (
            stage, str(k), int(i), int(o), "0" if c is None else str(c),
            int(w), run_id, ts)))) + "\n"
        for (k, i, o, c, w) in entries
    )
    fs, path = _lineage_dir(spark, out_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"{time.time_ns():020d}-{stage}-{uuid.uuid4().hex[:8]}.jsonl"
    tmp, final = Path(path, f"_{name}"), Path(path, name)
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(body.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename lineage record {tmp} to {final}")


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
