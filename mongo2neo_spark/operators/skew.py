"""K1: deterministic conversation buckets (contractual — BASELINE.json
north_star; SURVEY.md §2.11).

The extraction stage's lineage/resume partition key is a stable hash
bucket of conv_id: the same input always lands in the same bucket, which
is what makes per-bucket lineage checksums stable across runs.  Hot
conversations do not pin a task: dedup groups on the fine-grained
(conv_id, turn_idx) key, and the bucketed write is an AQE rebalance
that splits a hot bucket across write tasks (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def bucket_of(conv_id_col, n_buckets: int):
    """Stable conversation bucket — the extraction stage's lineage
    partition key (resume granularity, plans/lineage.py)."""
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")
