"""Deterministic sampling operators for training-data assembly.

A 100-TB curation run ends with two decisions the engine must make
reproducibly and cluster-size-independently:

- *mixture weighting*: keep each domain (language, source, ...) at a
  target rate so the trained mixture matches a recipe;
- *global shuffle*: emit the surviving documents in a deterministic
  pseudo-random order so training sees a well-mixed stream.

Both are driven by the same primitive: a uniform hash of the document id
derived from ``md5(seed ":" id)``.  md5 (not ``rand()``) because the
decision must be a pure function of (id, seed) — identical across
retries, resumes, and cluster sizes, and exactly reproducible by any
other system (md5 is in every SQL engine).  The hash is
JVM-side (``F.md5`` + ``F.conv``), whole-stage-codegen'd, zero Python.

At scale: ``mixture_sample`` is a pure narrow filter (predicate on a
hash of the row itself — no shuffle, pushes below everything except the
scan).  ``deterministic_shuffle`` is a range-partitioned global sort on
the hash key — the one shuffle it needs is the point of the operator,
and Spark's sort handles it with sampled range boundaries, so no single
partition sees more than its share.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 15 hex digits = 60 bits: fits a signed 64-bit int exactly, and md5's
# leading digits are uniform.  RESOLUTION buckets the hash into millionths.
_HEX_DIGITS = 15
RESOLUTION = 1_000_000


def sample_hash(id_col, seed: int = 42) -> Column:
    """Uniform value in [0, RESOLUTION) as a pure function of (id, seed)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string")))
    return (
        F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("bigint")
        % RESOLUTION
    )


def mixture_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    domain_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with probability ``rates[domain]`` (deterministic in
    (id, seed)).  Rates are quantized to millionths; rows whose domain is
    not in ``rates`` use ``default_rate``."""
    rate = F.lit(int(round(default_rate * RESOLUTION)))
    for dom, r in sorted(rates.items()):
        rate = F.when(
            F.col(domain_col) == dom, F.lit(int(round(r * RESOLUTION)))
        ).otherwise(rate)
    return df.where(sample_hash(id_col, seed) < rate)


def quota_sample(
    df: DataFrame,
    quotas: Mapping[str, int],
    domain_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
    default_quota: int = 0,
) -> DataFrame:
    """Keep EXACTLY ``quotas[domain]`` rows per domain (fewer if the
    domain is smaller) — the exact-count complement to the rate-based
    :func:`mixture_sample`.  Selection is the first-k by the md5 hash
    order, so it is deterministic, seed-controlled, and independent of
    partitioning; the (id) tie-break after the digest makes the cut
    total.

    Scale shape: one hash-partitioned window per domain.  A domain is a
    language/source — low cardinality but potentially huge rows-per-key,
    so the window sort is the cost.  Spark's rank-limit pushdown
    (WindowGroupLimit, Partial mode) only fires on a LITERAL rank bound
    — the per-domain CASE quota alone defeats it and the hot domain's
    full row set would sort in one task (found by the round-4 Zipf
    straggler test).  Hence the extra ``_qrank <= max(quotas)`` literal
    conjunct: the optimizer pushes that bound map-side, so at most
    max(quotas) rows per upstream partition ever reach the hot domain's
    final sort; the CASE filter then applies the exact per-domain cut.
    Verified structurally by
    tests/test_sampling.py::test_quota_sample_zipf_straggler_is_rank_limited."""
    from pyspark.sql import Window

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string")))
    quota = F.lit(int(default_quota))
    max_quota = max([int(default_quota), *(int(k) for k in quotas.values())])
    for dom, k in sorted(quotas.items()):
        quota = F.when(F.col(domain_col) == dom, F.lit(int(k))).otherwise(quota)
    w = Window.partitionBy(domain_col).orderBy(key, c)
    return (
        df.withColumn("_qrank", F.row_number().over(w))
        .where(F.col("_qrank") <= F.lit(max_quota))
        .where(F.col("_qrank") <= quota)
        .drop("_qrank")
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """Global pseudo-random but fully deterministic ordering: sort by
    ``md5(seed ":" id)``.  Returns the frame ordered by (shuffle_key, id)
    with the key attached — the id tie-break makes the order total even
    in the astronomically-unlikely digest-collision case."""
    c = F.col(id_col) if isinstance(id_col, str) else F.col(id_col)
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string")))
    return df.withColumn("shuffle_key", key).orderBy("shuffle_key", id_col)
