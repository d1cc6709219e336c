"""Link stage (U3 + J1 + K3 + U4): blocking-based entity linking —
MinHash/LSH candidate generation + pairwise link scoring (SURVEY.md
§2.3 J1, §2.10 U3/U4, §2.11 K3).

THE scale decision: linking runs over *distinct norms* (the surface-form
vocabulary), not over mentions.  10^12 turns produce ~10^13 mentions but
a vocabulary that is orders of magnitude smaller; identical norms are
trivially the same entity, so deduping first removes both the quadratic
identical-norm blowup inside LSH bands and most of the shuffle volume.
Mentions rejoin their norm's component afterwards (a vocabulary-sized
broadcast-friendly join).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules
from ..functions import hashing
from ..functions import probe as probe_mod
from . import cc as cc_mod


@pandas_udf(T.ArrayType(T.StringType()))
def band_keys_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """U3: norm -> LSH band keys (MinHash over char-3-gram shingles,
    banded).  Vectorized: one flattened hash matrix + minimum.reduceat
    per Arrow batch (functions.hashing.minhash_signatures_batch)."""
    for norms in batches:
        token_sets = [rules.char_ngrams(n or "") for n in norms]
        sigs = hashing.minhash_signatures_batch(token_sets)
        yield pd.Series([hashing.band_keys(sig) for sig in sigs])


@pandas_udf(T.DoubleType())
def pair_score_udf(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """U4: exact char-3-gram jaccard between two norms (shared rule —
    identical to the oracle's scoring)."""
    for a, b in it:
        yield pd.Series(
            [rules.pair_score(x or "", y or "") for x, y in zip(a, b)],
            dtype="float64",
        )


def lsh_bands(mentions: DataFrame) -> DataFrame:
    """(norm, band_key, band_size) over *distinct* norms.  Callers that
    need both candidate pairs and the drop audit should persist this and
    pass it to both — one UDF pass instead of two."""
    norms = mentions.select("norm").distinct()
    bands = norms.select(
        "norm", F.explode(band_keys_udf(F.col("norm"))).alias("band_key")
    )
    w = Window.partitionBy("band_key")
    return bands.withColumn("band_size", F.count("*").over(w))


def candidate_pairs_from_bands(
    bands: DataFrame,
    band_cap: int = hashing.BAND_CAP,
    threshold: float = rules.LINK_THRESHOLD,
) -> DataFrame:
    """lsh_bands output -> scored candidate (a_norm, b_norm, score) pairs.

    Plan shape: band-size cap filter -> self equi-join on band_key with
    a<b -> dropDuplicates(pair) -> exact-score UDF -> threshold filter.
    AQE splits any residual hot band at runtime (K2); bands over
    ``band_cap`` are dropped entirely and surfaced via
    :func:`dropped_from_bands`
    (K3 — logged, never silent).
    """
    capped = bands.filter(F.col("band_size") <= band_cap)
    a = capped.select(F.col("norm").alias("a_norm"), "band_key")
    b = capped.select(F.col("norm").alias("b_norm"), "band_key")
    pairs = (
        a.join(b, "band_key")
        .filter(F.col("a_norm") < F.col("b_norm"))
        .select("a_norm", "b_norm")
        .dropDuplicates(["a_norm", "b_norm"])
    )
    scored = pairs.withColumn(
        "score", pair_score_udf(F.col("a_norm"), F.col("b_norm"))
    )
    return scored.filter(F.col("score") >= threshold)


def dropped_from_bands(bands: DataFrame,
                       band_cap: int = hashing.BAND_CAP) -> DataFrame:
    """K3 audit: band keys whose size exceeded the cap (lineage/metrics)."""
    return (
        bands.select("band_key", "band_size")
        .dropDuplicates(["band_key"])
        .filter(F.col("band_size") > band_cap)
    )


def driver_link_components(
    norm_ids,
    band_cap: int = hashing.BAND_CAP,
    threshold: float = rules.LINK_THRESHOLD,
):
    """Driver-side short-circuit of the full linking stage for
    vocabulary-sized norm sets: ``(norm, xxhash64-id)`` pairs ->
    (``[(norm, entity_id)]``, ``n_dropped_bands``).

    Bit-identical to the distributed ``lsh_bands ->
    candidate_pairs_from_bands -> connected_components`` path: the same
    shared ``hashing``/``rules`` functions produce signatures, band
    keys, the K3 over-cap drop, exact pair scores, and min-id component
    labels — only the execution venue changes.  The mention vocabulary
    is bounded (names, orgs, places), so even 100-TB corpora yield norm
    sets that fit on the driver; the distributed path remains for
    corpora where they don't (plans.pipeline picks by measured count).
    """
    from collections import defaultdict

    items = sorted(norm_ids)  # deterministic order
    norms = [n for n, _ in items]
    sigs = hashing.minhash_signatures_batch(
        [rules.char_ngrams(n or "") for n in norms]
    )
    buckets: dict = defaultdict(list)
    for n, sig in zip(norms, sigs):
        for bk in hashing.band_keys(sig):
            buckets[bk].append(n)

    dropped = sum(1 for members in buckets.values() if len(members) > band_cap)
    pairs = set()
    for members in buckets.values():
        if len(members) > band_cap:
            continue  # K3: same drop rule as the distributed path
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if a > b:
                    a, b = b, a
                pairs.add((a, b))

    id_of = dict(items)
    linked = (
        (id_of[a], id_of[b])
        for a, b in sorted(pairs) if rules.pair_score(a, b) >= threshold
    )
    return _min_id_components(items, linked), dropped


def spark_link_components(
    spark,
    norm_ids,
    band_cap: int = hashing.BAND_CAP,
    threshold: float = rules.LINK_THRESHOLD,
):
    """Distributed-LSH venue with the contract of
    :func:`driver_link_components`: ``(norm, xxhash64-id)`` pairs the
    driver holds -> (``[(norm, entity_id)]``, ``n_dropped_bands``), or
    None when more than ``cc.DRIVER_CC_MAX_EDGES`` pairs link — the
    bound :func:`cc.connected_components_auto` puts on a driver
    union-find; the caller then stays on the distributed CC path.

    For vocabularies too large to band and score serially: a
    driver-made norm frame goes through :func:`lsh_bands` ->
    :func:`candidate_pairs_from_bands` as Spark jobs, only the linked
    pairs come back (as int64 id pairs, over Arrow), and
    :func:`cc.min_labels` labels them on the driver — the same min-id
    components, with no CC rounds and no component join.
    """
    items = sorted(norm_ids)
    frame = spark.createDataFrame(
        pd.DataFrame({"norm": pd.Series([n for n, _ in items], dtype=object)}),
        "norm string",
    )
    bands = lsh_bands(frame).persist()
    try:
        linked = probe_mod.driver_probe(
            candidate_pairs_from_bands(bands, band_cap, threshold).select(
                F.xxhash64("a_norm").alias("a"), F.xxhash64("b_norm").alias("b")
            ),
            cc_mod.DRIVER_CC_MAX_EDGES, as_pandas=True,
        )
        if linked is None:
            return None
        dropped = dropped_from_bands(bands, band_cap).count()
    finally:
        bands.unpersist()
    return _min_id_components(
        items, zip(linked["a"].tolist(), linked["b"].tolist())
    ), dropped


def _min_id_components(items, linked):
    """Sorted ``(norm, id)`` items and linked ``(id, id)`` pairs ->
    ``[(norm, entity_id)]``: each norm labelled with the minimum id of its
    component (:func:`cc.min_labels`), singletons with their own id."""
    labels = cc_mod.min_labels(linked)
    return [(n, labels.get(i, i)) for n, i in items]
