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

One kernel links a vocabulary the driver holds, in either venue:
:func:`band_groups` computes MinHash once, packs each band into an int64
key and groups equal keys by sort (SparkER-style blocking with the K3
hot-band drop); :func:`linked_pairs` scores every pair of a kept group
once, in the first band the pair shares (the comparison-propagation
rule), with the exact shared ``rules`` score.  :func:`link_components`
bands and groups on the driver, and scores there up to
:data:`LINK_SPARK_MIN_PAIRS` kept-group pairs, above that in one Spark
job.  Vocabularies above ``pipeline.DRIVER_VOCAB_MAX`` take the all-Spark
chain instead (:func:`lsh_bands` -> :func:`candidate_pairs_from_bands`,
with :func:`dropped_from_bands` as the drop audit).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules
from ..functions import hashing
from ..functions import probe as probe_mod
from . import cc as cc_mod

# band_groups packs a band's two signature rows into one int64 key
assert hashing.LSH_ROWS == 2


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


# Candidate pairs (the kept groups' sum of size * (size - 1) / 2) up to
# which link_components scores on the driver; above it the scoring runs as
# one Spark job.  Scoring time grows with these pairs, not with the norms
# (dropped bands and group shapes set how many pairs a vocabulary holds).
# Measured on `_vocab_pool` vocabularies (4-core host; README "Scale
# design notes" has the table), driver / Spark: at 2.50M pairs
# 0.88-1.00 / 1.11-1.27 s cold (the session's second Python job, as after
# the extraction) and 1.14-1.20 / 0.82-0.89 s warm; at 8.10M pairs
# 2.8-3.1 / 1.7-2.4 s cold.  kg_vocab's 35.7k pairs take 0.05 /
# 0.23-0.31 s warm, and a session's first Python job costs Spark 3.1-4.4 s.
# Whole pipeline runs of kg_vocab's input scaled 20x / 40x (8.1M / 20.1M
# pairs) took 8-20% less wall on Spark than on the driver, and 0.4 / 0.6 GB
# more peak RSS: the Python workers the scoring job starts
LINK_SPARK_MIN_PAIRS = 2_600_000


def link_components(
    spark,
    norm_ids,
    band_cap: int = hashing.BAND_CAP,
    threshold: float = rules.LINK_THRESHOLD,
):
    """The linking stage over a vocabulary the driver holds: ``(norm,
    xxhash64-id)`` pairs -> (``[(norm, entity_id)]``, ``n_dropped_bands``),
    or None when more than ``cc.DRIVER_CC_MAX_EDGES`` pairs link -- the
    bound :func:`cc.connected_components_auto` puts on a driver
    union-find; the caller then stays on the distributed CC path.

    The driver bands and groups the vocabulary once (:func:`band_groups`).
    Up to :data:`LINK_SPARK_MIN_PAIRS` kept-group pairs, and no more
    than ``cc.DRIVER_CC_MAX_EDGES`` (so every pair that links fits the
    union-find), it scores them itself (:func:`linked_pairs`); above
    that, scoring, the part that grows with the pairs, runs on Spark
    (:func:`_spark_linked_pairs`).  With ``spark`` None it always scores
    on the driver.  Either way the linked
    pairs are union-found on the driver (:func:`cc.min_labels`): the same
    signatures, band keys, K3 over-cap drop, exact pair scores and min-id
    component labels as the all-Spark ``lsh_bands ->
    candidate_pairs_from_bands -> connected_components`` chain, from the
    same ``hashing``/``rules`` functions.
    """
    items = sorted(norm_ids)  # deterministic order
    grams = [rules.char_ngrams(n or "") for n, _ in items]
    keys, groups, dropped = band_groups(grams, band_cap)
    sizes = groups[1]
    n_pairs = int((sizes * (sizes - 1) // 2).sum())
    if spark is None or n_pairs <= min(LINK_SPARK_MIN_PAIRS,
                                       cc_mod.DRIVER_CC_MAX_EDGES):
        a, b = linked_pairs(grams, keys, *groups, threshold)
    else:
        linked = _spark_linked_pairs(spark, [n for n, _ in items], keys, groups,
                                     n_pairs, threshold)
        if linked is None:
            return None
        a, b = linked
    ids = np.array([i for _, i in items], dtype=np.int64)
    return _min_id_components(items, zip(ids[a].tolist(), ids[b].tolist())), dropped


def driver_link_components(
    norm_ids,
    band_cap: int = hashing.BAND_CAP,
    threshold: float = rules.LINK_THRESHOLD,
):
    """:func:`link_components` scored on the driver whatever the pair
    count."""
    return link_components(None, norm_ids, band_cap, threshold)


def _spark_linked_pairs(spark, norms, keys, groups, n_pairs, threshold):
    """:func:`linked_pairs` of the kept ``groups`` (``n_pairs`` candidate
    pairs) run as one Spark job: the linked norm-index arrays ``(a, b)``,
    or None when more than ``cc.DRIVER_CC_MAX_EDGES`` pairs link.

    The kept groups go out as the rows of a driver-made frame, one row
    per slice of about equal pair counts (a ``LocalTableScan`` splits its
    rows evenly by count, so one row is one task); the norms and their
    band keys go out in one broadcast.  A ``mapInPandas`` runs
    :func:`linked_pairs` per slice and only the linked norm-index pairs
    come back: one job, no exchange.
    """
    bands, sizes, members = groups
    rows = _pair_slices(bands, sizes, members, spark.sparkContext.defaultParallelism)
    if rows.empty:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    bc = spark.sparkContext.broadcast((norms, keys))

    def score(batches):
        norms, keys = bc.value
        for pdf in batches:
            for band, size, member in zip(pdf["band"], pdf["size"], pdf["member"]):
                grams = {i: rules.char_ngrams(norms[i] or "")
                         for i in np.unique(member).tolist()}
                a, b = linked_pairs(grams, keys, band, size, member, threshold)
                yield pd.DataFrame({"a": a, "b": b})

    scored = spark.createDataFrame(
        rows, "band array<int>, size array<int>, member array<int>"
    ).mapInPandas(score, "a int, b int")
    max_edges = cc_mod.DRIVER_CC_MAX_EDGES
    try:
        # each candidate pair links at most once: when they are few enough,
        # a plain collect holds every linked pair, with no LIMIT (whose
        # single-partition exchange the probe would add)
        if n_pairs <= max_edges:
            linked = scored.toPandas()
        else:
            linked = probe_mod.driver_probe(scored, max_edges, as_pandas=True)
    finally:
        bc.destroy()
    if linked is None:
        return None
    return linked["a"].to_numpy(), linked["b"].to_numpy()


def band_groups(grams, band_cap: int = hashing.BAND_CAP):
    """Char-3-gram sets of ``n`` norms -> (``keys``, ``(bands, sizes,
    members)``, ``n_dropped_bands``).

    ``keys`` is the ``(n, LSH_BANDS)`` int64 band-key matrix: band ``b``'s
    key is ``(sig[2b] << 31) | sig[2b+1]``.  Both signature values are
    below 2^31, so within a band it equals another norm's key exactly
    when :func:`hashing.band_keys`' string keys are equal.  Groups of
    equal (band, key) are found by one sort.  Groups of more than
    ``band_cap`` norms are dropped (K3) and counted; their members' keys
    in that band become ``-(i + 1)``, unique per norm, so no pair shares
    a dropped band.  The kept groups (2 to ``band_cap`` members) come
    back as their bands, their sizes, and their member indices
    (ascending within each group) laid end to end.
    """
    n = len(grams)
    sigs = hashing.minhash_signatures_batch(grams)
    keys = (sigs[:, 0::2] << 31) | sigs[:, 1::2]
    flat = keys.T.ravel()  # position b * n + i holds norm i's band-b key
    band = np.repeat(np.arange(hashing.LSH_BANDS), n)
    order = np.lexsort((flat, band))  # stable: members stay ascending
    new = np.ones(len(order), dtype=bool)
    new[1:] = np.diff(flat[order]) != 0
    new[1:] |= np.diff(band[order]) != 0
    starts = np.flatnonzero(new)
    sizes = np.diff(np.append(starts, len(order)))
    over = sizes > band_cap
    gone = order[np.repeat(over, sizes)]
    flat[gone] = -(gone % n) - 1
    keys = flat.reshape(hashing.LSH_BANDS, n).T
    kept = (sizes >= 2) & ~over
    members = order[np.repeat(kept, sizes)] % n
    groups = (band[order[starts[kept]]], sizes[kept], members)
    return keys, groups, int(over.sum())


def linked_pairs(grams, keys, bands, sizes, members, threshold):
    """Norm-index pairs ``(a, b)``, ``a < b``, that link inside the given
    groups (as :func:`band_groups` returns them): every pair of a group
    whose band is the first band the two norms share — so a pair that
    shares several kept bands is scored once — and whose
    :func:`rules.jaccard` reaches ``threshold``.  ``grams[i]`` is norm
    ``i``'s char-3-gram set, ``keys`` :func:`band_groups`' key matrix.

    Before the exact score, a vectorized bound drops pairs that cannot
    reach ``threshold``: each set bit of ``a``'s gram mask that ``b``'s
    lacks stands for at least one gram of ``a`` not in ``b``, so the
    intersection is at most ``|a|`` minus those bits (and the same for
    ``b``), and jaccard grows with the intersection.  The float bound is
    computed like the score, so rounding keeps it an upper bound: the
    pairs dropped are exactly pairs the score would reject.
    """
    bands, sizes, members = (np.asarray(x, dtype=np.int64) for x in (bands, sizes, members))
    n_grams, bits = _gram_bits(grams, np.unique(members), len(keys))
    starts = np.cumsum(sizes) - sizes
    out_a, out_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for size in np.unique(sizes).tolist():
        sel = sizes == size
        p, q = np.triu_indices(size, 1)
        a = members[(starts[sel][:, None] + p).ravel()]
        b = members[(starts[sel][:, None] + q).ravel()]
        band = np.repeat(bands[sel], len(p))
        keep = np.ones(len(a), dtype=bool)
        for e in range(hashing.LSH_BANDS - 1):
            keep &= (band <= e) | (keys[a, e] != keys[b, e])
        a, b = a[keep], b[keep]
        inter = np.minimum(n_grams[a] - _popcount(bits[a] & ~bits[b]),
                           n_grams[b] - _popcount(bits[b] & ~bits[a]))
        keep = inter / (n_grams[a] + n_grams[b] - inter) >= threshold
        a, b = a[keep], b[keep]
        hit = np.array([rules.jaccard(grams[x], grams[y]) >= threshold
                        for x, y in zip(a.tolist(), b.tolist())], dtype=bool)
        out_a.append(a[hit])
        out_b.append(b[hit])
    return np.concatenate(out_a), np.concatenate(out_b)


_POPCOUNT8 = np.array([bin(v).count("1") for v in range(256)], dtype=np.uint8)


def _popcount(words: np.ndarray) -> np.ndarray:
    """Set bits per row of an ``(m, w)`` uint64 array."""
    return _POPCOUNT8[words.view(np.uint8)].sum(axis=1, dtype=np.int64)


def _gram_bits(grams, idx, n: int):
    """Gram counts and 128-bit gram masks (bit ``hash(g) % 128`` per gram
    ``g``) of the norms ``idx`` of ``n``, as ``(n,)`` int64 and ``(n, 2)``
    uint64 arrays; other rows stay 0.  Any hash keeps
    :func:`linked_pairs`' bound exact: only equal grams must share a
    bit."""
    n_grams = np.zeros(n, dtype=np.int64)
    bits = np.zeros((n, 2), dtype=np.uint64)
    for i in idx.tolist():
        m = 0
        for g in grams[i]:
            m |= 1 << (hash(g) & 127)
        n_grams[i] = len(grams[i])
        bits[i] = (m & 0xFFFFFFFFFFFFFFFF, m >> 64)
    return n_grams, bits


def _pair_slices(bands, sizes, members, n_slices: int) -> pd.DataFrame:
    """The kept groups cut into at most ``n_slices`` runs of about equal
    candidate-pair counts, one row per non-empty run: ``band``, ``size``
    (one entry per group) and ``member`` (the groups' members)."""
    pairs = sizes * (sizes - 1) // 2
    total = int(pairs.sum())
    slice_of = (np.cumsum(pairs) - pairs) * n_slices // max(total, 1)
    ends = np.cumsum(sizes)
    rows = []
    for s in np.unique(slice_of).tolist():
        g = np.flatnonzero(slice_of == s)
        rows.append((bands[g], sizes[g], members[ends[g[0]] - sizes[g[0]]:ends[g[-1]]]))
    return pd.DataFrame(rows, columns=["band", "size", "member"])


def _min_id_components(items, linked):

    """Sorted ``(norm, id)`` items and linked ``(id, id)`` pairs ->
    ``[(norm, entity_id)]``: each norm labelled with the minimum id of its
    component (:func:`cc.min_labels`), singletons with their own id."""
    labels = cc_mod.min_labels(linked)
    return [(n, labels.get(i, i)) for n, i in items]
