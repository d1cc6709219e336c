"""Document deduplication operators for large-scale training-data
pipelines: SimHash near-dup and exact substring dedup — DataFrame-first,
reusing the engine's hashing and connected-components machinery.

SimHash scale shape:
    signature UDF (Arrow batch) → block-key explode → bucket self-join
    (equi join, AQE-skew-handled) → exact verify → CC → min-id survivor.
The self-join is always *within buckets*, never all-pairs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import hashing
from . import cc as cc_mod


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------
@pandas_udf(T.LongType())
def _simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # vectorized batch path (flattened bit matrix + add.reduceat),
    # bit-identical to the scalar hashing.simhash spec (property-tested)
    for texts in batches:
        yield pd.Series(
            hashing.simhash_batch([(t or "").split() for t in texts]),
            dtype="int64",
        )


def simhash_groups(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — near-dups land on close hamming distance; the
    Manku t-of-b block scheme (hashing.simhash_block_plan) finds all
    pairs within hamming<=k guaranteed (pigeonhole over whole blocks)."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        _simhash_udf(F.col(text_col)).alias("simhash"),
    )


def simhash_block_keys_col(simhash_col, max_hamming: int = 3):
    """array<long> of composite Manku block keys for a signed-int64
    simhash column — the exact JVM mirror of
    ``hashing.simhash_block_keys`` (property-tested equal): for each of
    the C(b, m) block combinations ci, key = ci*2^48 + sum of the
    combo's block values in non-overlapping 16-bit lanes.  Pure
    shiftrightunsigned/bitwiseAND/arithmetic — whole-stage codegen,
    no Python."""
    widths, offsets, combos = hashing.simhash_block_plan(max_hamming)
    c = simhash_col if not isinstance(simhash_col, str) else F.col(simhash_col)

    def blk(bi):
        return F.shiftrightunsigned(c, offsets[bi]).bitwiseAND(
            F.lit((1 << widths[bi]) - 1)
        )

    keys = []
    for ci, combo in enumerate(combos):
        expr = F.lit(ci << 48).cast("long")
        for lane, bi in enumerate(combo):
            expr = expr + blk(bi) * F.lit(1 << (16 * lane)).cast("long")
        keys.append(expr)
    return F.array(*keys)


def simhash_blocks(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id, simhash, block_key, bs) blocking stream from a
    :func:`simhash_groups` frame, with per-bucket sizes attached.
    Callers that need BOTH the capped candidate join and the K3 drop
    audit should ``persist()`` this frame and pass it to
    :func:`simhash_candidate_pairs_from_blocks` and
    :func:`simhash_dropped_from_blocks` — the same caller-side
    persist-and-share contract as ``link.lsh_bands`` (the convenience
    wrappers below each recompute the stream when called alone)."""
    bx = sh.select(
        "id", "simhash",
        F.explode(
            simhash_block_keys_col(F.col("simhash"), max_hamming)
        ).alias("block_key"),
    )
    w = Window.partitionBy("block_key")
    return bx.withColumn("bs", F.count("*").over(w))


def simhash_candidate_pairs_from_blocks(
    bx: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = hashing.BAND_CAP,
) -> DataFrame:
    """(a_id, b_id) pairs within hamming <= ``max_hamming``, from a
    (possibly shared/persisted) :func:`simhash_blocks` frame.  Buckets
    over ``bucket_cap`` are dropped (K3 — see
    :func:`simhash_dropped_from_blocks` for the audit; a bucket that hot
    means a near-constant 32-bit hash region, which discriminates
    nothing).  Verify is exact: bit_count(a XOR b) on the full hash."""
    bx = bx.filter(F.col("bs") <= bucket_cap).drop("bs")
    a = bx.select(F.col("id").alias("a_id"), F.col("simhash").alias("a_h"),
                  "block_key")
    b = bx.select(F.col("id").alias("b_id"), F.col("simhash").alias("b_h"),
                  "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("ham", F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h"))))
        .filter(F.col("ham") <= max_hamming)
        .select("a_id", "b_id")
    )


def simhash_candidate_pairs_from_hashes(
    sh: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = hashing.BAND_CAP,
) -> DataFrame:
    """Convenience wrapper: blocking stream + capped candidate join in
    one call (blocking stream is computed fresh — share a persisted
    :func:`simhash_blocks` frame when the audit is also needed)."""
    return simhash_candidate_pairs_from_blocks(
        simhash_blocks(sh, max_hamming), max_hamming, bucket_cap
    )


def simhash_dropped_from_blocks(
    bx: DataFrame,
    bucket_cap: int = hashing.BAND_CAP,
) -> DataFrame:
    """K3 audit: (block_key, bs) buckets whose size exceeded the cap —
    the same logged-never-silent drop rule as every sibling blocking
    path (link.dropped_from_bands)."""
    return (
        bx.select("block_key", "bs")
        .dropDuplicates(["block_key"])
        .filter(F.col("bs") > bucket_cap)
    )


def simhash_dropped_buckets(
    sh: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = hashing.BAND_CAP,
) -> DataFrame:
    """Convenience wrapper over :func:`simhash_dropped_from_blocks`
    (recomputes the blocking stream; share a persisted
    :func:`simhash_blocks` frame with the candidate join otherwise)."""
    return simhash_dropped_from_blocks(
        simhash_blocks(sh, max_hamming), bucket_cap
    )


def simhash_dedup_components(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             max_hamming: int = 3,
                             bucket_cap: int = hashing.BAND_CAP) -> DataFrame:
    """(id, component) SimHash near-dup clusters: simhash UDF -> Manku
    t-of-b composite-key blocking (capped + auditable) -> exact hamming
    verify -> min-id connected components.  See
    ``hashing.simhash_block_plan`` for the completeness proof and the
    key-space math that makes this construction (unlike 4x16-bit chunk
    banding) linear at 10^10+ docs."""
    sh = simhash_groups(df, text_col, id_col)
    pairs = simhash_candidate_pairs_from_hashes(sh, max_hamming, bucket_cap)
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    return cc_mod.connected_components_auto(edges, sh.select("id"))


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  bucket_cap: int = hashing.BAND_CAP) -> DataFrame:
    """Near-dup dedup under SimHash hamming distance: keep the min-id
    document of each cluster."""
    comp = simhash_dedup_components(df, text_col, id_col, max_hamming,
                                    bucket_cap)
    survivors = comp.groupBy("component").agg(F.min("id").alias("keep_id"))
    return df.join(
        survivors.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


# ---------------------------------------------------------------------------
# exact substring dedup (cross-document repeated k-token spans)
# ---------------------------------------------------------------------------
# The published sub-document dedup recipe ("Deduplicating Training Data
# Makes Language Models Better", Lee et al. 2021) removes long EXACT
# substrings repeated across documents — whole-doc near-dup (SimHash)
# cannot see these.  The paper builds a corpus suffix array on one
# machine; the Spark-first re-expression replaces it with a distributed
# GROUP-BY over per-window fingerprints:
#
#     window fps (Arrow batch, O(n) per doc)  ->  group by fp, keep fps
#     seen in >=2 distinct docs  ->  rejoin the surviving (id, pos)
#     windows to their texts, rebuild the exact gram JVM-side  ->
#     group by gram (exact string verify: fp collisions die here)
#
# Scale shape: there is NO pairwise self-join anywhere — every stage is
# a linear group-by/semi-join, so (unlike the blocking paths) no K3
# bucket cap is needed for scale: a degenerate-hot fingerprint just
# makes one group big, which AQE's skew handling splits; it can never
# go quadratic.  The candidate shuffle is (id, pos, fp) = 20 B/window;
# gram STRINGS only ship for windows whose fp already matched across
# docs (rare by construction).  An optional ``max_occurrences`` drops
# grams hotter than the bound (boilerplate/stopword spans) — a POLICY
# knob on exact gram counts (so oracles replicate it exactly), not a
# scale requirement.
def _window_fps_udf(k: int):
    @pandas_udf(T.ArrayType(T.LongType()))
    def fps(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series(hashing.token_window_fps_batch(list(texts), k))

    return fps


# hot-fp broadcast budget for the substring-dedup candidate recovery:
# fp-only rows, ~32 B each in a broadcast HashedRelation — 8M fps keeps
# the relation within a ~256 MB per-relation broadcast budget
HOT_FP_BROADCAST_MAX = 8_000_000


def _doc_windows(df: DataFrame, text_col: str, id_col: str, k: int,
                 fp_fn=None) -> DataFrame:
    """(id, pos, fp) — fingerprint of every k-token window (0-based
    token position).  ``fp_fn`` injects the fingerprint column builder
    (tests force a constant fp to prove the exact-gram verify keeps
    colliding-but-distinct windows apart).

    The per-doc fp ARRAY column is checkpointed before the posexplode:
    the caller's gate and recovery subtrees both scan the window
    stream, and without the materialization each would re-run the
    fingerprint UDF over the whole corpus.  ~8 B/window, the most
    compact form the stream has."""
    from pyspark import StorageLevel

    fps = fp_fn if fp_fn is not None else _window_fps_udf(k)
    per_doc = df.select(
        F.col(id_col).cast("long").alias("id"),
        fps(F.col(text_col)).alias("_fps"),
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    return per_doc.select(
        "id", F.posexplode("_fps").alias("pos", "fp")
    )


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _t trimmed text, _toks) with the JVM tokenization that
    mirrors the fingerprint UDF's python ``str.split()`` (whitespace
    runs; ASCII whitespace — the engine-wide tokenizer pairing, same
    as text.word_shingles_col)."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        t.alias("_t"),
        F.split(t, r"\s+").alias("_toks"),
    )


def duplicated_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_occurrences: int | None = None,
    fp_fn=None,
) -> DataFrame:
    """(id, pos, gram) — every k-token window whose EXACT gram (the
    space-joined token k-gram) occurs in at least 2 DISTINCT documents.
    Exactness: the fingerprint stage is candidate pruning only; the
    final group-by is on the gram string itself, so a fingerprint
    collision can never flag a non-duplicated window (tested by
    injecting a constant fp), and identical grams always share an fp,
    so nothing is missed."""
    # Fingerprint-gate shape (round 7, the round-6 verdict's "attack the
    # bytes, not the window").  The fingerprint UDF still runs EXACTLY
    # ONCE: its per-doc fp ARRAYS are checkpointed (~8 B/window, the
    # compact form), and both gate and recovery scan that cache.
    #
    # * GATE: the old plan exchanged the full (fp, id, positions-list)
    #   stream through an ObjectHashAggregate (whose near-distinct keys
    #   overflow the hash fallback into a map-side SORT) and then
    #   count-windowed it (a second full-stream sort post-exchange).
    #   The gate only needs "fp seen >= 2 times": exchange the flat fp
    #   column alone (no id, no positions — a fraction of the bytes),
    #   repartition-then-count (the exchange comes first and the count
    #   runs after it, so no map-side hash map is built over
    #   near-distinct keys), zero sorts
    #   anywhere.  Counting OCCURRENCES instead of distinct docs admits
    #   a same-doc-repeat false candidate, which the exact-gram verify
    #   below re-checks (it recomputes the >= 2-distinct-docs condition
    #   on gram strings), so the final row set is IDENTICAL.
    # * RECOVERY: candidate (id, pos) windows come from a semi-join of
    #   the cached window stream against the hot-fp set — broadcast
    #   when the hot set fits the byte budget (map-side, the window
    #   stream never shuffles), shuffled-hash above it (narrow
    #   (id, pos, fp) rows, still sort-free).
    wins = _doc_windows(df, text_col, id_col, k, fp_fn)
    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    hot = (
        wins.select("fp")
        .repartition(n_shuffle, "fp")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("fp")
    ).localCheckpoint(eager=True)
    if hot.count() <= HOT_FP_BROADCAST_MAX:
        cand = wins.join(F.broadcast(hot), "fp", "left_semi")
    else:
        cand = wins.join(hot.hint("shuffle_hash"), "fp", "left_semi")
    cand = cand.select("id", "pos")
    base = _doc_tokens(df, text_col, id_col).select("id", "_toks")
    with_gram = cand.join(base, "id").select(
        "id", "pos",
        F.array_join(F.slice("_toks", F.col("pos") + 1, k), " ").alias("gram"),
    )
    # exact-string verify, same one-pass trick keyed on the gram itself
    per_gram_doc = with_gram.groupBy("gram", "id").agg(
        F.collect_list("pos").alias("_ps")
    )
    wg = Window.partitionBy("gram")
    keep = per_gram_doc.withColumn("nd", F.count("*").over(wg)).filter(
        F.col("nd") >= 2
    )
    if max_occurrences is not None:
        keep = keep.withColumn(
            "occ", F.sum(F.size("_ps")).over(wg)
        ).filter(F.col("occ") <= max_occurrences)
    return keep.select("id", F.explode("_ps").alias("pos"), "gram")


def duplicated_window_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    fp_fn=None,
) -> DataFrame:
    """Per-document duplicated-span profile:
    (id, n_windows, n_dup_windows, dup_window_ppm) — ppm is integer
    parts-per-million via integer division (``div``), so the column is
    exact in BOTH engines (the corpus_stats lesson: never hash a
    rounded float when an integer micro-unit exists)."""
    base = _doc_tokens(df, text_col, id_col)
    nwin = (
        F.when(F.length("_t") == 0, F.lit(0))
        .otherwise(F.greatest(F.size("_toks") - F.lit(k - 1), F.lit(0)))
        .cast("bigint")
    )
    counts = (
        duplicated_windows(df, text_col, id_col, k, fp_fn=fp_fn)
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("_nd"))
    )
    out = (
        base.select("id", nwin.alias("n_windows"))
        .join(counts, "id", "left")
        .select(
            "id", "n_windows",
            F.coalesce("_nd", F.lit(0)).cast("bigint").alias("n_dup_windows"),
        )
    )
    return out.select(
        "id", "n_windows", "n_dup_windows",
        F.expr(
            "CASE WHEN n_windows > 0 THEN "
            "CAST((1000000 * n_dup_windows) div n_windows AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_window_ppm"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_occurrences: int | None = None,
    fp_fn=None,
) -> DataFrame:
    """Sub-document dedup: (id, clean_text, n_removed_tokens).

    Every token covered by a cross-document duplicated k-gram is
    REMOVED from every document except the gram's keeper (the min doc
    id among its occurrences — the paper's 'keep one occurrence' rule
    made deterministic).  Overlapping duplicated windows merge
    naturally (a token is removed if ANY marked window covers it);
    output text is the surviving tokens joined by single spaces
    (whitespace-normalized — the operator's documented contract, since
    token-level surgery cannot preserve the original run lengths).

    The span-coverage explode is k rows per REMOVED window only; the
    rebuild is a JVM higher-order filter over the token array with the
    removed-index set joined in per doc — no Python after the
    fingerprint UDF."""
    dws = duplicated_windows(df, text_col, id_col, k, max_occurrences, fp_fn)
    # keeper via a plain min window over gram — no groupBy + rejoin, so
    # the duplicated-window stream (and the fp UDF upstream) is
    # evaluated once, not twice
    marks = (
        dws.withColumn(
            "keep_id", F.min("id").over(Window.partitionBy("gram"))
        )
        .filter(F.col("id") != F.col("keep_id"))
        .select("id", "pos")
    )
    cover = marks.select(
        "id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("ti"),
    ).select("id", F.col("ti").cast("int").alias("ti")).distinct()
    rem = cover.groupBy("id").agg(F.collect_set("ti").alias("_rm"))
    base = _doc_tokens(df, text_col, id_col)
    joined = base.join(rem, "id", "left")
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_toks"), lambda t, i: ~F.array_contains(rm, i.cast("int"))
    )
    clean = F.when(F.length("_t") == 0, F.lit("")).otherwise(
        F.array_join(kept, " ")
    )
    return joined.select(
        "id",
        clean.alias("clean_text"),
        F.size(rm).cast("bigint").alias("n_removed_tokens"),
    )
