"""Full-text retrieval scoring over the curated corpus: BM25 top-k.

The shape a 100 TB corpus needs: the corpus is NEVER shuffled.  Per-doc
term frequencies for the (small, literal) query term set are computed
map-side with array higher-order functions over the tokenized text; the
collection statistics (N, total length, per-term document frequencies)
reduce to ONE row via a partial-aggregated global agg, which is then
broadcast back (a 1-row cross join Catalyst plans as
BroadcastNestedLoopJoin — the stats side is a single row, not data
motion); scoring is a map-side expression and the top-k is a
TakeOrderedAndProject, so the whole query is scan -> tiny agg ->
scan-side score -> top-k with zero wide exchanges of corpus data.

Scores are emitted as integer MICRO-units (``score_micro``) — the
repo-wide discipline for cross-engine hash-stable results (see
SURVEY.md §5): both engines compute IEEE doubles with the same
association, so they agree to ~1 ulp, and rounding at 1e-6 makes the
residual invisible to the value hash (a float column rounded at 1e-9
would be ~100x more boundary-exposed).

Okapi BM25 (Robertson et al., TREC-3), the k1/b form every engine
ships: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tokenization shared with the DuckDB oracle: lowercase, split on runs
# of non-alphanumerics, drop empties.  Java regex and RE2 agree on this
# pattern class (no backrefs / lookaround), so both engines tokenize
# identically.
TOKEN_SPLIT_PATTERN = r"[^a-z0-9]+"

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def normalize_query_terms(query_terms: Sequence[str]) -> list:
    """Run raw query terms through the SAME tokenizer the corpus gets
    (lowercase, split on runs of non-[a-z0-9], drop empties) and return
    the sorted distinct token list.

    Without this an uppercase or punctuated term ("Spark", "map-reduce")
    would silently never match the lowercased corpus tokens — the query
    and the corpus must pass through one tokenizer.  A multi-token term
    contributes each of its tokens.  Raises ValueError when nothing
    tokenizable remains (an empty term set would otherwise leave the
    score column NULL and crash downstream arithmetic).
    """
    out = set()
    for t in query_terms:
        for tok in re.split("[^a-z0-9]+", str(t).lower()):
            if tok:
                out.add(tok)
    if not out:
        raise ValueError(
            "query_terms contains no tokenizable terms under the "
            f"corpus tokenizer (split on {TOKEN_SPLIT_PATTERN!r})"
        )
    return sorted(out)


def tokens_col(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), TOKEN_SPLIT_PATTERN),
        lambda x: x != F.lit(""),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` docs for a bag-of-words query by BM25.

    Returns (id_col, score_micro, dl, n_matched) ordered by
    (score desc, id asc) — the integer id tie-break keeps the LIMIT cut
    deterministic.  Docs matching no query term are excluded (their
    score is exactly 0).  Terms are normalized through the corpus
    tokenizer (see :func:`normalize_query_terms`); an untokenizable
    query raises ValueError.
    """
    terms = normalize_query_terms(query_terms)

    # closure factory, NOT a default-arg lambda: pyspark treats a
    # 2-parameter lambda as (element, index)
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    toks = docs.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).select(
        id_col,
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter("_toks", _eq(t))).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # materialize the NARROW per-doc tf table once (id, dl, one int per
    # term — ~48 B/doc, the guide-§8 "decide with small rows" proxy):
    # the stats agg and the scoring projection are two separate subtrees,
    # and without this the corpus is scanned and tokenized TWICE (the
    # tokenize pass, not the scoring math, dominates — measured 2x).
    toks = toks.localCheckpoint(eager=True)
    # collection stats: one row, partial-agg'd map-side; broadcast back
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dl").alias("_sum_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("bigint")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = toks.join(F.broadcast(stats))
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        part = idf * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    matched = None
    for i in range(len(terms)):
        m = (F.col(f"_tf_{i}") > 0).cast("int")
        matched = m if matched is None else matched + m
    return (
        scored.select(
            id_col,
            F.round(score * F.lit(1_000_000.0)).cast("bigint").alias(
                "score_micro"
            ),
            "dl",
            matched.alias("n_matched"),
        )
        .filter(F.col("n_matched") > 0)
        .orderBy(F.desc("score_micro"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk_tokenjoin(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k for WIDE queries via a query-term table join.

    :func:`bm25_topk` compiles one column per query term — the right
    plan for bag-of-words queries of a handful of terms, but the
    projection (and the codegen'd scoring expression) grows linearly
    with query width and bloats past a few dozen terms.  This variant
    scales to arbitrarily wide queries: tokenize the corpus once,
    ``explode`` the tokens, inner-join a BROADCAST table of the
    normalized query terms (the filter runs map-side — unmatched
    occurrences never reach a shuffle), and aggregate per (doc, term).
    The only corpus-scale exchange is that single token-keyed
    (id, term) aggregation over MATCHED occurrences; document
    frequencies and the final per-doc rollup aggregate the matched
    stream again (query-result-sized), and the collection stats are the
    same 1-row broadcast agg as the narrow path.

    Hash-stability: with a term-keyed plan the per-doc sum order is not
    fixed by column position, so each term's float contribution is
    quantized to integer micro-units BEFORE the per-doc int64 sum
    (summation-order-proof — the SURVEY §5 discipline).  Scores
    therefore differ from :func:`bm25_topk` by at most #terms/2 micro
    units (round-then-sum vs sum-then-round); the SQL mirror
    (:func:`bm25_tokenjoin_sql`) quantizes identically.

    Returns (id_col, score_micro, dl, n_matched) ordered by
    (score desc, id asc), cut at ``k``; docs matching no term are
    excluded.
    """
    terms = normalize_query_terms(query_terms)
    spark = docs.sparkSession
    # the broadcast term table carries a dense int index: after the
    # map-side match the term STRING never needs to ride an exchange —
    # the (doc, term) aggregation and the df window key on the 4-byte
    # index (bijective with the term, so groupings and counts are
    # unchanged), roughly halving the per-row shuffle bytes
    qdf = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "term string, _tidx int"
    )

    toks = docs.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).select(id_col, F.size("_toks").alias("dl"), "_toks")
    # tokenize ONCE: the stats agg and the explode/join are separate
    # subtrees, so without a materialization the corpus is scanned and
    # regex-tokenized twice.  Unlike the narrow-query path this carries
    # the token arrays (the explode needs them), a deliberate
    # space-for-scan trade: one tokenized-corpus checkpoint vs a second
    # full tokenize pass.  DISK_ONLY: a deserialized in-memory cache of
    # millions of token Strings is pure GC pressure for a block that is
    # scanned exactly twice; serialized+compressed blocks cost a cheap
    # sequential read instead.
    from pyspark import StorageLevel

    toks = toks.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    # collection stats: 1 row, map-side partial agg, broadcast back
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("dl").alias("_sum_dl")
    )
    matched = (
        toks.select(id_col, "dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(qdf), "term")
        .select(id_col, "dl", "_tidx")
    )
    tf = matched.groupBy(id_col, "_tidx").agg(
        F.count(F.lit(1)).alias("_tf"), F.max("dl").alias("dl")
    )
    # document frequency as a WINDOW count over the tf rows (one row
    # per (doc, term), so rows-per-term == df): a separate
    # tf.groupBy("term") aggregation would be a second SUBTREE that
    # re-explodes and re-shuffles the whole corpus (no exchange reuse
    # across differing attribute ids) — the window keeps the plan to
    # exactly one corpus-token exchange, plus a matched-rows-only
    # term-index exchange for the window itself
    from pyspark.sql import Window

    tf = tf.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("_tidx"))
    )
    scored = tf.join(F.broadcast(stats))
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    tfd = F.col("_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n").cast("double") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    part_micro = (
        F.round(idf * tfd * F.lit(k1 + 1.0) / (tfd + norm) * F.lit(1_000_000.0))
        .cast("bigint")
    )
    return (
        scored.select(id_col, "dl", part_micro.alias("_pm"))
        .groupBy(id_col)
        .agg(
            F.sum("_pm").alias("score_micro"),
            F.max("dl").alias("dl"),
            F.count(F.lit(1)).cast("int").alias("n_matched"),
        )
        .select(id_col, "score_micro", "dl", "n_matched")
        .orderBy(F.desc("score_micro"), F.asc(id_col))
        .limit(k)
    )


def bm25_tokenjoin_sql(
    table: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`bm25_topk_tokenjoin` — same tokenizer,
    same float association, same round-per-term-then-int-sum
    quantization."""
    terms = [t.replace("'", "''") for t in normalize_query_terms(query_terms)]
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT {id_col},
    list_filter(string_split_regex(lower(coalesce({text_col}, '')),
                                   '{TOKEN_SPLIT_PATTERN}'),
                x -> x <> '') AS _toks
  FROM {table}
), dls AS (
  SELECT {id_col}, len(_toks) AS dl, _toks FROM toks
), stats AS (
  SELECT COUNT(*) AS _n, SUM(dl) AS _sum_dl FROM dls
), q AS (
  SELECT unnest([{term_list}]) AS term
), ex AS (
  SELECT {id_col}, dl, unnest(_toks) AS term FROM dls
), tf AS (
  SELECT ex.{id_col}, ex.term, MAX(ex.dl) AS dl, COUNT(*) AS _tf
  FROM ex JOIN q ON ex.term = q.term
  GROUP BY ex.{id_col}, ex.term
), dfs AS (
  SELECT term, COUNT(*) AS _df FROM tf GROUP BY term
), parts AS (
  SELECT tf.{id_col}, tf.dl,
    CAST(round(
      ln(1.0 + (CAST(_n AS DOUBLE) - _df + 0.5) / (_df + 0.5))
      * CAST(_tf AS DOUBLE) * {k1 + 1.0!r}
      / (CAST(_tf AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r}
         * CAST(tf.dl AS DOUBLE)
         / (CAST(_sum_dl AS DOUBLE) / CAST(_n AS DOUBLE))))
      * 1000000.0) AS BIGINT) AS _pm
  FROM tf JOIN dfs ON tf.term = dfs.term, stats
)
SELECT {id_col}, SUM(_pm) AS score_micro, MAX(dl) AS dl,
       CAST(COUNT(*) AS INTEGER) AS n_matched
FROM parts
GROUP BY {id_col}
ORDER BY score_micro DESC, {id_col} ASC
LIMIT {k}
"""


def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` keyword terms by smoothed TF-IDF —
    the classic keyword-extraction / document-vector op a curation
    pipeline runs corpus-wide.

    Same scale shape as :func:`bm25_topk_tokenjoin`: tokenize once,
    ONE corpus-scale (doc, term) exchange for term frequencies,
    document frequency as a window count over the tf rows (one row per
    (doc, term) — no second corpus subtree), a 1-row doc-count
    broadcast, and the per-doc top-k as a rank window with a LITERAL
    bound so Spark pushes a partial WindowGroupLimit map-side (the
    quota_sample lesson).

    idf is the smoothed sklearn form ln((N+1)/(df+1)) + 1 (never
    zero/negative, defined for df=N); scores are integer micro-units
    (round(tf*idf*1e6)) so both engines hash identically.  Returns
    (id_col, term, tf, score_micro, rank) with ties broken by term
    ascending — fully deterministic.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    )
    stats = toks.agg(F.count(F.lit(1)).alias("_n"))
    tf = (
        toks.select(id_col, F.explode("_toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = tf.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).join(F.broadcast(stats))
    idf = (
        F.log(
            (F.col("_n").cast("double") + F.lit(1.0))
            / (F.col("_df").cast("double") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    scored = tf.select(
        id_col,
        "term",
        "tf",
        F.round(F.col("tf").cast("double") * idf * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score_micro", "rank")
    )


def tfidf_topk_sql(
    table: str,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`tfidf_topk_terms` — same tokenizer,
    same smoothed idf association, same micro quantization and
    (score desc, term asc) tie-break."""
    return f"""
WITH toks AS (
  SELECT {id_col},
    list_filter(string_split_regex(lower(coalesce({text_col}, '')),
                                   '{TOKEN_SPLIT_PATTERN}'),
                x -> x <> '') AS _toks
  FROM {table}
), stats AS (
  SELECT COUNT(*) AS _n FROM toks
), tf AS (
  SELECT {id_col}, term, COUNT(*) AS tf
  FROM (SELECT {id_col}, unnest(_toks) AS term FROM toks)
  GROUP BY {id_col}, term
), wdf AS (
  SELECT {id_col}, term, tf,
         COUNT(*) OVER (PARTITION BY term) AS _df
  FROM tf
), scored AS (
  SELECT {id_col}, term, tf,
    CAST(round(CAST(tf AS DOUBLE)
      * (ln((CAST(_n AS DOUBLE) + 1.0) / (CAST(_df AS DOUBLE) + 1.0))
         + 1.0)
      * 1000000.0) AS BIGINT) AS score_micro
  FROM wdf, stats
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
             ORDER BY score_micro DESC, term ASC) AS rank
  FROM scored
)
SELECT {id_col}, term, tf, score_micro, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG / context-window prep
    step): each document becomes ceil(n_tokens / stride) chunks of up to
    ``window`` tokens starting every ``stride`` tokens.

    Scale shape: pure map-side — tokenize, ``sequence`` the start
    offsets, ``posexplode``, ``slice`` — ZERO shuffles and no Python;
    the expansion factor is bounded by window/stride and the explode
    streams through whole-stage codegen.  At 100 TB this is exactly a
    scan -> project -> write job; partitioning of the output follows the
    input (chunks of one doc stay in one task).

    Returns (id_col, chunk_idx, start_tok, n_chunk_tokens, chunk_text);
    docs with zero tokens produce no chunks (mirrored in the SQL oracle,
    where the unnest of an empty series emits no rows).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = docs.select(
        F.col(id_col),
        tokens_col(text_col).alias("_toks"),
    ).withColumn("_n", F.size("_toks")).filter(F.col("_n") >= 1)
    starts = toks.select(
        id_col,
        "_toks",
        F.posexplode(
            F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
        ).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice("_toks", F.col("start_tok") + 1, window)
    return starts.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def chunk_sql(
    table: str,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`chunk_documents` (1-based inclusive list
    slicing ``lst[a:b]`` == Spark ``slice(lst, a, b-a+1)``)."""
    return f"""
WITH toks AS (
  SELECT {id_col},
    list_filter(string_split_regex(lower(coalesce({text_col}, '')),
                                   '{TOKEN_SPLIT_PATTERN}'),
                x -> x <> '') AS _toks
  FROM {table}
), nz AS (
  SELECT {id_col}, _toks, len(_toks) AS _n FROM toks WHERE len(_toks) >= 1
), st AS (
  SELECT {id_col}, _toks,
         unnest(generate_series(0, _n - 1, {stride})) AS start_tok
  FROM nz
)
SELECT {id_col},
  CAST(start_tok // {stride} AS BIGINT) AS chunk_idx,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(len(list_slice(_toks, start_tok + 1, start_tok + {window}))
       AS BIGINT) AS n_chunk_tokens,
  array_to_string(list_slice(_toks, start_tok + 1, start_tok + {window}),
                  ' ') AS chunk_text
FROM st
"""


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    candidate lists — the standard hybrid-retrieval combiner for a
    sparse (BM25) and a dense (embedding cosine) ranker.

    Each input is (id_col, rank_col) with 1-based ranks; CONTRACT: each
    id should appear at most once per list.  A ranker that emits
    duplicate ids would otherwise multiply rows through the full-outer
    join and double-count contributions, so each side is defensively
    collapsed to its BEST (minimum) rank per id first — a no-op on
    well-formed input, deterministic on malformed input.  Contribution
    of each list is round(1e6 / (k_rrf + rank)) in integer micro-units
    (one double division + one round — hash-stable across engines);
    absent ids contribute 0.  Both inputs are top-k lists (tiny), so the
    full-outer join and sort are driver-scale no matter the corpus size;
    the expensive work happened upstream in the two rankers.

    Returns (id_col, rrf_micro, rank_a, rank_b) ordered by
    (rrf_micro desc, id asc), cut at ``k``.
    """
    a = (
        ranked_a.select(
            F.col(id_col), F.col(rank_col).cast("long").alias("rank_a")
        )
        .groupBy(id_col)
        .agg(F.min("rank_a").alias("rank_a"))
    )
    b = (
        ranked_b.select(
            F.col(id_col), F.col(rank_col).cast("long").alias("rank_b")
        )
        .groupBy(id_col)
        .agg(F.min("rank_b").alias("rank_b"))
    )
    f = a.join(b, on=id_col, how="full_outer")

    def _contrib(c: Column) -> Column:
        return F.coalesce(
            F.round(F.lit(1_000_000.0) / (F.lit(float(k_rrf)) + c.cast("double")))
            .cast("bigint"),
            F.lit(0).cast("bigint"),
        )

    return (
        f.select(
            id_col,
            (_contrib(F.col("rank_a")) + _contrib(F.col("rank_b"))).alias(
                "rrf_micro"
            ),
            "rank_a",
            "rank_b",
        )
        .orderBy(F.desc("rrf_micro"), F.asc(id_col))
        .limit(k)
    )


def bm25_sql(
    table: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The equivalent ANSI/DuckDB SQL, mirroring the Spark expression
    term-for-term (same association of the float arithmetic).  Terms go
    through the same :func:`normalize_query_terms` as the engine side;
    normalized terms are [a-z0-9]+ so they cannot break out of the SQL
    string literal, and the quote-escape below is pure defense."""
    terms = [t.replace("'", "''") for t in normalize_query_terms(query_terms)]
    tf_cols = ",\n    ".join(
        f"len(list_filter(_toks, x -> x = '{t}')) AS _tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN _tf_{i} > 0 THEN 1 ELSE 0 END) AS _df_{i}"
        for i in range(len(terms))
    )
    parts = " + ".join(
        f"(ln(1.0 + (CAST(_n AS DOUBLE) - _df_{i} + 0.5) / (_df_{i} + 0.5))"
        f" * CAST(_tf_{i} AS DOUBLE) * {k1 + 1.0!r}"
        f" / (CAST(_tf_{i} AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r}"
        f" * CAST(dl AS DOUBLE)"
        f" / (CAST(_sum_dl AS DOUBLE) / CAST(_n AS DOUBLE)))))"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN _tf_{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    return f"""
WITH toks AS (
  SELECT {id_col},
    list_filter(string_split_regex(lower(coalesce({text_col}, '')),
                                   '{TOKEN_SPLIT_PATTERN}'),
                x -> x <> '') AS _toks
  FROM {table}
), tf AS (
  SELECT {id_col}, len(_toks) AS dl,
    {tf_cols}
  FROM toks
), stats AS (
  SELECT COUNT(*) AS _n, SUM(dl) AS _sum_dl, {df_cols} FROM tf
)
SELECT {id_col},
  CAST(round(({parts}) * 1000000.0) AS BIGINT) AS score_micro,
  dl,
  ({matched}) AS n_matched
FROM tf, stats
WHERE ({matched}) > 0
ORDER BY score_micro DESC, {id_col} ASC
LIMIT {k}
"""
