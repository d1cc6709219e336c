"""Text-analysis operators for training-data curation: token counting,
quality scoring, language ID, document fingerprinting.

Everything except the fingerprint is pure built-in ``pyspark.sql.functions``
expressions — JVM-side, whole-stage-codegen'd, zero Python in the hot
path.  Each returns a Column (composable) or a DataFrame transform.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import hashing

# Whitespace tokens.  The class is spelled out (not `\S`) because the
# three engines disagree on what `\s` means: Java's default `\s` is the
# 6-char ASCII set, RE2's omits \x0B, and Python's is full Unicode (so
# NBSP would split a token only in the pure-Python oracle).  One
# explicit ASCII class makes Spark == DuckDB == Python by construction;
# the replica (entry_oracle._oracle_token_count) and the SQL mirrors
# use this same literal.
ASCII_NONSPACE_PATTERN = r"[^ \t\n\x0B\f\r]+"


def token_count(col) -> Column:
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return F.size(
        F.regexp_extract_all(c, F.lit(ASCII_NONSPACE_PATTERN), F.lit(0))
    )


# BPE-ish subword proxy: word pieces, numbers, or single non-space symbols
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")


def stopword_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(EN_STOPWORDS) + r")\b"
    hits = F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(0)))
    return (hits.cast("double") / F.greatest(token_count(c), F.lit(1))).alias(
        "stopword_ratio"
    )


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return punct.cast("double") / F.greatest(F.length(c), F.lit(1))


def quality_score(col) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punctuation
    + stopword presence.  Deterministic, SQL-expressible (the DuckDB
    oracle mirrors it term-for-term)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_term = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    return (0.4 * len_term + 0.3 * punct_term + 0.3 * stop_term)


# language-ID: marker-token counts, argmax with lexicographic tie-break
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "and", "of", "to", "is", "in"),
    "es": ("el", "la", "que", "de", "los", "es"),
    "fr": ("le", "la", "les", "et", "est", "des"),
    "zh": ("的", "是", "不", "了", "在", "我"),
}


def _marker_count(c, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(0)))


def lang_id(col) -> Column:
    """Predicted language: the marker list with the most hits; ties (and
    zero hits) resolve to the lexicographically first max — deterministic
    and exactly reproducible in SQL via greatest+case."""
    c = F.col(col) if isinstance(col, str) else col
    langs = sorted(LANG_MARKERS)
    counts = [_marker_count(c, l) for l in langs]
    best = F.greatest(*counts)
    expr = F.lit("unknown")
    for l, cnt in reversed(list(zip(langs, counts))):
        expr = F.when((best > 0) & (cnt == best), F.lit(l)).otherwise(expr)
    return expr


@pandas_udf(T.LongType())
def fingerprint_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Rolling-hash document fingerprint (functions.hashing) — Arrow
    batched, numpy-vectorized per window (bit-identical to the scalar
    ``rolling_fingerprint`` spec the oracle uses)."""
    for texts in batches:
        yield pd.Series(
            hashing.rolling_fingerprints_batch(list(texts)), dtype="int64"
        )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass curation profile of a document table."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(quality_score(c), 6).alias("quality"),
        lang_id(c).alias("pred_lang"),
        fingerprint_udf(c).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style repetition signals.  Definitions (documented variants of
# the published heuristics, chosen to be deterministic and exactly
# SQL-mirrorable — no tie-breaking on "the most frequent n-gram"):
#
#   dup_word_frac       (n_words - n_distinct_words) / n_words — fraction of
#                       word occurrences that are repeats of an earlier word.
#   top_bigram_cov      max over word-2-grams of count * non-space-chars,
#                       over total non-space chars, capped at 1.0 — the
#                       weighted-coverage variant of Gopher's "fraction of
#                       characters in the most frequent 2-gram" (the max of
#                       products needs no tie-break, unlike argmax).
#   dup_trigram_cov     sum over word-3-grams occurring >= 2 times of
#                       count * non-space-chars, over total non-space chars,
#                       capped at 1.0 — weighted-coverage variant of
#                       "fraction of characters in duplicated 3-grams".
#   dup_line_frac       (n_lines - n_distinct_lines) / n_lines over trimmed
#                       non-blank lines (C4/Gopher duplicate-line signal).
#   dup_line_char_frac  chars in excess duplicate line occurrences / chars
#                       in all lines.
#
# Line metrics are pure array expressions (zero shuffle); the n-gram counts
# need a real distributed count, done scalably as explode ->
# groupBy(doc_id, n, gram) -> groupBy(doc_id): both shuffles are keyed by
# doc-id-prefixed keys, so they distribute evenly at any corpus size, and
# the final join is doc-count-sized on both sides.
# ---------------------------------------------------------------------------
def _agg_char_len(arr) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _words(c) -> Column:
    return F.split(F.trim(c), r"\s+")


def _word_ngrams(words, n: int) -> Column:
    """Array of space-joined word n-grams (empty if fewer than n words)."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(F.size(words) >= n, F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )).otherwise(F.array().cast("array<string>"))


def remove_boilerplate_lines(
    df: DataFrame,
    min_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate removal (the C4 heuristic): a line that
    appears in >= ``min_df`` DISTINCT documents is boilerplate (headers,
    footers, cookie banners) and is dropped from every document; each
    document's surviving lines are reassembled in their original order.

    Scale shape: posexplode (narrow) -> one aggregation keyed by the
    trimmed line to get document frequency -> the line stream joins the
    (line, df>=min_df) set -- boilerplate is vocabulary-sized, tiny next
    to the corpus, so AQE turns that into a broadcast anti-join -- ->
    one groupBy(doc_id) to reassemble.  Two shuffles total (by line, by
    doc), both evenly keyed; no driver-side collection.

    Blank/whitespace lines are preserved verbatim (they carry no
    boilerplate signal and removing them would reflow documents)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lkey", F.trim(F.col("line")))

    boiler = (
        lines.where(F.length("lkey") > 0)
        .groupBy("lkey")
        .agg(F.count_distinct(id_col).alias("ndocs"))
        .where(F.col("ndocs") >= min_df)
        .select("lkey")
    )
    # plain equi anti-join: blanks can never match (boiler excludes them),
    # so no extra predicate is needed and AQE can broadcast the tiny side
    kept = lines.join(boiler, "lkey", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_lines_kept"),
    )
    return df.join(rebuilt, id_col, "left").select(
        *[F.col(c) for c in df.columns],
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
    )


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (see block comment above) plus a
    composite ``keep`` verdict with Gopher-flavored thresholds."""
    c = F.col(text_col)
    words = _words(c)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    n_lines = F.size(lines)
    line_chars = _agg_char_len(lines)
    base = df.select(
        F.col(id_col),
        words.alias("_w"),
        F.size(words).alias("n_words"),
        F.round(
            F.when(F.size(words) > 0,
                   (F.size(words) - F.size(F.array_distinct(words)))
                   .cast("double") / F.size(words)).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        F.length(F.regexp_replace(c, r"\s", "")).alias("_chars"),
        n_lines.alias("n_lines"),
        F.round(
            F.when(n_lines > 0,
                   (n_lines - F.size(F.array_distinct(lines)))
                   .cast("double") / n_lines).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.when(line_chars > 0,
                   (line_chars - _agg_char_len(F.array_distinct(lines)))
                   .cast("double") / line_chars).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_char_frac"),
    )

    grams = base.select(
        id_col,
        "_chars",
        F.explode(
            F.concat(
                F.transform(
                    _word_ngrams(F.col("_w"), 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
                ),
                F.transform(
                    _word_ngrams(F.col("_w"), 3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
                ),
            )
        ).alias("g"),
    ).select(
        id_col, "_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    gram_counts = grams.groupBy(id_col, "n", "gram").agg(
        F.count("*").alias("cnt"), F.first("_chars").alias("_chars")
    ).withColumn(
        "gchars", F.length(F.regexp_replace("gram", r"\s", ""))
    )
    gram_metrics = gram_counts.groupBy(id_col).agg(
        F.round(
            F.least(
                F.coalesce(
                    F.max(F.when(F.col("n") == 2,
                                 F.col("cnt") * F.col("gchars"))), F.lit(0)
                ).cast("double") / F.greatest(F.first("_chars"), F.lit(1)),
                F.lit(1.0),
            ),
            6,
        ).alias("top_bigram_cov"),
        F.round(
            F.least(
                F.coalesce(
                    F.sum(F.when((F.col("n") == 3) & (F.col("cnt") >= 2),
                                 F.col("cnt") * F.col("gchars"))), F.lit(0)
                ).cast("double") / F.greatest(F.first("_chars"), F.lit(1)),
                F.lit(1.0),
            ),
            6,
        ).alias("dup_trigram_cov"),
    )

    out = base.drop("_w", "_chars").join(
        gram_metrics, id_col, "left"
    ).fillna({"top_bigram_cov": 0.0, "dup_trigram_cov": 0.0})
    return out.select(
        "*",
        (
            (F.col("n_words") >= 10)
            & (F.col("dup_word_frac") < 0.9)
            & (F.col("top_bigram_cov") < 0.2)
            & (F.col("dup_trigram_cov") < 0.3)
            & (F.col("dup_line_frac") < 0.3)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------
def word_shingles_col(text, n: int = 3):
    """JVM-side word-``n``-shingle SET of a text column: split on
    whitespace runs, a text shorter than ``n`` tokens collapses to one
    joined shingle, empty or null text to the empty set.  Pure built-ins:
    transform/sequence/slice/array_join/array_distinct, all inside
    whole-stage codegen."""
    t = F.trim(F.coalesce(text, F.lit("")))
    toks = F.split(t, r"\s+")
    empty = F.array().cast("array<string>")
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return (
        F.when(F.length(t) == 0, empty)
        .when(F.size(toks) < n, F.array(F.array_join(toks, " ")))
        .otherwise(F.array_distinct(joined))
    )


def contamination_flags(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check, the published training-data
    decontamination recipe (GPT-3 appendix C / PaLM style): a document
    is contaminated if it shares ANY word-``n``-gram with the evaluation
    set.  Output: (id, n_eval_hits, contaminated) — n_eval_hits counts
    the doc's DISTINCT overlapping n-grams.

    Scale shape: the eval set is benchmark-sized (thousands of docs) —
    its distinct n-gram set broadcasts; the corpus n-gram stream is
    filtered by the broadcast hash join MAP-SIDE, so only actual hits
    (rare by construction) reach the per-doc aggregation.  The corpus is
    scanned once, never shuffled; exact string n-grams, so there is no
    hash-collision false-positive caveat.
    """
    did = F.col(id_col).alias("id")
    grams = docs.select(
        did, F.explode(word_shingles_col(F.col(text_col), n)).alias("g")
    )
    ev = eval_df.select(
        F.explode(word_shingles_col(F.col(eval_text_col), n)).alias("g")
    ).distinct()
    hits = (
        grams.join(F.broadcast(ev), "g")
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_eval_hits"))
    )
    return docs.select(did).join(hits, "id", "left").select(
        "id",
        F.coalesce("n_eval_hits", F.lit(0)).cast("bigint").alias("n_eval_hits"),
        (F.coalesce("n_eval_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII redaction (C4-style scrubbing pass)
# ---------------------------------------------------------------------------
# conservative patterns with identical semantics in Java regex (Spark)
# and RE2 (DuckDB): plain classes + bounded quantifiers + \b only
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails/phone numbers into typed placeholder tokens and
    count what was removed: (id, clean_text, n_emails, n_phones).
    Pure JVM regexp_extract_all/regexp_replace — a narrow map with zero
    shuffle and zero Python, which is what you want for a pass that
    touches every byte of a 100-TB corpus.  Emails are replaced first
    so a phone-looking fragment inside an address can't double-count.
    NULL text coalesces to '' (-> ('', 0, 0)), matching the sibling
    text operators instead of propagating NULL through every output.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.size(
        F.regexp_extract_all(c, F.lit(PII_EMAIL_PATTERN), F.lit(0))
    ).cast("bigint")
    no_email = F.regexp_replace(c, PII_EMAIL_PATTERN, "[EMAIL]")
    n_phones = F.size(
        F.regexp_extract_all(no_email, F.lit(PII_PHONE_PATTERN), F.lit(0))
    ).cast("bigint")
    clean = F.regexp_replace(no_email, PII_PHONE_PATTERN, "[PHONE]")
    return df.select(
        F.col(id_col).alias("id"),
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )
