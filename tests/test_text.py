"""Text-analysis operators: counts, quality, lang-id, fingerprints."""

import pandas as pd
import pytest

from mongo2neo_spark.functions import hashing
from mongo2neo_spark.operators import text as textops


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_token_count(spark):
    df = _docs(spark, ["one two three", "  padded   tokens  ", "", "single"])
    out = {r.doc_id: r.n for r in
           df.select("doc_id", textops.token_count("text").alias("n")).collect()}
    assert out == {0: 3, 1: 2, 2: 0, 3: 1}


def test_token_count_three_engine_parity(spark):
    """The explicit ASCII non-space class must count identically in
    Spark (Java regex), DuckDB (RE2), and the pure-Python replica —
    including leading tabs/newlines, NBSP (NOT whitespace in the ASCII
    class, unlike Python's Unicode \\S), vertical tab, and NULL text."""
    import duckdb

    from mongo2neo_spark.entry_oracle import _oracle_token_count

    texts = [
        "\na b",            # leading newline: 2 (old Spark split said 3)
        "\t\t",             # only ASCII whitespace: 0
        "a\u00a0b",        # NBSP joins -> 1 token on every engine
        "a\x0bb c",         # vertical tab is whitespace -> 3
        "  x  ",
        "",
        None,
        "plain text here",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    spark_n = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", textops.token_count("text").alias("n")
        ).collect()
    }
    py_n = {i: _oracle_token_count(t) for i, t in enumerate(texts)}
    con = duckdb.connect()
    duck_n = dict(
        con.execute(
            "SELECT i, LEN(regexp_extract_all(coalesce(t, ''),"
            " '[^ \t\n\x0B\f\r]+')) FROM (SELECT unnest(range(8)) i,"
            " unnest($1::VARCHAR[]) t)",
            [texts],
        ).fetchall()
    )
    assert spark_n == py_n == duck_n
    assert spark_n[0] == 2 and spark_n[2] == 1 and spark_n[3] == 3


def test_bpe_ish_token_count(spark):
    df = _docs(spark, ["hello, world! 42", "a-b"])
    out = {r.doc_id: r.n for r in
           df.select("doc_id", textops.bpe_ish_token_count("text").alias("n")).collect()}
    # hello , world ! 42 -> 5 ; a - b -> 3
    assert out == {0: 5, 1: 3}


def test_lang_id_markers(spark):
    df = _docs(spark, [
        "the cat and the dog is in the house",
        "der hund und die katze ist nicht da",
        "el perro y la casa que es de los gatos",
        "le chat et la maison est des le les",
        "xyzzy plugh",
    ])
    out = {r.doc_id: r.lang for r in
           df.select("doc_id", textops.lang_id("text").alias("lang")).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "es"
    assert out[3] == "fr"
    assert out[4] == "unknown"


def test_quality_score_range(spark):
    df = _docs(spark, ["the quick brown fox and the lazy dog " * 10, "!!!", ""])
    rows = {r.doc_id: r.q for r in
            df.select("doc_id", textops.quality_score("text").alias("q")).collect()}
    assert all(0.0 <= rows[i] <= 1.0 for i in rows)
    assert rows[0] > 0.5          # real prose scores high
    assert rows[1] < 0.1          # pure punctuation scores near zero
    assert rows[2] < rows[0]      # empty text below real prose


def test_fingerprint_matches_pure_python(spark):
    texts = ["the quick brown fox jumps over the lazy dog", "", "short"]
    df = _docs(spark, texts)
    out = {r.doc_id: r.fp for r in
           df.select("doc_id", textops.fingerprint_udf("text").alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert out[i] == hashing.rolling_fingerprint(t)


def test_text_profile_shape(spark):
    df = _docs(spark, ["the cat and the dog", "der hund und die katze"])
    prof = textops.text_profile(df)
    assert set(prof.columns) >= {
        "n_tokens", "n_bpe_tokens", "quality", "pred_lang", "fingerprint"
    }
    assert prof.count() == 2


# ---------------------------------------------------------------------------
# repetition profile (Gopher/C4-style signals)
# ---------------------------------------------------------------------------
def _rep(spark, texts):
    rows = textops.repetition_profile(_docs(spark, texts)).collect()
    return {r.doc_id: r.asDict() for r in rows}


def test_repetition_dup_word_frac(spark):
    out = _rep(spark, ["a b c d", "a a a a", "x y x y"])
    assert out[0]["dup_word_frac"] == 0.0
    assert out[1]["dup_word_frac"] == 0.75   # 3 of 4 are repeats
    assert out[2]["dup_word_frac"] == 0.5


def test_repetition_top_bigram_cov(spark):
    # "ab cd" repeated: bigram "ab cd" occurs 3x, each 4 non-space chars,
    # doc non-space chars = 12 -> weighted coverage capped at 1.0
    out = _rep(spark, ["ab cd ab cd ab cd", "p q r s"])
    assert out[0]["top_bigram_cov"] == 1.0
    # unique bigrams: max cnt*chars = 1*2 over 4 chars = 0.5
    assert out[1]["top_bigram_cov"] == 0.5


def test_repetition_dup_trigram_cov(spark):
    # trigram "a b c" occurs twice (6 occ-chars over 8 total = 0.75);
    # no other trigram repeats
    out = _rep(spark, ["a b c x a b c y", "u v w z"])
    assert out[0]["dup_trigram_cov"] == 0.75
    assert out[1]["dup_trigram_cov"] == 0.0


def test_repetition_line_metrics(spark):
    doc = "hello world\nhello world\nunique line\n\n  \nhello world"
    out = _rep(spark, [doc, "single line"])
    m = out[0]
    assert m["n_lines"] == 4
    # 3x "hello world" (2 excess) of 4 lines
    assert m["dup_line_frac"] == 0.5
    # chars: 3*11 + 11 excess=22 over 44
    assert m["dup_line_char_frac"] == 0.5
    assert out[1]["n_lines"] == 1
    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["dup_line_char_frac"] == 0.0


def test_repetition_short_docs(spark):
    # fewer than 2 or 3 words: gram arrays are empty, metrics are 0
    out = _rep(spark, ["word", "two words", ""])
    assert out[0]["top_bigram_cov"] == 0.0
    assert out[0]["dup_trigram_cov"] == 0.0
    assert out[1]["dup_trigram_cov"] == 0.0
    assert out[2]["top_bigram_cov"] == 0.0


def test_repetition_keep_verdict(spark):
    good = " ".join(f"w{i}" for i in range(30))
    bad = "spam ham " * 50
    out = _rep(spark, [good, bad])
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False


# ---------------------------------------------------------------------------
# corpus-wide boilerplate line removal (C4 heuristic)
# ---------------------------------------------------------------------------
def test_boilerplate_lines_removed_and_order_preserved(spark):
    header = "SITE NAVIGATION MENU"
    footer = "copyright example incorporated"
    docs = [
        f"{header}\nreal content {i} here\nmore body text {i}\n{footer}"
        for i in range(10)
    ] + ["totally unique document\nwith no boilerplate"]
    out = textops.remove_boilerplate_lines(
        _docs(spark, docs), min_df=5
    ).collect()
    by_id = {r.doc_id: r for r in out}
    for i in range(10):
        assert by_id[i].clean_text == f"real content {i} here\nmore body text {i}"
        assert by_id[i].n_lines_kept == 2
    assert by_id[10].clean_text == "totally unique document\nwith no boilerplate"


def test_boilerplate_blank_lines_preserved(spark):
    docs = ["keep\n\nblank above kept"] * 6 + ["other doc"]
    # the repeated body lines hit min_df, blanks never do
    out = textops.remove_boilerplate_lines(_docs(spark, docs), min_df=6)
    r = {x.doc_id: x for x in out.collect()}
    assert r[0].clean_text == ""  # both non-blank lines were boilerplate
    # the blank line survives but concat of [''] is ''
    assert r[6].clean_text == "other doc"


def test_boilerplate_trim_matching(spark):
    # lines matching after trim are the same boilerplate; original
    # (untrimmed) text is preserved for surviving lines
    docs = ["  promo line  \nbody a"] + ["promo line\nbody b"] * 5
    out = {r.doc_id: r for r in
           textops.remove_boilerplate_lines(_docs(spark, docs), min_df=6).collect()}
    assert out[0].clean_text == "body a"
    assert out[1].clean_text == "body b"


def test_boilerplate_all_removed_doc(spark):
    docs = ["spam"] * 8
    out = textops.remove_boilerplate_lines(_docs(spark, docs), min_df=8)
    rows = out.collect()
    assert all(r.clean_text == "" and r.n_lines_kept == 0 for r in rows)
    assert len(rows) == 8  # docs are kept (empty), not dropped


def test_contamination_flags_detects_shared_ngrams(spark):
    import pandas as pd

    from mongo2neo_spark.operators import text as textops

    eval_text = " ".join(f"ev{i}" for i in range(10))
    clean = " ".join(f"cl{i}" for i in range(20))
    # doc 1 embeds 8 consecutive eval tokens -> exactly contaminated
    leak = "x y " + " ".join(f"ev{i}" for i in range(8)) + " z"
    short = "ev0 ev1"  # <8 tokens: collapses to one joined shingle, no hit
    # a short eval text is one joined shingle too: a doc equal to it up to
    # whitespace runs is a hit; null and empty texts have no shingles, so
    # they match neither each other nor anything else
    short_eval = "tiny eval text"
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [clean, leak, short, "  tiny \t eval  text ", None, ""],
        })
    )
    ev = spark.createDataFrame(
        pd.DataFrame({"text": [eval_text, short_eval, None, ""]})
    )
    got = {r.id: (r.n_eval_hits, r.contaminated)
           for r in textops.contamination_flags(docs, ev, n=8).collect()}
    assert got[0] == (0, False)
    assert got[1] == (1, True)   # one distinct shared 8-gram
    assert got[2] == (0, False)
    assert got[3] == (1, True)
    assert got[4] == (0, False)
    assert got[5] == (0, False)


def test_redact_pii_counts_and_replaces(spark):
    import pandas as pd

    from mongo2neo_spark.operators import text as textops

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "mail a.b-c_d@ex-ample.org and x@y.io now",
            "call 555-123-4567 or 123.456.7890",
            "nothing here",
        ],
    }))
    got = {r.id: r for r in textops.redact_pii(docs).collect()}
    assert got[0].n_emails == 2 and got[0].n_phones == 0
    assert got[0].clean_text == "mail [EMAIL] and [EMAIL] now"
    assert got[1].n_emails == 0 and got[1].n_phones == 2
    assert got[1].clean_text == "call [PHONE] or [PHONE]"
    assert got[2].n_emails == 0 and got[2].n_phones == 0
    assert got[2].clean_text == "nothing here"


def test_redact_pii_null_text_coalesces(spark):
    """NULL text -> ('', 0, 0), like the sibling text operators, not
    NULL-through (the ADVICE low finding)."""
    import pandas as pd

    from mongo2neo_spark.operators import text as textops

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [None, "x@y.io"]})
    )
    got = {r.id: r for r in textops.redact_pii(docs).collect()}
    assert got[0].clean_text == "" and got[0].n_emails == 0 \
        and got[0].n_phones == 0
    assert got[1].n_emails == 1
