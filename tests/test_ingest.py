"""Ingest: prune/cast, validity filters, deterministic dedup (P1-P4)."""

import datetime as dt

import pandas as pd

from mongo2neo_spark.operators import ingest


def _df(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    return spark.createDataFrame(pdf)


def test_filters_nulls_and_empty_text(spark):
    ts = dt.datetime(2026, 1, 1)
    df = _df(
        spark,
        [
            ("c1", 0, "user", "hello", None, ts),
            ("c1", 1, "user", "", None, ts),
            ("c1", 2, "user", None, None, ts),
            (None, 3, "user", "x", None, ts),
            ("c2", None, "user", "y", None, ts),
        ],
    )
    out = ingest.dedup(ingest.clean(df)).collect()
    assert [(r.conv_id, r.turn_idx) for r in out] == [("c1", 0)]


def test_dedup_deterministic_survivor(spark):
    ts = dt.datetime(2026, 1, 1)
    df = _df(
        spark,
        [
            ("c1", 0, "user", "bbb", None, ts),
            ("c1", 0, "assistant", "aaa", None, ts),  # min under (role,text,..)
            ("c1", 0, "user", "bbb", None, ts),
        ],
    )
    out = ingest.dedup(ingest.clean(df)).collect()
    assert len(out) == 1
    assert out[0].role == "assistant" and out[0].text == "aaa"


def test_per_turn_text_equality_under_permutation(spark, small_rows):
    """The contract's per-row invariant: per-turn text equality under
    stable (conv_id, turn_idx) ordering, for any input permutation."""
    from mongo2neo_spark import fixtures, oracle

    messy = fixtures.with_duplicates_and_shuffle(small_rows)
    df = spark.createDataFrame(fixtures.turns_to_pandas(messy))
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in ingest.dedup(ingest.clean(df)).collect()
    }
    ref = {
        (r.conv_id, r.turn_idx): r.text for r in oracle.dedup_turns(small_rows)
    }
    assert got == ref


def test_dedup_adaptive_matches_dedup(spark, small_rows):
    """The anti/semi adaptive dedup must be row-identical to the plain
    shuffle dedup — on duplicate-free AND duplicate-heavy inputs."""
    from mongo2neo_spark import fixtures

    clean_df = ingest.clean(
        spark.createDataFrame(fixtures.turns_to_pandas(small_rows))
    )
    messy_df = ingest.clean(
        spark.createDataFrame(
            fixtures.turns_to_pandas(
                fixtures.with_duplicates_and_shuffle(small_rows, dup_rate=0.4)
            )
        )
    )
    for df in (clean_df, messy_df):
        a = sorted(map(tuple, ingest.dedup(df).collect()))
        b = sorted(map(tuple, ingest.dedup_adaptive(df).collect()))
        assert a == b


def test_dedup_adaptive_survivor_determinism(spark):
    import datetime as _dt

    ts = _dt.datetime(2026, 1, 1)
    df = _df(
        spark,
        [
            ("c1", 0, "user", "bbb", None, ts),
            ("c1", 0, "assistant", "aaa", None, ts),
            ("c1", 1, "user", "solo", None, ts),
        ],
    )
    out = {r.turn_idx: r for r in ingest.dedup_adaptive(ingest.clean(df)).collect()}
    assert out[0].role == "assistant" and out[0].text == "aaa"
    assert out[1].text == "solo"


def test_oracle_dedup_matches_ingest_on_null_and_empty_fields(spark):
    """Two rows per turn that differ only in one field: a null role, tool
    or ts sorts first (Spark's min over a struct), and an empty text
    never survives (ingest.clean drops it before dedup).  The plain and
    adaptive dedups and the oracle keep the same row."""
    from mongo2neo_spark import oracle
    from mongo2neo_spark.fixtures import Turn

    ts = dt.datetime(2026, 1, 1)
    rows = [
        Turn("c", 0, None, "Ada met Bob", None, ts),
        Turn("c", 0, "user", "Ada met Bob", None, ts),
        Turn("c", 1, "tool", "Ada met Bob", "search", ts),
        Turn("c", 1, "tool", "Ada met Bob", None, ts),
        Turn("c", 2, "user", "Ada met Bob", None, ts),
        Turn("c", 2, "user", "Ada met Bob", None, None),
        Turn("c", 3, "user", "", None, ts),
        Turn("c", 3, "user", "Ada met Bob", None, ts),
    ]
    want = {
        0: (None, None, ts), 1: ("tool", None, ts), 2: ("user", None, None),
        3: ("user", None, ts),
    }
    df = ingest.clean(_df(spark, rows))
    for got in (ingest.dedup(df).collect(), ingest.dedup_adaptive(df).collect(),
                oracle.dedup_turns(rows)):
        assert {r.turn_idx: (r.role, r.tool, r.ts) for r in got} == want
        assert {r.text for r in got} == {"Ada met Bob"}
