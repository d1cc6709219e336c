"""Property-based tests (hypothesis) for the shared rule/hash layer —
the invariants the whole pipeline's determinism rests on — and a
differential test of the whole pipeline against the oracle."""

import datetime as dt
import tempfile
from unittest import mock

import pandas as pd
from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from mongo2neo_spark import fixtures, oracle, rules, schemas
from mongo2neo_spark.functions import hashing
from mongo2neo_spark.operators import extract, link
from mongo2neo_spark.plans import pipeline

text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=400,
)

# turn texts built from the pieces the extraction rules care about:
# capitalized runs, each after a predicate gap padded with the
# punctuation and whitespace the gap rule strips, lowercase filler or
# arbitrary text
_mention_st = st.lists(
    st.from_regex(r"[A-Z][A-Za-z0-9]{0,6}", fullmatch=True), min_size=1, max_size=3
).map(" ".join)
_pad_st = st.text(alphabet=" .,;:!?", max_size=3)
_gap_st = st.builds(
    lambda left, pred, ws, right: left + pred.replace(" ", ws) + right,
    _pad_st, st.sampled_from(rules.PREDICATES), st.sampled_from([" ", "  ", "\t"]),
    _pad_st,
)
_between_st = st.one_of(
    _gap_st, _gap_st, st.from_regex(r"[a-z ]{1,12}", fullmatch=True),
    st.text(max_size=8),
)
turn_text_st = st.one_of(
    st.none(), st.just(""),
    st.lists(st.tuples(_between_st, _mention_st), max_size=6).map(
        lambda pieces: "".join(a + b for a, b in pieces)
    ),
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_mention_spans_are_consistent(text):
    for m in rules.extract_mentions(text):
        assert 0 <= m.span_start < m.span_end <= len(text)
        assert text[m.span_start : m.span_end] == m.surface
        assert m.norm == rules.normalize(m.surface)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_triples_index_into_mentions(text):
    ms = rules.extract_mentions(text)
    for t in rules.extract_triples(text, ms):
        assert 0 <= t.subj_idx < len(ms)
        assert 0 <= t.obj_idx < len(ms)
        assert t.pred in rules.PREDICATE_SET


@given(st.lists(turn_text_st, max_size=8), st.integers(0, 8))
@settings(max_examples=300, deadline=None)
def test_extract_udf_matches_rules(texts, split):
    """The extraction UDF's body (its own memoized copy of the triple
    rule), run without Spark over two batches, gives each turn the norms
    and triples of ``rules.extract_mentions``/``extract_triples``."""
    batches = [pd.Series(texts[:split], dtype=object),
               pd.Series(texts[split:], dtype=object)]
    out = pd.concat(list(extract.extract_turn_udf.func(iter(batches))),
                    ignore_index=True)
    assert len(out) == len(texts)
    for text, row in zip(texts, out.itertuples()):
        ms = rules.extract_mentions(text or "")
        ts = rules.extract_triples(text or "", ms)
        assert list(row.m_norm) == [m.norm for m in ms]
        assert list(row.t_subj) == [t.subj_idx for t in ts]
        assert list(row.t_pred) == [t.pred for t in ts]
        assert list(row.t_obj) == [t.obj_idx for t in ts]


@given(st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    assert rules.normalize(rules.normalize(s)) == rules.normalize(s)


@given(st.text(max_size=60), st.text(max_size=60))
@settings(max_examples=100, deadline=None)
def test_pair_score_symmetric_and_bounded(a, b):
    s = rules.pair_score(rules.normalize(a), rules.normalize(b))
    assert 0.0 <= s <= 1.0
    assert s == rules.pair_score(rules.normalize(b), rules.normalize(a))


@given(st.text(min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_identical_norm_scores_one(s):
    n = rules.normalize(s)
    assert rules.pair_score(n, n) == 1.0


@given(st.sets(st.text(min_size=1, max_size=12), min_size=0, max_size=50))
@settings(max_examples=100, deadline=None)
def test_minhash_batch_equals_scalar(tokens):
    sig = hashing.minhash_signature(tokens)
    batch = hashing.minhash_signatures_batch([tokens])
    assert list(batch[0]) == sig
    assert len(sig) == hashing.NUM_HASHES
    assert all(0 <= v <= hashing.MERSENNE_P for v in sig)


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_fingerprint_deterministic(text):
    assert hashing.rolling_fingerprint(text) == hashing.rolling_fingerprint(text)
    assert 0 <= hashing.rolling_fingerprint(text) < hashing.FP_MOD


# small transcripts: few (conv_id, turn_idx) keys, so rows that share a
# key but differ in role, text, tool or ts are common, plus a verbatim
# copy of every third row; null and empty texts, null roles and
# timestamps, Unicode conversation ids and text between the mentions.
# Most texts mention names from a pool of misspelled aliases, so that
# linking merges norms into one entity
_alias_st = st.sampled_from(
    ["Ada Lovelace", "Ada Lovelac", "Ada Lovelaces", "Alan Turing", "Alan Turin",
     "Bob"])
_linked_text_st = st.lists(
    st.tuples(_between_st, _alias_st | _mention_st), min_size=1, max_size=6
).map(lambda pieces: "".join(a + b for a, b in pieces))
_turn_st = st.builds(
    fixtures.Turn,
    conv_id=st.sampled_from(["c0", "c1", "ünï 2"]),
    turn_idx=st.integers(0, 5),
    role=st.sampled_from(["user", "assistant", "tool", None]),
    text=turn_text_st | _linked_text_st | _linked_text_st,
    tool=st.sampled_from([None, "search"]),
    ts=st.none() | st.datetimes(dt.datetime(2020, 1, 1), dt.datetime(2030, 1, 1)),
)
transcript_st = st.lists(_turn_st, min_size=6, max_size=24).map(
    lambda rows: rows + rows[::3])


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


@given(transcript_st)
@settings(max_examples=4, deadline=None,
          phases=[Phase.explicit, Phase.reuse, Phase.generate])
def test_pipeline_venues_match_oracle(spark, rows):
    """Each transcript goes through the driver venue and the all-Spark
    chain (no driver scoring, the vocabulary over DRIVER_VOCAB_MAX); both
    write the oracle's triples, nodes and edges.  An example costs two
    pipeline runs (seconds), so a failure is reported as found, without
    shrinking it."""
    cfg = pipeline.PipelineConfig(n_buckets=1)
    want_triples = oracle.pipeline_triples(rows)
    want_nodes = oracle.nodes(rows)
    want_edges = oracle.edges(rows, cfg.max_provenance)
    with tempfile.TemporaryDirectory() as tmp:
        inp = f"{tmp}/in"
        spark.createDataFrame(
            fixtures.turns_to_pandas(rows), schemas.TRANSCRIPTS
        ).write.parquet(inp)
        for venue, min_pairs, vocab_max in [
            ("driver", link.LINK_SPARK_MIN_PAIRS, pipeline.DRIVER_VOCAB_MAX),
            ("spark", -1, 0),
        ]:
            with mock.patch.object(link, "LINK_SPARK_MIN_PAIRS", min_pairs), \
                    mock.patch.object(pipeline, "DRIVER_VOCAB_MAX", vocab_max):
                paths = pipeline.run_pipeline(
                    spark, inp, f"{tmp}/{venue}", cfg, resume=False)
            assert set(_rows(spark, paths["triples"])) == want_triples, venue
            assert _rows(spark, paths["nodes"]) == want_nodes, venue
            assert _rows(spark, paths["edges"]) == want_edges, venue
