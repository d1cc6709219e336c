"""Extract stage: the Arrow-UDF output must equal the shared rules run
directly (same module, but the Spark path crosses Arrow serialization,
explode, and element_at resolution — that's what's under test)."""

from collections import Counter

from mongo2neo_spark import oracle
from mongo2neo_spark.operators import extract, ingest


def test_mentions_match_oracle(spark, small_df, small_rows):
    # a turn can name one entity twice: compare counts, not sets
    turns = ingest.dedup(ingest.clean(small_df))
    ex = extract.extract(turns)
    got = Counter(
        (r.conv_id, r.turn_idx, r.norm) for r in extract.mentions(ex).collect()
    )
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    ref = Counter((m["conv_id"], m["turn_idx"], m["norm"]) for m in ref_m)
    assert got == ref


def test_raw_triples_match_oracle(spark, small_df, small_rows):
    turns = ingest.dedup(ingest.clean(small_df))
    ex = extract.extract(turns)
    got = {
        (r.conv_id, r.turn_idx, r.subj_norm, r.pred, r.obj_norm)
        for r in extract.raw_triples(ex).collect()
    }
    _, ref_t = oracle.extract(oracle.dedup_turns(small_rows))
    ref = {
        (t["conv_id"], t["turn_idx"], t["subj_norm"], t["pred"], t["obj_norm"])
        for t in ref_t
    }
    assert got == ref

