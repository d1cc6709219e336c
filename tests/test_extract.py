"""Extract stage: the Arrow-UDF output must equal the shared rules run
directly (same module, but the Spark path crosses Arrow serialization,
posexplode, and element_at resolution — that's what's under test)."""

from mongo2neo_spark import oracle
from mongo2neo_spark.operators import extract, ingest


def test_mentions_match_oracle(spark, small_df, small_rows):
    turns = ingest.dedup(ingest.clean(small_df))
    ex = extract.extract(turns)
    got = {
        (r.conv_id, r.turn_idx, r.span_start, r.span_end, r.surface, r.norm, r.kind)
        for r in extract.mentions(ex).collect()
    }
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    ref = {
        (m["conv_id"], m["turn_idx"], m["span_start"], m["span_end"],
         m["surface"], m["norm"], m["kind"])
        for m in ref_m
    }
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


def test_mention_ids_unique(spark, small_df):
    turns = ingest.dedup(ingest.clean(small_df))
    m = extract.mentions(extract.extract(turns))
    assert m.count() == m.select("mention_id").distinct().count()
