"""Link stage: Spark LSH candidate pairs + scores == oracle's, including
the band-size cap semantics."""

import pytest

from mongo2neo_spark import oracle, rules
from mongo2neo_spark.operators import extract, ingest, link


@pytest.fixture(scope="module")
def bands_df(spark, small_df):
    turns = ingest.dedup(ingest.clean(small_df))
    return link.lsh_bands(extract.mentions(extract.extract(turns))).persist()


def test_candidate_pairs_match_oracle(spark, bands_df, small_rows):
    got = {
        (r.a_norm, r.b_norm): r.score
        for r in link.candidate_pairs_from_bands(bands_df).collect()
    }
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    norms = [m["norm"] for m in ref_m]
    ref = {
        (a, b): rules.pair_score(a, b)
        for a, b in oracle.candidate_pairs(norms)
        if rules.pair_score(a, b) >= rules.LINK_THRESHOLD
    }
    assert set(got) == set(ref)
    for k in got:
        assert got[k] == pytest.approx(ref[k], abs=1e-12)


def test_pairs_are_ordered_and_distinct(spark, bands_df):
    rows = link.candidate_pairs_from_bands(bands_df).collect()
    assert all(r.a_norm < r.b_norm for r in rows)
    assert len(rows) == len({(r.a_norm, r.b_norm) for r in rows})


def test_band_cap_drops_hot_bands(spark, bands_df):
    # cap of 1 drops every band with >1 member -> no pairs at all
    assert link.candidate_pairs_from_bands(bands_df, band_cap=1).count() == 0
    dropped = link.dropped_from_bands(bands_df, band_cap=1)
    assert dropped.count() > 0  # and the drops are observable, not silent
