"""Link stage: Spark LSH candidate pairs + scores == oracle's, including
the band-size cap semantics."""

import pytest
from pyspark.sql import functions as F

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
    # both sides call rules.pair_score: the scores are equal, not close
    assert got == ref


def test_pairs_are_ordered_and_distinct(spark, bands_df):
    rows = link.candidate_pairs_from_bands(bands_df).collect()
    assert all(r.a_norm < r.b_norm for r in rows)
    assert len(rows) == len({(r.a_norm, r.b_norm) for r in rows})


def test_band_cap_drops_hot_bands(spark, bands_df):
    # cap of 1 drops every band with >1 member -> no pairs at all
    assert link.candidate_pairs_from_bands(bands_df, band_cap=1).count() == 0
    dropped = link.dropped_from_bands(bands_df, band_cap=1)
    assert dropped.count() > 0  # and the drops are observable, not silent


@pytest.mark.parametrize("band_cap", [1, link.hashing.BAND_CAP])
def test_spark_link_components_match_driver(spark, small_rows, band_cap):
    """The distributed-LSH venue returns the driver venue's components
    and dropped-band count, also when the cap drops every band (then no
    norm links)."""
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    norms = sorted({m["norm"] for m in ref_m})
    ids = spark.createDataFrame([(n,) for n in norms], "norm string").select(
        "norm", F.xxhash64("norm").alias("id")).collect()
    norm_ids = [(r.norm, r.id) for r in ids]
    want = link.driver_link_components(norm_ids, band_cap)
    assert link.spark_link_components(spark, norm_ids, band_cap) == want
    rows, dropped = want
    assert (dropped > 0) == (band_cap == 1)
    assert (len({e for _, e in rows}) == len(norms)) == (band_cap == 1)


def test_spark_link_components_bounded_by_driver_cc_edges(spark, small_rows,
                                                          monkeypatch):
    """Above cc.DRIVER_CC_MAX_EDGES linked pairs the distributed-LSH venue
    returns None (the caller keeps the distributed CC path) instead of
    collecting the pairs to a driver union-find."""
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    norms = sorted({m["norm"] for m in ref_m})
    ids = spark.createDataFrame([(n,) for n in norms], "norm string").select(
        "norm", F.xxhash64("norm").alias("id")).collect()
    norm_ids = [(r.norm, r.id) for r in ids]
    rows, _ = link.driver_link_components(norm_ids)
    # a component of k norms has at least k - 1 linked pairs
    n_linked = len(rows) - len({e for _, e in rows})
    assert n_linked > 1
    monkeypatch.setattr(link.cc_mod, "DRIVER_CC_MAX_EDGES", n_linked - 1)
    assert link.spark_link_components(spark, norm_ids) is None
    monkeypatch.setattr(link.cc_mod, "DRIVER_CC_MAX_EDGES", n_linked + 10**6)
    assert link.spark_link_components(spark, norm_ids) is not None
