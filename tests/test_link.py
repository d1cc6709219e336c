"""Link stage: Spark LSH candidate pairs + scores == oracle's, including
the band-size cap semantics."""

import random

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


def _fixture_norm_ids(spark, small_rows):
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    norms = sorted({m["norm"] for m in ref_m})
    ids = spark.createDataFrame([(n,) for n in norms], "norm string").select(
        "norm", F.xxhash64("norm").alias("id")).collect()
    return [(r.norm, r.id) for r in ids]


@pytest.mark.parametrize("band_cap", [1, link.hashing.BAND_CAP])
def test_spark_link_components_match_driver(spark, small_rows, band_cap,
                                            monkeypatch):
    """Scored on Spark (LINK_SPARK_MIN_PAIRS below any pair count),
    link_components returns the driver venue's components and
    dropped-band count, also when the cap drops every band (then no norm
    links)."""
    norm_ids = _fixture_norm_ids(spark, small_rows)
    want = link.driver_link_components(norm_ids, band_cap)
    monkeypatch.setattr(link, "LINK_SPARK_MIN_PAIRS", -1)
    assert link.link_components(spark, norm_ids, band_cap) == want
    rows, dropped = want
    assert (dropped > 0) == (band_cap == 1)
    assert (len({e for _, e in rows}) == len(norm_ids)) == (band_cap == 1)


def test_spark_link_components_bounded_by_driver_cc_edges(spark, small_rows,
                                                          monkeypatch):
    """Above cc.DRIVER_CC_MAX_EDGES linked pairs link_components returns
    None (the caller keeps the distributed CC path) instead of collecting
    the pairs to a driver union-find: also when LINK_SPARK_MIN_PAIRS
    would score them on the driver, since more candidate pairs than that
    bound are always scored on Spark."""
    norm_ids = _fixture_norm_ids(spark, small_rows)
    rows, _ = link.driver_link_components(norm_ids)
    # a component of k norms has at least k - 1 linked pairs
    n_linked = len(rows) - len({e for _, e in rows})
    assert n_linked > 1
    monkeypatch.setattr(link.cc_mod, "DRIVER_CC_MAX_EDGES", n_linked - 1)
    assert link.link_components(spark, norm_ids) is None
    monkeypatch.setattr(link, "LINK_SPARK_MIN_PAIRS", -1)
    assert link.link_components(spark, norm_ids) is None
    monkeypatch.setattr(link.cc_mod, "DRIVER_CC_MAX_EDGES", n_linked + 10**6)
    assert link.link_components(spark, norm_ids) is not None


_SYLLABLES = ["ka", "lo", "mer", "tin", "sa", "vo", "ri", "den", "pa", "qua",
              "zel", "bro", "fi", "nor", "gus", "tal", "ebb", "wyn", "hul", "ix"]


def _alias_vocabulary(seed: int, n_entities: int):
    """Distinct norms of ``n_entities`` made-up names, each with up to two
    misspelled aliases (one letter doubled or dropped): the shape of an
    open vocabulary, where aliases link and unrelated names collide in
    LSH bands."""
    rng = random.Random(seed)
    norms = set()
    for _ in range(n_entities):
        name = " ".join(
            "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
            for _ in range(rng.randint(1, 2))
        )
        norms.add(name)
        for _ in range(rng.randrange(3)):
            i = rng.randrange(1, len(name) - 1)
            alias = (name[:i] + name[i] + name[i:] if rng.random() < 0.5
                     else name[:i] + name[i + 1:])
            norms.add(" ".join(alias.split()))
    return sorted(norms)


def _oracle_components(norm_ids, band_cap):
    """(norm, entity_id) rows from the oracle's candidate pairs and the
    shared score, labelled with the minimum id of each component by
    label propagation."""
    label = dict(norm_ids)
    linked = [(a, b) for a, b in oracle.candidate_pairs(label, band_cap)
              if rules.pair_score(a, b) >= rules.LINK_THRESHOLD]
    changed = True
    while changed:
        changed = False
        for a, b in linked:
            m = min(label[a], label[b])
            if (label[a], label[b]) != (m, m):
                label[a] = label[b] = m
                changed = True
    return sorted(label.items())


@pytest.mark.parametrize("band_cap", [2, link.hashing.BAND_CAP])
def test_link_venues_match_oracle_on_alias_vocabulary(spark, band_cap,
                                                      monkeypatch):
    """At a realistic vocabulary size (~1.3k norms), the driver scoring
    venue, the Spark scoring venue and the oracle (candidate pairs, exact
    scores, min-id labels) give the same components and dropped-band
    count, with over-cap drops (cap 2) and real links (default cap) both
    present; the Spark venue sends each linked pair to the driver once."""
    norms = _alias_vocabulary(seed=5, n_entities=700)
    assert len(norms) > 1_200
    rng = random.Random(band_cap)
    norm_ids = list(zip(norms, rng.sample(range(1, 2**62), len(norms))))
    want = _oracle_components(norm_ids, band_cap)
    want_dropped = sum(len(m) > band_cap
                       for m in oracle.lsh_buckets(norms).values())

    rows, dropped = link.driver_link_components(norm_ids, band_cap)
    assert (sorted(rows), dropped) == (want, want_dropped)

    sent = []
    min_labels = link.cc_mod.min_labels

    def recording_min_labels(pairs):
        pairs = list(pairs)
        sent.extend(pairs)
        return min_labels(pairs)

    monkeypatch.setattr(link.cc_mod, "min_labels", recording_min_labels)
    monkeypatch.setattr(link, "LINK_SPARK_MIN_PAIRS", -1)
    rows, dropped = link.link_components(spark, norm_ids, band_cap)
    assert (sorted(rows), dropped) == (want, want_dropped)
    assert len(sent) == len({frozenset(p) for p in sent}) > 0
    assert len({e for _, e in want}) < len(norms)  # aliases link
    assert (want_dropped > 0) == (band_cap == 2)
