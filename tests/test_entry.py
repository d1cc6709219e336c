"""Driver contract: ``__spark_entry__.entry(spark)`` returns the pipeline's
distinct triples of its fixture, which equal the oracle's."""

import __spark_entry__
from mongo2neo_spark import oracle


def test_entry_triples_equal_oracle(spark, small_rows):
    # small_rows is the fixture entry() runs on (n_convs=10, seed=11,
    # max_turns=40)
    got = [tuple(r) for r in __spark_entry__.entry(spark).collect()]
    assert len(got) == len(set(got)) > 0
    assert set(got) == oracle.pipeline_triples(small_rows)
