import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mongo2neo_spark.session import get_spark

    # the status store keeps every stage of the session: beyond 1,000
    # stages Spark evicts skipped stages first, even recent ones, and
    # tests read the stages of a run's job group
    s = get_spark(app_name="m2n-tests", master="local[4]", shuffle_partitions=8,
                  extra_confs={"spark.ui.retainedStages": "100000"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_rows():
    from mongo2neo_spark import fixtures

    return fixtures.generate_transcripts(n_convs=10, seed=11, max_turns=40)


@pytest.fixture(scope="session")
def small_df(spark, small_rows):
    from mongo2neo_spark import fixtures

    return spark.createDataFrame(fixtures.turns_to_pandas(small_rows))
