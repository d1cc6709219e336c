"""Driver contract: ``entry(spark)`` runs the transcript -> KG pipeline
(``plans.pipeline.run_pipeline``) on the deterministic synthetic fixture
and returns its distinct (subj, pred, obj) triples.  The rows equal
``oracle.pipeline_triples`` of the same fixture (tests/test_entry.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """A fresh pipeline run on ``fixtures.generate_transcripts(n_convs=10,
    seed=11, max_turns=40)`` in a temporary directory; the returned frame
    holds the triples in memory, so it outlives the directory."""
    from mongo2neo_spark import fixtures, schemas
    from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline

    with tempfile.TemporaryDirectory(prefix="m2n_entry_") as tmp:
        inp = os.path.join(tmp, "in")
        rows = fixtures.generate_transcripts(n_convs=10, seed=11, max_turns=40)
        spark.createDataFrame(
            fixtures.turns_to_pandas(rows), schemas.TRANSCRIPTS
        ).write.parquet(inp)
        paths = run_pipeline(spark, inp, os.path.join(tmp, "out"),
                             PipelineConfig(n_buckets=8), resume=False)
        triples = spark.read.parquet(paths["triples"])
        return spark.createDataFrame(triples.toPandas(), triples.schema)
