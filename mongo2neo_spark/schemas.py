"""Stage-contract schemas (SURVEY.md §1.2).

Every pipeline stage is a pure ``DataFrame -> DataFrame`` function; the
schemas below are the contracts between them.  Fixed, explicit schemas —
never inferred — because a 10^12-row job cannot afford schema drift.
"""

from __future__ import annotations

from pyspark.sql import types as T

from .operators.extract import EXTRACT_TYPE

# ---------------------------------------------------------------------------
# input: the contract transcript table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# the combined extraction table as pipeline.py writes it (one row per turn,
# partitioned by bucket) — read back with this schema, never inferred: an
# inferring read costs a footer job and fails on an extraction that wrote
# no files (empty input)
EXTRACTED = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ex", EXTRACT_TYPE, True),
        T.StructField("bucket", T.IntegerType(), True),
    ]
)


# frames the driver builds (pandas -> Arrow LocalTableScan), declared so
# that every venue writes the same schema: a component label is an xxhash64
# id, never null (the Spark path's frame goes through
# DataFrame.to(COMPONENT_ROWS), which keeps it so), and the Spark runner of
# the node kernel (materialize.nodes) declares NODE_ROWS itself
COMPONENT_ROWS = T.StructType(
    [
        T.StructField("norm", T.StringType(), True),
        T.StructField("entity_id", T.LongType(), False),
    ]
)
NODE_ROWS = T.StructType(
    [
        T.StructField("entity", T.StringType(), True),  # canonical name
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)
NORM_TO_ENTITY = T.StructType(
    [
        T.StructField("norm", T.StringType(), True),
        T.StructField("entity", T.StringType(), True),
    ]
)

# per-partition lineage / metrics (resume contract, BASELINE.json north_star)
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("input_rows", T.LongType(), False),
        T.StructField("output_rows", T.LongType(), False),
        T.StructField("checksum", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
