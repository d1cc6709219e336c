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

# ---------------------------------------------------------------------------
# extract stage output — one row per detected entity mention
# ---------------------------------------------------------------------------
MENTIONS = T.StructType(
    [
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("span_end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# element type returned by the mention-detection pandas UDF (U1): the
# per-turn array<struct> that posexplode() unnests into MENTIONS rows.
MENTION_ELEM = T.StructType(
    [
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("span_end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)
MENTION_ARRAY = T.ArrayType(MENTION_ELEM, False)

# element type returned by the triple-extraction pandas UDF (U2):
# indexes into the turn's mention array plus the predicate.
TRIPLE_ELEM = T.StructType(
    [
        T.StructField("subj_idx", T.IntegerType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_idx", T.IntegerType(), False),
    ]
)
TRIPLE_ARRAY = T.ArrayType(TRIPLE_ELEM, False)

# mention-level triples, pre-linking
RAW_TRIPLES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj_norm", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_norm", T.StringType(), False),
    ]
)

# link stage: candidate pairs between *distinct norms* (vocabulary-sized,
# not mention-sized — the key scale decision, see operators/link.py)
CANDIDATE_PAIRS = T.StructType(
    [
        T.StructField("a_norm", T.StringType(), False),
        T.StructField("b_norm", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# canonicalize stage: norm -> entity component
COMPONENTS = T.StructType(
    [
        T.StructField("norm", T.StringType(), False),
        T.StructField("entity_id", T.LongType(), False),
    ]
)

# materialized graph
NODES = T.StructType(
    [
        T.StructField("entity", T.StringType(), False),  # canonical name
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_mentions", T.LongType(), False),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("weight", T.LongType(), False),
        T.StructField(
            "provenance",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("conv_id", T.StringType(), False),
                        T.StructField("turn_idx", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
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


def _nullable(schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields])


# frames the driver builds (pandas -> Arrow LocalTableScan).  Nullable like
# the Spark path's joins/windows, so both link venues write the same schema
COMPONENT_ROWS = _nullable(COMPONENTS)
NODE_ROWS = _nullable(NODES)
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
