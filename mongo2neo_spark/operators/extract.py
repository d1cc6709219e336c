"""Extract stage (U1 + U2): batched mention detection and (subj, pred,
obj) triple extraction per conversation turn, as ONE Arrow-batched
scalar-iterator pandas UDF (SURVEY.md §2.10).

Why one UDF: mention detection and triple extraction share the per-turn
parse, so fusing them halves the Arrow transfer and keeps exactly one
ArrowEvalPython island in the plan — everything around it stays in
whole-stage codegen.  The UDF body delegates to the shared
``mongo2neo_spark.rules`` module, the same functions the pure-Python
oracle runs, so triple-set parity is by construction.

The stage writes only what later stages read: each mention's norm and
the triples as indexes into them.  Spans and surfaces only locate the
predicate gaps, and entity kind is a function of the norm, computed once
per vocabulary entry when the nodes are built (``materialize``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules

# Flat parallel primitive arrays, NOT array<struct>: pyarrow converts
# lists of primitives ~10x faster than lists of Python tuples, and the
# struct shape is rebuilt JVM-side with arrays_zip (free in codegen).
EXTRACT_TYPE = T.StructType(
    [
        T.StructField("m_norm", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_subj", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("t_pred", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_obj", T.ArrayType(T.IntegerType(), False), False),
    ]
)


@pandas_udf(EXTRACT_TYPE)
def extract_turn_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """text -> mention norms and triple arrays (one row per turn).

    Scalar-iterator form amortizes per-batch setup; inside a batch the
    compiled regex in ``rules`` does the work (Arrow moves the data, not
    per-row Python serialization).  No span is kept: each predicate gap
    runs from the previous mention's end to the next mention's start.

    Surface forms and predicate gaps are vocabulary-bounded, so their
    normalizations are memoized across the worker's lifetime —
    pure-function caching, bit-identical to calling ``rules`` directly
    (which the oracle-parity tests assert end-to-end).
    """
    finditer = rules.MENTION_RE.finditer
    normalize = rules.normalize
    predicates = rules.PREDICATE_SET
    norm_cache: dict = {}
    gap_cache: dict = {}

    for texts in batches:
        cols = {k: [] for k in ("m_norm", "t_subj", "t_pred", "t_obj")}
        for text in texts:
            text = text or ""
            norms, t_subj, t_pred, t_obj = [], [], [], []
            end = None  # the previous mention's end: the gap starts there
            for m in finditer(text):
                if end is not None:
                    gap_raw = text[end : m.start()]
                    pred = gap_cache.get(gap_raw)
                    if pred is None:
                        pred = normalize(gap_raw.strip(" .,;:!?"))
                        if len(gap_cache) < 2_000_000:
                            gap_cache[gap_raw] = pred
                    if pred in predicates:
                        t_subj.append(len(norms) - 1)
                        t_pred.append(pred)
                        t_obj.append(len(norms))
                surface = m.group(0)
                norm = norm_cache.get(surface)
                if norm is None:
                    norm = normalize(surface)
                    if len(norm_cache) < 2_000_000:
                        norm_cache[surface] = norm
                norms.append(norm)
                end = m.end()
            for k, v in zip(cols, (norms, t_subj, t_pred, t_obj)):
                cols[k].append(v)
        yield pd.DataFrame(cols)


def extract(turns: DataFrame) -> DataFrame:
    """turns -> one row per turn with mention/triple arrays attached:
    one pandas-UDF island that runs the shared ``rules`` module verbatim
    (parity-by-construction with the pure-Python oracle).  Extraction is
    row-local, so it needs no particular input partitioning."""
    return turns.select(
        "conv_id", "turn_idx", "ts",
        extract_turn_udf(F.col("text")).alias("ex"),
    )


def mentions(extracted: DataFrame) -> DataFrame:
    """One row per mention, (conv_id, turn_idx, ts, norm): a shuffle-free
    explode of the norm array.  A turn that names an entity twice gives
    two equal rows; mention counts are counts of these rows."""
    return extracted.select(
        "conv_id", "turn_idx", "ts", F.explode("ex.m_norm").alias("norm")
    )


def raw_triples(extracted: DataFrame) -> DataFrame:
    """Unnest the flat triple arrays, resolving mention indexes to norms
    in-place (array indexing — no join needed)."""
    t = extracted.select(
        "conv_id",
        "turn_idx",
        F.col("ex.m_norm").alias("norms"),
        F.explode(
            F.arrays_zip(
                F.col("ex.t_subj").alias("subj_idx"),
                F.col("ex.t_pred").alias("pred"),
                F.col("ex.t_obj").alias("obj_idx"),
            )
        ).alias("t"),
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.element_at("norms", F.col("t.subj_idx") + 1).alias("subj_norm"),
        F.col("t.pred").alias("pred"),
        F.element_at("norms", F.col("t.obj_idx") + 1).alias("obj_norm"),
    )
