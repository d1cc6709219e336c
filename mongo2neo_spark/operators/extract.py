"""Extract stage (U1 + U2): batched mention detection and (subj, pred,
obj) triple extraction per conversation turn, as ONE Arrow-batched
scalar-iterator pandas UDF (SURVEY.md §2.10).

Why one UDF: mention detection and triple extraction share the per-turn
parse, so fusing them halves the Arrow transfer and keeps exactly one
ArrowEvalPython island in the plan — everything around it stays in
whole-stage codegen.  The UDF body delegates to the shared
``mongo2neo_spark.rules`` module, the same functions the pure-Python
oracle runs, so triple-set parity is by construction.
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
        T.StructField("m_start", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("m_end", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("m_surface", T.ArrayType(T.StringType(), False), False),
        T.StructField("m_norm", T.ArrayType(T.StringType(), False), False),
        T.StructField("m_kind", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_subj", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("t_pred", T.ArrayType(T.StringType(), False), False),
        T.StructField("t_obj", T.ArrayType(T.IntegerType(), False), False),
    ]
)


@pandas_udf(EXTRACT_TYPE)
def extract_turn_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """text -> flat mention/triple arrays (one row per turn).

    Scalar-iterator form amortizes per-batch setup; inside a batch the
    compiled regex in ``rules`` does the work (Arrow moves the data, not
    per-row Python serialization).

    Surface forms and predicate gaps are vocabulary-bounded, so their
    normalize/kind lookups are memoized across the worker's lifetime —
    pure-function caching, bit-identical to calling ``rules`` directly
    (which the oracle-parity tests assert end-to-end).
    """
    finditer = rules.MENTION_RE.finditer
    normalize = rules.normalize
    infer_kind = rules.infer_kind
    predicates = rules.PREDICATE_SET
    surf_cache: dict = {}
    gap_cache: dict = {}

    for texts in batches:
        cols = {k: [] for k in
                ("m_start", "m_end", "m_surface", "m_norm", "m_kind",
                 "t_subj", "t_pred", "t_obj")}
        for text in texts:
            text = text or ""
            starts, ends, surfs, norms, kinds = [], [], [], [], []
            for m in finditer(text):
                surface = m.group(0)
                cached = surf_cache.get(surface)
                if cached is None:
                    norm = normalize(surface)
                    cached = (norm, infer_kind(norm))
                    if len(surf_cache) < 2_000_000:
                        surf_cache[surface] = cached
                starts.append(m.start())
                ends.append(m.end())
                surfs.append(surface)
                norms.append(cached[0])
                kinds.append(cached[1])
            t_subj, t_pred, t_obj = [], [], []
            for i in range(len(starts) - 1):
                gap_raw = text[ends[i] : starts[i + 1]]
                pred = gap_cache.get(gap_raw)
                if pred is None:
                    pred = normalize(gap_raw.strip(" .,;:!?"))
                    if len(gap_cache) < 2_000_000:
                        gap_cache[gap_raw] = pred
                if pred in predicates:
                    t_subj.append(i)
                    t_pred.append(pred)
                    t_obj.append(i + 1)
            cols["m_start"].append(starts)
            cols["m_end"].append(ends)
            cols["m_surface"].append(surfs)
            cols["m_norm"].append(norms)
            cols["m_kind"].append(kinds)
            cols["t_subj"].append(t_subj)
            cols["t_pred"].append(t_pred)
            cols["t_obj"].append(t_obj)
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
    """Unnest the flat mention arrays into one row per mention (one
    shuffle-free explode of a JVM-side arrays_zip;
    mention_id = xxhash64(conv_id, turn_idx, span_start))."""
    zipped = extracted.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.explode(
            F.arrays_zip(
                F.col("ex.m_start").alias("span_start"),
                F.col("ex.m_end").alias("span_end"),
                F.col("ex.m_surface").alias("surface"),
                F.col("ex.m_norm").alias("norm"),
                F.col("ex.m_kind").alias("kind"),
            )
        ).alias("m"),
    )
    return zipped.select(
        F.xxhash64("conv_id", "turn_idx", F.col("m.span_start")).alias("mention_id"),
        "conv_id",
        "turn_idx",
        "ts",
        F.col("m.span_start").alias("span_start"),
        F.col("m.span_end").alias("span_end"),
        F.col("m.surface").alias("surface"),
        F.col("m.norm").alias("norm"),
        F.col("m.kind").alias("kind"),
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
