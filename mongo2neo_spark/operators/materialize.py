"""Materialize stage: resolve mentions/triples through the entity
components, elect canonical names, and build the node/edge tables with
set-semantics dedup — the Spark analogue of the reference's batched
Cypher MERGE upserts (SURVEY.md §2.3 J2, §2.4 A1/A2/A4, §2.5 W3).

Canonical names and nodes come from one pair of pandas kernels,
:func:`canonical_rows` and :func:`node_rows`.  Each groups internally, so
one call over any set of whole entities is exact: the driver venue
(:func:`driver_graph_tables`) calls them once over the probed
vocabulary, and the Spark functions :func:`canonical_names` and
:func:`nodes` call them once per hash partition of the entity key.
"""

from __future__ import annotations

from typing import Callable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import rules, schemas
from . import cc as cc_mod

MAX_PROVENANCE = 20


def norm_components(mentions: DataFrame, pairs: DataFrame,
                    norms: DataFrame) -> DataFrame:
    """Canonicalization of linked norms -> (norm, entity_id:long).

    Vertices are the distinct norms in ``norms`` (a single-column frame,
    e.g. derived from the persisted LSH bands; ids = xxhash64(norm));
    edges are the scored candidate ``pairs`` above threshold; components
    come from the size-adaptive min-label CC.  Singleton norms keep their
    own id.  ``mentions`` is not scanned: the vertex and edge sets come
    from the link stage.
    """
    norms = norms.withColumn("id", F.xxhash64("norm"))
    edges = (
        pairs.select(
            F.xxhash64("a_norm").alias("src"), F.xxhash64("b_norm").alias("dst")
        )
    )
    comp = cc_mod.connected_components_auto(edges, norms.select("id"))
    return norms.join(comp, "id").select("norm", F.col("component").alias("entity_id"))


def mention_stats(mentions: DataFrame) -> DataFrame:
    """ONE pass over the mention stream -> vocabulary-sized rollup
    (norm, cnt, first_ts, last_ts), one row per norm.

    Canonical-name election AND the node table both derive from this
    aggregate, so the (huge) mention stream is scanned/shuffled exactly
    once for both — everything downstream is vocabulary-sized.  Persist
    the result when feeding multiple consumers.
    """
    return mentions.groupBy("norm").agg(
        F.count("*").alias("cnt"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def canonical_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """W3 kernel: (norm, cnt, entity_id) rows -> (entity_id, entity), per
    entity the most frequent norm, ties broken by the smallest norm."""
    return (
        pdf.sort_values(["cnt", "norm"], ascending=[False, True])
        .drop_duplicates("entity_id")[["entity_id", "norm"]]
        .rename(columns={"norm": "entity"})
    )


def node_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """A2 + W3 kernel: (norm, cnt, first_ts, last_ts, entity) rows -> node
    rows (entity, kind, n_mentions, first_ts, last_ts).  Kind is the
    majority ``rules.infer_kind`` of the entity's norms by summed count,
    ties to the smallest kind; first/last timestamps are min/max that
    skip nulls."""
    m = pdf.assign(kind=pdf["norm"].map(rules.infer_kind))
    by_kind = m.groupby(["entity", "kind"], as_index=False, dropna=False).agg(
        kcnt=("cnt", "sum")
    )
    majority = by_kind.sort_values(
        ["kcnt", "kind"], ascending=[False, True]
    ).drop_duplicates("entity")
    per_entity = m.groupby("entity", as_index=False, dropna=False).agg(
        n_mentions=("cnt", "sum"),
        first_ts=("first_ts", "min"),
        last_ts=("last_ts", "max"),
    )
    return majority.merge(per_entity, on="entity")[
        ["entity", "kind", "n_mentions", "first_ts", "last_ts"]
    ]


def driver_graph_tables(stats: pd.DataFrame, components: pd.DataFrame
                        ) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """Driver venue for a vocabulary the driver already holds: ``stats``
    are collected :func:`mention_stats` rows (norm, cnt, first_ts,
    last_ts), ``components`` the (norm, entity_id) rows.  Returns the
    (norm, entity) map and the :func:`node_rows` as pandas frames."""
    canon = canonical_rows(stats[["norm", "cnt"]].merge(components, on="norm"))
    n2e = components.merge(canon, on="entity_id")[["norm", "entity"]]
    return n2e, node_rows(stats.merge(n2e, on="norm"))


def _per_partition(df: DataFrame, key: str,
                   kernel: Callable[[pd.DataFrame], pd.DataFrame],
                   schema) -> DataFrame:
    """Spark venue of a kernel that groups by ``key`` internally: hash
    partitioning on ``key`` puts each group whole in one partition, and
    the kernel runs once over each partition's concatenated Arrow
    batches (not once per group: a pandas call per group costs more than
    the kernel's work at vocabulary size)."""
    def run(batches):
        pdfs = list(batches)
        if pdfs:
            yield kernel(pd.concat(pdfs, ignore_index=True))

    return df.repartition(key).mapInPandas(run, schema)


def canonical_names(components: DataFrame, stats: DataFrame) -> DataFrame:
    """:func:`canonical_rows` per hash partition of ``entity_id`` over the
    (persisted) :func:`mention_stats` rollup ``stats`` joined to the
    components, so the mention stream is never scanned here."""
    joined = stats.select("norm", "cnt").join(components, "norm")
    return _per_partition(joined, "entity_id", canonical_rows,
                          "entity_id long, entity string")


def norm_to_entity(components: DataFrame, canon: DataFrame) -> DataFrame:
    """norm -> canonical entity name (vocabulary-sized, broadcast-friendly)."""
    return components.join(canon, "entity_id").select("norm", "entity")


def resolve_triples(raw_triples: DataFrame, n2e: DataFrame) -> DataFrame:
    """J2: rewrite raw (subj_norm, pred, obj_norm) to canonical entities.

    The norm->entity map ``n2e`` is vocabulary-sized — broadcast both
    joins so the (huge) triple stream never shuffles here.
    """
    n2e = F.broadcast(n2e)
    return (
        raw_triples.join(
            n2e.withColumnsRenamed({"norm": "subj_norm", "entity": "subj"}),
            "subj_norm",
        )
        .join(
            n2e.withColumnsRenamed({"norm": "obj_norm", "entity": "obj"}),
            "obj_norm",
        )
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
    )


def edges(resolved: DataFrame, max_provenance: int = MAX_PROVENANCE) -> DataFrame:
    """A1: weighted edges with bounded, deterministically-ordered provenance.

    One shuffle total: the row_number window hash-partitions by the edge
    key, and the groupBy below reuses that partitioning (Catalyst plans
    no second exchange).  Weight comes free as max(row_number), and
    collect_list only keeps rows at or under the provenance cap — so a
    hot triple never materializes an unbounded list on one task
    (collect-then-slice is a memory bomb at 10^12-turn scale).
    """
    keys = ["subj", "pred", "obj"]
    w = Window.partitionBy(*keys).orderBy("conv_id", "turn_idx")
    # ONE shuffle: the window's exchange hash-partitions by the edge key,
    # so the groupBy below is partition-local (Catalyst plans no second
    # exchange) — weight comes free as max(row_number) and collect_list
    # skips the null rows beyond the cap, so provenance stays bounded
    # without a separate filtered pass + join.
    return (
        resolved.withColumn("_rn", F.row_number().over(w))
        .groupBy(*keys)
        .agg(
            F.max("_rn").cast("long").alias("weight"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rn") <= max_provenance,
                        F.struct("conv_id", "turn_idx"),
                    )
                )
            ).alias("provenance"),
        )
        .select(*keys, "weight", "provenance")
    )


def nodes(stats: DataFrame, n2e: DataFrame) -> DataFrame:
    """:func:`node_rows` per hash partition of ``entity`` over the
    vocabulary-sized :func:`mention_stats` rollup ``stats`` joined to the
    norm->entity map ``n2e``, never over the mention stream itself."""
    m = stats.join(F.broadcast(n2e), "norm")
    return _per_partition(m, "entity", node_rows, schemas.NODE_ROWS)
