"""G1: union-find canonicalization via iterative connected components
over the mention graph (SURVEY.md §2.8) — pure DataFrame ops, no
GraphFrames, no RDDs.

Algorithm: hash-min label propagation.  Every vertex starts with its own
id as label; each round every vertex takes the min label among itself
and its neighbors; stop when no label changes.  Converges in O(graph
diameter) rounds — alias-cluster components are tiny (stars around a
canonical surface form), so diameter is small; a checkpoint every round
truncates the logical plan so analysis cost stays O(1) per round
(SURVEY.md §4 'iterative-plan lineage blowup').  A graph still changing
after HASHMIN_MAX_ROUNDS_BEFORE_FALLBACK rounds goes to large-star/
small-star, whose round count does not grow with the diameter.

Determinism: min() over int64 labels has a unique fixed point — the
component id is always the minimum vertex id in the component,
independent of partitioning, task order, or cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 50
HASHMIN_MAX_ROUNDS_BEFORE_FALLBACK = 8


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """edges(src:long, dst:long) + vertices(id:long) -> (id, component).

    ``vertices`` must contain every id in ``edges`` (singletons allowed —
    they keep their own id as component).

    Hash-min propagation needs O(diameter) rounds — right for the
    shallow alias-star graphs linking produces, degenerate on long
    chains.  If round ``HASHMIN_MAX_ROUNDS_BEFORE_FALLBACK`` still sees
    changes, the graph goes to the O(log² n) large-star/small-star
    algorithm, which gets ``MAX_ITERATIONS`` rounds and raises when they
    run out — labels are never returned unconverged.
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # cache the (static) adjacency once; labels change per round
    sym = sym.repartition("src").persist()
    labels = vertices.select(F.col("id"), F.col("id").alias("label"))
    labels = _materialize(labels)
    handle = labels  # the persisted DataFrame backing `labels`

    for _ in range(HASHMIN_MAX_ROUNDS_BEFORE_FALLBACK):
        # neighbor labels: for each edge src->dst, src's label flows to dst.
        # The old label rides along (is_old tag) so one aggregation yields
        # BOTH the new min-label and the change indicator — a single
        # shuffle per round, no separate old-vs-new join.
        msgs = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "label", F.lit(False).alias("is_old")
        )
        olds = labels.select("id", "label", F.lit(True).alias("is_old"))
        agg = (
            msgs.unionByName(olds)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("is_old"), F.col("label"))).alias("old_label"),
            )
        )
        agg = _materialize(agg)
        changed = (
            agg.filter(F.col("label") != F.col("old_label")).limit(1).count()
        )
        handle.unpersist()
        handle = agg
        labels = agg.select("id", "label")
        if changed == 0:
            break
    else:
        # diameter apparently large: hand off to the round-bounded star
        # algorithm on the original edges
        handle.unpersist()
        sym.unpersist()
        return connected_components_star(edges, vertices)
    sym.unpersist()
    # the labels read the last round's checkpoint, not its cache
    handle.unpersist()
    # every vertex has a label (its own id rides along as the old one);
    # the coalesce only keeps min()'s nullable result out of the schema,
    # so every CC branch returns a not-null component for not-null ids
    return labels.select("id", F.coalesce("label", "id").alias("component"))


# ---------------------------------------------------------------------------
# large-star / small-star CC — the high-diameter fallback
# ---------------------------------------------------------------------------
def _canon(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ⁺(u))."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("mn"))
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to min(Γ≤(u))."""
    oriented = _canon(edges)  # (src=hi, dst=lo), lo < hi
    m = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    j = oriented.join(m, "src")
    return (
        j.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .unionByName(m.select("src", F.col("mn").alias("dst")))
    )


def connected_components_star(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Large-star/small-star CC (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14 — public algorithm): alternating
    star contractions converge in O(log² n) rounds REGARDLESS of graph
    diameter, where hash-min label propagation needs O(diameter) rounds.
    Use for long-chain graphs; hash-min stays cheaper for the shallow
    alias-star graphs entity linking actually produces.

    Same contract as :func:`connected_components`: min-id component
    labels, singletons keep their own id.  Raises when the edge set has
    not reached a fixed point within ``MAX_ITERATIONS`` rounds (read at
    call time).
    """
    cur = _materialize(_canon(edges))
    handle = cur
    prev_sig = None
    converged = False
    for _ in range(MAX_ITERATIONS):
        nxt = _materialize(_canon(_small_star(_large_star(cur))))
        row = nxt.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("c"),
        ).collect()[0]
        sig = (row.n, row.c)
        if sig == prev_sig:
            # the (count, hash-sum) signature is the cheap screen; confirm
            # the fixed point EXACTLY before trusting it, so the
            # correctness argument doesn't rest on a hash.  Counts are
            # equal (part of the signature), so one-directional
            # exceptAll-empty implies multiset equality; both frames are
            # checkpointed+persisted, making the diff cheap.
            if nxt.exceptAll(handle).isEmpty():
                handle.unpersist()
                handle = nxt
                cur = nxt
                converged = True
                break
        handle.unpersist()
        handle = nxt
        cur = nxt
        prev_sig = sig
    # the labels read the last round's checkpoint, not its cache
    handle.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components_star: edge set did not reach a fixed "
            f"point within {MAX_ITERATIONS} rounds (the graph needs "
            f"O(log^2 n) rounds; raise cc.MAX_ITERATIONS)"
        )
    # converged star state: every edge is (child, root) with root < child
    mapping = cur.groupBy("src").agg(F.min("dst").alias("component"))
    out = (
        vertices.join(mapping.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
    return out


DRIVER_CC_MAX_EDGES = 5_000_000


def connected_components_auto(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Size-adaptive CC — the AQE-broadcast-threshold idea applied to
    graph canonicalization.

    The mention graph's edge set is *vocabulary* metadata (distinct
    surface-form pairs), orders of magnitude smaller than the mention
    stream.  Up to ``DRIVER_CC_MAX_EDGES`` edges (read at call time) it
    is collected and union-found on the driver in one pass (exact same
    min-id semantics, ~10 driver jobs cheaper); above it, the distributed
    iterative version runs.
    """
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges > DRIVER_CC_MAX_EDGES:
        out = connected_components(edges, vertices)
        edges.unpersist()
        return out
    # Arrow transfer (toPandas), not collect(): two numpy int64 columns
    # are ~16 B/edge (~80 MB at the 5M default) where a list of Row
    # objects costs 100+ B/edge and risks driver OOM right at the
    # threshold.  Single job either way.
    pdf = edges.select("src", "dst").toPandas()
    labels = min_labels(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    edges.unpersist()
    spark = vertices.sparkSession
    if not labels:
        return vertices.select("id", F.col("id").alias("component"))
    # Arrow path back out too: a pandas frame of two int64 columns ships
    # as one Arrow batch, where a python list of tuples would serialize
    # row-by-row through py4j (measured seconds of serial driver time at
    # ~10^5 components — a fixed cost that caps scaling efficiency)
    import pandas as pd

    comp = spark.createDataFrame(
        pd.DataFrame({
            "id": pd.Series(list(labels), dtype="int64"),
            "component": pd.Series(list(labels.values()), dtype="int64"),
        }),
        schema="id long, component long",
    )
    # vertices not touched by any edge are singletons
    return (
        vertices.join(F.broadcast(comp), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def min_labels(edges) -> dict:
    """Driver union-find over ``(a, b)`` int pairs -> ``{id: component}``
    for every id whose component is not the id itself; every other id
    (a component's minimum, or an id in no edge) is its own component.
    The root of each set is its minimum id, so these are the min-id
    labels hash-min propagation converges to, whatever the edge order."""
    parent: dict = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {k: find(k) for k in parent}


def _materialize(df: DataFrame) -> DataFrame:
    """Checkpoint (reliable if a checkpoint dir is set, else local) to cut
    the iterative plan's lineage, then persist for the next round.  The
    checkpoint holds the rows by itself: a frame read after its
    ``unpersist`` reads them from there."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    return out.persist()
