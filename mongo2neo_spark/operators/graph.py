"""Graph analytics over the materialized KG / co-occurrence graphs.

The kg_construct brief's output is a node/edge graph; these operators are
the queries a user runs NEXT on that graph: co-occurrence edge
construction, triangle counting, degree profiles, bounded k-hop
reachability, PageRank, k-core decomposition, and common-neighbor link
prediction.  Everything is DataFrame-native (zero Python UDFs) and every
iterative loop cuts lineage via checkpoint + persist (same discipline as
``operators/cc.py``).

Scale design (the 100 TB story):

* **Co-occurrence edges** are built by per-group ``collect_set`` +
  JVM higher-order pair expansion — fan-out is C(group_size, 2) per
  group, so bounded group sizes (order line counts, turns per window)
  give bounded expansion with zero Python.  Unbounded groups take the
  same K3 treatment as every blocking path: an explicit cap with a
  drop-audit companion, never a silent quadratic blowup.
* **Triangle counting** uses the degree-ordered orientation (each
  undirected edge directed from its lower-(degree, id) endpoint), the
  standard trick that bounds every node's out-degree by O(sqrt(m)) so
  the wedge join never explodes on hub nodes — a plain id-ordered
  triangle join puts a celebrity node's full neighborhood on one side
  of the self-join.  The triangle SET is orientation-invariant, so the
  oracle can use the naive id ordering while the engine uses the
  skew-safe one.
* **PageRank / k-core / k-hop** are join-per-iteration algorithms: the
  adjacency list is hash-partitioned once and persisted, each iteration
  reuses that partitioning (one shuffle for the agg, none for the
  join side), and the iterate is checkpointed every few rounds so the
  plan doesn't grow linearly with iteration count.
* **Exactness**: PageRank and jaccard scores are computed in INTEGER
  micro-units (bigint ppb / ppm with floor division) so the Spark and
  pure-Python oracle sides agree bit-for-bit regardless of float
  summation order — the same fragility-class fix ``corpus_stats_by_lang``
  got in round 4 (integer math is associative; float math is not).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cc import _materialize

# ---------------------------------------------------------------------------
# Broadcast-venue memory envelope.
#
# The size-adaptive venues below broadcast edge- or node-sized relations.
# A broadcast HashedRelation costs far more than the raw column bytes:
# per row there's an UnsafeRow (two/three int64 fields + header) plus
# the LongToUnsafeRowMap slot, ~64 bytes for a 2-column bigint edge row
# and ~80 for a 3-column node row in practice.  The venue gates are
# therefore expressed as a BYTE budget per broadcast relation and
# converted to row thresholds with those widths — NOT a bare row count
# whose real memory footprint nobody computed (a 10M-edge gate means a
# >600 MB relation per executor, an OOM on modest executors even though
# results stay correct).  Per-plan peak = budget x (number of broadcast
# relations in the venue): triangle_counts broadcasts 2 edge legs,
# pagerank/label_propagation 2 node-sized sides per iterate,
# link_prediction one 2x-edge sym side (its gate counts the doubled
# rows).  Callers with big executors can raise the row thresholds
# explicitly; the defaults keep each relation <= ~256 MB.
# ---------------------------------------------------------------------------
BROADCAST_BUDGET_BYTES = 256 << 20
BROADCAST_EDGE_ROW_BYTES = 64
BROADCAST_NODE_ROW_BYTES = 80
# adjacency-list broadcast sizing (triangle intersect venue): per-node
# row overhead (UnsafeRow + map slot + array header) plus per-neighbor
# array element (8 B data + offsets/padding)
BROADCAST_ADJ_ROW_BYTES = 48
BROADCAST_ADJ_ENTRY_BYTES = 16
# the intersect venue may split the adjacency relation into hash chunks
# (k^2 pruned probe passes, each broadcasting two <=budget chunks) —
# bounded so the per-plan broadcast peak stays small and the pass count
# (k^2 pruned scans of the cached edge frame) stays trivial
ADJ_INTERSECT_MAX_CHUNKS = 2
DEFAULT_BROADCAST_MAX_EDGES = BROADCAST_BUDGET_BYTES // BROADCAST_EDGE_ROW_BYTES  # 4M rows
DEFAULT_BROADCAST_MAX_NODES = BROADCAST_BUDGET_BYTES // BROADCAST_NODE_ROW_BYTES  # ~3.3M rows


# ---------------------------------------------------------------------------
# co-occurrence edge construction
# ---------------------------------------------------------------------------
def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_weight: int = 1,
    max_group_items: int | None = None,
) -> DataFrame:
    """Undirected weighted co-occurrence edges: items appearing in the
    same group.  Returns (s1, s2, weight) with s1 < s2, weight = number
    of groups containing both.

    Pair expansion happens in JVM higher-order functions over the
    per-group sorted item set, so cost is C(|group|, 2) per group with
    no Python anywhere.  ``max_group_items`` is the K3 cap for
    unbounded group-size distributions — oversized groups are DROPPED
    from edge emission (use :func:`cooccurrence_dropped_groups` to
    audit what the cap removed).

    Physical shape (event-log-measured on a 10M-row / 45M-pair build):

    * The group agg runs on an EXPLICIT fixed-width exchange
      (``repartition(n_shuffle, group)``) instead of the groupBy's own
      AQE-sized one.  AQE sizes reduce stages by their shuffle INPUT
      bytes, but this stage's real work is the C(|group|, 2) pair
      expansion fused after the agg — input-proportional sizing
      starved it to 4-5 partitions regardless of cluster size.
    * Pair counting repartitions RAW pairs by (s1, s2) and aggregates
      after the exchange.  Map-side partial aggregation is useless on
      a co-occurrence pair stream (each group emits a pair once, so
      duplicates only meet across groups: measured reduction 45M ->
      43.9M rows) yet it builds multi-million-entry per-task hash maps
      — gigabytes of spill at small partition counts, pure cache-miss
      CPU at large.  Post-exchange the fused partial+final agg sees
      ~|distinct pairs| / n_shuffle keys per task.
    """
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    items = (
        df.repartition(n_shuffle, group_col)
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_set(item_col)).alias("_items"))
    )
    if max_group_items is not None:
        items = items.filter(F.size("_items") <= max_group_items)
    # pair expansion as two chained Generate (posexplode + explode of the
    # per-element tail slice) instead of one nested transform/flatten
    # expression: the explodes run inside whole-stage codegen while the
    # nested higher-order form builds every struct through the
    # interpreted evaluator — measured 12x faster at 12M pairs, same
    # pair multiset (s1 < s2 within the sorted item set either way)
    pairs = items.select(
        "_items", F.posexplode("_items").alias("_i", "s1")
    ).select(
        "s1",
        F.explode(
            F.expr("slice(_items, _i + 2, size(_items))")
        ).alias("s2"),
    )
    w = (
        pairs.repartition(n_shuffle, "s1", "s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    if min_weight > 1:
        w = w.filter(F.col("weight") >= min_weight)
    return w


def cooccurrence_dropped_groups(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_items: int,
) -> DataFrame:
    """Audit companion for the cap: (group, n_items) rows the cap drops."""
    return (
        df.groupBy(group_col)
        .agg(F.countDistinct(item_col).alias("n_items"))
        .filter(F.col("n_items") > max_group_items)
    )


# ---------------------------------------------------------------------------
# degrees & triangles
# ---------------------------------------------------------------------------
def node_degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) from canonical undirected (s1 < s2) edges.

    One explode pass instead of a two-branch union: the union form scans
    the edge frame twice and runs twice the partial-aggregation tasks
    (each building a full per-task node->count map); the explode emits
    the same (2m)-row node stream in a single scan.  Values identical.
    """
    return (
        edges.select(
            F.explode(F.array(F.col("s1"), F.col("s2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(degree, n_nodes) histogram over canonical undirected edges."""
    return (
        node_degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def triangle_counts(
    edges: DataFrame,
    broadcast_max_edges: int = DEFAULT_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Per-node triangle counts over canonical undirected (s1 < s2) edges.

    Degree-ordered orientation: every undirected edge is directed from
    its lower-(degree, node) endpoint to the higher one; under that
    total order the oriented graph is a DAG in which each triangle
    {x, y, z} appears exactly once as the path x→y→z closed by x→z, and
    every node's out-degree is O(sqrt(m)) — the hub-node wedge
    explosion a naive id-ordered join suffers cannot happen.  The
    triangle SET (and therefore each node's count) is identical under
    any orientation, which is what the id-ordered SQL oracle checks.

    Venue choice (size-adaptive, same discipline as the pipeline's link
    venues).  ``broadcast_max_edges`` expresses a per-relation broadcast
    BYTE budget (``broadcast_max_edges * BROADCAST_EDGE_ROW_BYTES``,
    256 MB at the default — see BROADCAST_BUDGET_BYTES):

    * **Adjacency-intersect venue** (estimated oriented-adjacency
      relation fits the budget: ``n_nodes * BROADCAST_ADJ_ROW_BYTES +
      m * BROADCAST_ADJ_ENTRY_BYTES`` bytes; two probes broadcast the
      same node-keyed relation, so the per-plan peak is 2x the budget).
      The out-neighbor SET of every node is collected once
      (one m-row exchange), broadcast, and every oriented edge
      (lo, hi) counts ``array_intersect(N+(lo), N+(hi))`` map-side —
      each element is exactly one closed triangle.  The wedge stream
      (O(sum out_deg^2) rows — 413M rows for the 12M-edge sf1.0
      co-occurrence graph, vs 12M actual edge rows) NEVER exists, not
      even transiently: the old broadcast-both-legs plan still streamed
      every wedge through the closing probe, and the shuffle plan wrote
      and sorted all of them between two exchanges.  Per-node counts
      come from ONE explode of a per-edge contribution array
      ((lo, |I|), (hi, |I|), one (w, 1) per intersection element w) so
      the join subtree is never duplicated; the explode emits one row
      per TRIANGLE, the theoretical minimum for per-node counting.
      Degree-ordered orientation still does the skew work: it bounds
      every broadcast array at O(sqrt(m)) entries and minimizes the
      total intersect cost.
    * **Shuffle wedge-join fallback** above the budget: the classic
      e1 ⋈ e2 ⋈ e3 sort-merge plan stands — at that scale the adjacency
      relation no longer fits executor memory, and any shuffled variant
      that attaches neighbor arrays to edges would move O(wedges) bytes
      again (the guide-§8 "join sneaks the shuffle back in" trap), so
      sorting the wedge stream is the right physics.  Callers with big
      executors raise ``broadcast_max_edges`` to widen the venue.

    The canonical edge set feeds the degree agg plus every orientation
    re-derivation, so it is checkpointed once — without that, an
    unpersisted upstream (e.g. a co-occurrence build) would be
    recomputed several times, which at scale costs more than the
    triangle work itself.  The node-sized degree map is checkpointed
    (two broadcast legs) and broadcasts below
    DEFAULT_BROADCAST_MAX_NODES, making orientation a map-side
    transform with zero edge-stream exchange.  The returned per-node
    counts are checkpoint-backed (same convention as
    connected_components); intermediates are released before return.
    """
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # (s1, s2)-hash repartition before the checkpoint: canonical edges
    # are distinct, so the full-key hash spreads evenly (no hub-node hot
    # key, no round-robin pre-sort), and the checkpointed partition
    # count pins every downstream map stage — including the CPU-heavy
    # intersect probe, which runs directly over this cache — at session
    # shuffle width even when the caller hands in a few-partition frame.
    und = _materialize(
        edges.select("s1", "s2").repartition(n_shuffle, "s1", "s2")
    )
    m = und.count()
    if m == 0:
        und.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "node bigint, n_triangles bigint"
        )
    deg = _materialize(node_degrees(und))
    n_nodes = deg.count()
    d1 = deg.select(
        F.col("node").alias("s1"), F.col("degree").alias("_d1")
    )
    d2 = deg.select(
        F.col("node").alias("s2"), F.col("degree").alias("_d2")
    )
    if n_nodes <= DEFAULT_BROADCAST_MAX_NODES:
        d1, d2 = F.broadcast(d1), F.broadcast(d2)
    # orient each edge by (degree, node): lo -> hi.  With the degree map
    # broadcast this is a pure map-side transform of the und cache — it
    # is deliberately NOT checkpointed: its two consumers (adjacency
    # build, intersect probe) each re-derive it with two broadcast-hash
    # probes over cached rows, far cheaper than writing and re-reading a
    # 12M-row checkpoint (measured; checkpoint also erases the SQL-level
    # partitioning, so materializing it buys no exchange reuse anyway).
    lower_first = (F.col("_d1") < F.col("_d2")) | (
        (F.col("_d1") == F.col("_d2")) & (F.col("s1") < F.col("s2"))
    )
    # node-id narrowing: when every id fits int32, the intersect venue
    # runs its adjacency arrays, broadcast relations, and per-edge hash
    # probes at half the bytes (measured ~15-20% off the probe stage;
    # checksums identical).  The bounds read comes off the cached
    # node-sized degree frame; output ids are cast back to long.
    bounds = deg.agg(
        F.min("node").alias("_mn"), F.max("node").alias("_mx")
    ).first()
    fits_int = (
        bounds["_mn"] is not None
        and bounds["_mn"] >= -(2**31)
        and bounds["_mx"] < 2**31
    )
    id_t = "int" if fits_int else "bigint"
    oriented = (
        und.join(d1, "s1")
        .join(d2, "s2")
        .select(
            F.when(lower_first, F.col("s1")).otherwise(F.col("s2"))
            .cast(id_t).alias("lo"),
            F.when(lower_first, F.col("s2")).otherwise(F.col("s1"))
            .cast(id_t).alias("hi"),
        )
    )
    budget_bytes = broadcast_max_edges * BROADCAST_EDGE_ROW_BYTES
    adj_bytes = (
        n_nodes * BROADCAST_ADJ_ROW_BYTES + m * BROADCAST_ADJ_ENTRY_BYTES
    )
    n_chunks = (
        -(-adj_bytes // budget_bytes) if budget_bytes > 0 else None
    )
    if n_chunks is not None and n_chunks <= ADJ_INTERSECT_MAX_CHUNKS:
        # one m-row exchange + agg, materialized ONCE: every broadcast
        # probe below reads this cache — without it each BroadcastExchange
        # would re-run the whole adjacency aggregation (no exchange reuse
        # across the differently-aliased subtrees, observed in the plan)
        adj = _materialize(
            oriented.groupBy("lo").agg(F.collect_set("hi").alias("_nb"))
        )
        sz = F.size("_c").cast("long")
        contribs = F.concat(
            F.array(
                F.struct(F.col("lo").cast("long").alias("node"),
                         sz.alias("n")),
                F.struct(F.col("hi").cast("long").alias("node"),
                         sz.alias("n")),
            ),
            F.transform(
                "_c",
                lambda w: F.struct(
                    w.cast("long").alias("node"),
                    F.lit(1).cast("long").alias("n"),
                ),
            ),
        )

        # chunked middle venue: when the adjacency outgrows ONE budgeted
        # relation but fits ADJ_INTERSECT_MAX_CHUNKS of them, split the
        # node space into k deterministic hash chunks and run the same
        # probe as k^2 legs — leg (i, j) filters the cached edge frame
        # to lo-chunk i / hi-chunk j map-side and broadcasts only those
        # two adjacency chunks.  Chunks partition the nodes, so every
        # edge lands in exactly one leg and the union is the exact
        # per-edge intersect stream of the single-relation venue.
        def _chunk(c):
            return F.pmod(F.xxhash64(c.cast("long")), F.lit(n_chunks))

        def _leg(i, j):
            e, ai, aj = oriented, adj, adj
            if n_chunks > 1:
                e = e.filter(
                    (_chunk(F.col("lo")) == i) & (_chunk(F.col("hi")) == j)
                )
                ai = adj.filter(_chunk(F.col("lo")) == i)
                aj = adj.filter(_chunk(F.col("lo")) == j)
            return (
                e.join(
                    F.broadcast(
                        ai.select(
                            F.col("lo").alias("_la"),
                            F.col("_nb").alias("_nba"),
                        )
                    ),
                    F.col("lo") == F.col("_la"),
                )
                .join(
                    F.broadcast(
                        aj.select(
                            F.col("lo").alias("_lb"),
                            F.col("_nb").alias("_nbb"),
                        )
                    ),
                    F.col("hi") == F.col("_lb"),
                )
                .select(
                    "lo", "hi", F.array_intersect("_nba", "_nbb").alias("_c")
                )
                .filter(F.size("_c") > 0)
                .select(F.explode(contribs).alias("_e"))
                .select(
                    F.col("_e.node").alias("node"), F.col("_e.n").alias("n")
                )
            )

        from functools import reduce

        agg_in = reduce(
            DataFrame.unionAll,
            [_leg(i, j) for i in range(n_chunks) for j in range(n_chunks)],
        )
        out = _materialize(
            agg_in.groupBy("node").agg(F.sum("n").alias("n_triangles"))
        )
        adj.unpersist()
    else:
        # the wedge plan feeds oriented to THREE join legs — materialize
        # it once here (the intersect venue derives it map-side instead)
        oriented_m = _materialize(oriented.repartition(n_shuffle))
        e1 = oriented_m.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        e2 = oriented_m.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
        e3 = oriented_m.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        out = _materialize(
            tri.select(
                F.explode(
                    F.array(F.col("a"), F.col("b"), F.col("c"))
                    .cast("array<bigint>")
                ).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        oriented_m.unpersist()
    und.unpersist()
    deg.unpersist()
    return out


# ---------------------------------------------------------------------------
# bounded k-hop reachability
# ---------------------------------------------------------------------------
def khop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Directed min-hop reachability within k hops of a seed set.

    Returns (node, hop) with hop = the MINIMUM number of edges from any
    seed (seeds themselves at hop 0).  Classic frontier BFS as k
    DataFrame joins: each round joins only the NEW frontier against the
    adjacency (pre-partitioned on src and persisted once — the join
    side never reshuffles), anti-joins the visited set, and
    checkpoints.  k is small and fixed, so the plan is k joins deep at
    most; visited stays partitioned by node.
    """
    adj = _materialize(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
        .distinct()
        .repartition("_src")
    )
    visited = _materialize(
        seeds.select(F.col(node_col).alias("node")).distinct()
        .withColumn("hop", F.lit(0).cast("int"))
    )
    frontier = visited
    for i in range(1, k + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["_src"])
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(i).cast("int"))
        )
        nxt = _materialize(nxt)
        if nxt.isEmpty():
            nxt.unpersist()
            break
        old_visited, old_frontier = visited, frontier
        visited = _materialize(visited.unionByName(nxt))
        frontier = nxt
        old_visited.unpersist()
        if old_frontier is not old_visited:
            old_frontier.unpersist()
    if frontier is not visited:
        frontier.unpersist()
    adj.unpersist()
    # the final iterate is checkpoint-backed (lineage-free), so it stays
    # valid after the adjacency handle is released — same return shape
    # as connected_components
    return visited


# ---------------------------------------------------------------------------
# integer-exact PageRank
# ---------------------------------------------------------------------------
PAGERANK_SCALE = 10**12  # bigint rank units; headroom: 17 * 10^12 << 2^63

# Driver-venue gate, same Arrow-transfer budget class as
# cc.DRIVER_CC_MAX_EDGES but lower: PageRank is ``iters`` scatter-add
# passes over the doubled edge array (vs union-find's single pass), so
# the driver CPU break-even sits earlier than the CC venue's.  2M edges
# is ~32 MB of Arrow int64 columns and a few seconds of numpy at worst.
DRIVER_PAGERANK_MAX_EDGES = 2_000_000


def _pagerank_driver(edges_pdf, iters, damping_num, damping_den):
    """Exact integer PageRank over a collected edge list — numpy int64
    floor-division arithmetic, value-identical to the distributed
    iterate (and to the pure-Python oracle replica): every operation is
    the same integer op, and integer scatter-adds are order-independent.
    Returns (nodes int64 array, ranks int64 array)."""
    import numpy as np

    s1 = edges_pdf["s1"].to_numpy(dtype="int64")
    s2 = edges_pdf["s2"].to_numpy(dtype="int64")
    src = np.concatenate([s1, s2])
    dst = np.concatenate([s2, s1])
    nodes, src_idx = np.unique(src, return_inverse=True)
    n = len(nodes)
    dst_idx = np.searchsorted(nodes, dst)
    deg = np.bincount(src_idx, minlength=n).astype(np.int64)
    base = ((damping_den - damping_num) * PAGERANK_SCALE) // (
        damping_den * n
    )
    rank = np.full(n, PAGERANK_SCALE // n, dtype=np.int64)
    num = np.int64(damping_num)
    den = np.int64(damping_den)
    for _ in range(iters):
        c = (num * rank) // (den * deg)
        incoming = np.zeros(n, dtype=np.int64)
        np.add.at(incoming, dst_idx, c[src_idx])
        rank = base + incoming
    return nodes, rank


def pagerank_integer(
    edges: DataFrame,
    iters: int = 10,
    damping_num: int = 17,
    damping_den: int = 20,
    broadcast_max_nodes: int = DEFAULT_BROADCAST_MAX_NODES,
    driver_max_edges: int = DRIVER_PAGERANK_MAX_EDGES,
) -> DataFrame:
    """PageRank over the UNDIRECTED graph in exact integer arithmetic.

    Ranks live in bigint units of 1/PAGERANK_SCALE; the damped
    contribution of u to each neighbor is
    ``(damping_num * r_u) div (damping_den * deg_u)`` (floor division)
    and the teleport term is ``((den-num) * SCALE) div (den * n)`` —
    every operation is integer, so sums are order-independent and the
    pure-Python oracle matches bit-for-bit (float PageRank would hash-
    mismatch on summation order alone).  Undirected = symmetric
    adjacency, so there are no dangling nodes to special-case.

    Scale: adjacency is hash-partitioned on src once (AQE-sized, with
    the parallelismFirst floor guaranteeing at least cluster
    parallelism) and persisted.  When the node
    count fits a broadcast (``n <= broadcast_max_nodes``,
    byte-budgeted via BROADCAST_NODE_ROW_BYTES; rank + degree sides
    make the per-iterate peak 2x the budget) the per-iteration rank
    and degree joins broadcast the
    node-sized side — each round is then ONE scan of the persisted
    adjacency plus the contribution aggregation, whose map-side
    partial agg reduces edge-count rows to node-count rows (the
    high-REDUCTION regime where partial aggregation belongs).  Above
    the threshold the shuffle joins stand.  The iterate is
    checkpointed so the plan stays O(1) deep.  Default damping
    17/20 = 0.85.
    """
    spark = edges.sparkSession
    # driver venue (same discipline as cc.connected_components_auto):
    # the edge set is persisted, counted, and — when it fits the Arrow
    # budget — shipped as two int64 columns and iterated in numpy.  Ten
    # distributed rounds on a small graph are pure fixed cost (each
    # round = a checkpoint job + a broadcast build); the driver loop is
    # the identical integer arithmetic (floor division, order-free
    # integer sums), so results are bit-for-bit the same — which the
    # pure-Python oracle for pagerank_parts checks end-to-end.
    edges = edges.persist()
    m = edges.count()
    if m == 0:
        edges.unpersist()
        return spark.createDataFrame([], "node bigint, rank bigint")
    if m <= driver_max_edges:
        import pandas as pd

        pdf = edges.select("s1", "s2").toPandas()
        edges.unpersist()
        nodes, rank = _pagerank_driver(pdf, iters, damping_num, damping_den)
        return spark.createDataFrame(
            pd.DataFrame({"node": nodes, "rank": rank}),
            "node bigint, rank bigint",
        )
    sym = edges.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionAll(
        edges.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    # AQE-sized exchange on purpose: a persisted frame scanned every
    # iteration wants byte-proportional partitions with the
    # parallelismFirst floor (= cluster parallelism), not the full
    # session shuffle width — 128 partitions of a few-MB adjacency
    # turns each of the iters scans into pure task-launch overhead
    adj = _materialize(sym.repartition("src"))
    edges.unpersist()
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    if n == 0:
        # empty graph: no nodes to rank; the base/initial-rank integer
        # divisions below would raise ZeroDivisionError
        adj.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "node bigint, rank bigint"
        )
    bcast = n <= broadcast_max_nodes
    # in the broadcast venue the rank table is node-sized and driver-
    # known-small, but localCheckpoint materializes at the full shuffle
    # width (it bypasses AQE's final-stage coalescing) — narrow each
    # iterate to cluster parallelism so the per-iteration checkpoint is
    # cores tasks, not shuffle-width tasks over a few thousand rows
    dp = edges.sparkSession.sparkContext.defaultParallelism
    _narrow = (lambda d: d.coalesce(dp)) if bcast else (lambda d: d)
    base = ((damping_den - damping_num) * PAGERANK_SCALE) // (
        damping_den * n
    )
    ranks = _materialize(
        _narrow(
            deg.select(
                F.col("src").alias("node"),
                "deg",
                F.lit(PAGERANK_SCALE // n).cast("bigint").alias("rank"),
            )
        )
    )
    for _ in range(iters):
        rside = F.broadcast(ranks) if bcast else ranks
        contrib = (
            adj.join(rside, adj["src"] == ranks["node"])
            .select(
                "dst",
                F.expr(
                    f"({damping_num}L * rank) div ({damping_den}L * deg)"
                ).alias("c"),
            )
        )
        new_ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("_in"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base).cast("bigint") + F.col("_in")).alias("rank"),
            )
        )
        old = ranks
        dside = deg.select(F.col("src").alias("node"), "deg")
        ranks = _materialize(
            _narrow(
                new_ranks.join(F.broadcast(dside) if bcast else dside, "node")
            )
        )
        old.unpersist()
    adj.unpersist()
    # checkpoint-backed final iterate; safe after adj release
    return ranks.select("node", "rank")


# ---------------------------------------------------------------------------
# k-core decomposition (fixed k)
# ---------------------------------------------------------------------------
def k_core(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core (maximal subgraph with all degrees >= k),
    with each node's degree WITHIN the core.  Iterative peeling: drop
    nodes of degree < k, recompute degrees on the induced subgraph,
    repeat until stable — the k-core is unique, so peeling order
    doesn't matter and the pure-Python oracle is exact.

    Each round is two semi-joins (edge endpoints against the surviving
    node set) + one degree aggregation, checkpointed; rounds are
    bounded by the graph's degeneracy ordering depth (logarithmic-ish
    in practice, never more than n).
    """
    cur = _materialize(edges.select("s1", "s2"))
    while True:
        deg = node_degrees(cur)
        keep = deg.filter(F.col("degree") >= k).select("node")
        n_before = cur.count()
        nxt = (
            cur.join(
                keep.select(F.col("node").alias("s1")), "s1", "left_semi"
            ).join(
                keep.select(F.col("node").alias("s2")), "s2", "left_semi"
            )
        )
        nxt = _materialize(nxt.select("s1", "s2"))
        n_after = nxt.count()
        old = cur
        cur = nxt
        old.unpersist()
        if n_after == n_before:
            break
    # final induced subgraph is checkpoint-backed; degrees computed on it
    # are exactly the in-core degrees (all >= k once stable)
    return node_degrees(cur).filter(F.col("degree") >= k)


# ---------------------------------------------------------------------------
# common-neighbor / jaccard link prediction
# ---------------------------------------------------------------------------
def link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    broadcast_max_edges: int = DEFAULT_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Non-adjacent node pairs ranked by shared neighbors.

    Returns (s1, s2, n_common, jaccard_ppm) for pairs with >= min_common
    common neighbors and NO existing edge — the classic common-neighbor
    link-prediction candidate set over a co-occurrence graph.
    jaccard_ppm = floor(1e6 * |N(a) ∩ N(b)| / |N(a) ∪ N(b)|) in exact
    integer arithmetic.

    The wedge join (two edges sharing a midpoint) is the only expansion
    and is the same O(sum deg^2) shape as triangle counting; feed it a
    weight-thresholded co-occurrence graph (min_weight >= 2) so hub
    midpoints are already pruned, and the anti-join against the edge
    set removes adjacent pairs before any scoring work.

    The edge set feeds FIVE legs (two sym branches, the anti-join, two
    degree union branches), so the canonical edges are checkpointed
    once and released before return — same rationale as
    :func:`triangle_counts`.  The result is checkpoint-backed.
    """
    und = _materialize(edges.select("s1", "s2"))
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # the broadcast side is the SYMMETRIZED frame (2m rows), so the
    # byte-budget gate counts the doubled rows, not the canonical m
    bcast = 2 * und.count() <= broadcast_max_edges
    sym = und.select(
        F.col("s1").alias("mid"), F.col("s2").alias("end")
    ).unionAll(
        und.select(F.col("s2").alias("mid"), F.col("s1").alias("end"))
    )
    w1 = sym.select("mid", F.col("end").alias("a"))
    w2 = sym.select("mid", F.col("end").alias("b"))
    # wedge pairs are near-distinct, so map-side partial aggregation is
    # the same pathology as the co-occurrence pair count: repartition the
    # raw wedge stream on its keys and aggregate after the exchange (see
    # cooccurrence_edges).  When the edge set fits a broadcast, the wedge
    # join side broadcasts too and wedge generation is one scan stage.
    wedges = (
        w1.join(F.broadcast(w2) if bcast else w2, "mid")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("s1"), F.col("b").alias("s2"))
        .repartition(n_shuffle, "s1", "s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    non_adjacent = wedges.join(und, ["s1", "s2"], "left_anti")
    deg = node_degrees(und)
    out = _materialize(
        non_adjacent.join(
            deg.select(F.col("node").alias("s1"), F.col("degree").alias("_da")),
            "s1",
        )
        .join(
            deg.select(F.col("node").alias("s2"), F.col("degree").alias("_db")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "n_common",
            F.expr(
                "(1000000L * n_common) div (_da + _db - n_common)"
            ).alias("jaccard_ppm"),
        )
    )
    und.unpersist()
    return out


# ---------------------------------------------------------------------------
# community detection: synchronous label propagation
# ---------------------------------------------------------------------------
def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    broadcast_max_nodes: int = DEFAULT_BROADCAST_MAX_NODES,
) -> DataFrame:
    """Community labels by SYNCHRONOUS label propagation (Raghavan et
    al. 2007), made fully deterministic: every node starts with its own
    id as label, and each round simultaneously adopts the label that is
    most frequent among its neighbors, ties broken by SMALLEST label.
    Fixed ``iters`` rounds (no convergence test — synchronous LPA can
    oscillate on bipartite structures, and a fixed round count is what
    makes the pure-Python replica an exact oracle).

    All arithmetic is integer (labels are node ids, votes are counts),
    so Spark and the oracle agree bit-for-bit; the min-label tie-break
    is expressed as ``max(struct(votes, -label))`` — one aggregation,
    no window.

    Scale: same venue discipline as :func:`pagerank_integer` — the
    adjacency is hash-partitioned once and persisted; the node-sized
    label table broadcasts below ``broadcast_max_nodes``, making each
    round one scan of the persisted adjacency plus the vote counting.
    The (node, neighbor-label) vote stream is near-distinct in EARLY
    rounds (labels start unique, so map-side partial aggregation would
    build per-task hash maps for ~zero reduction — the
    cooccurrence_edges pathology) and only becomes reducible once
    communities coalesce; the raw votes are therefore repartitioned on
    their full key and aggregated post-exchange, sizing for the
    worst-case round.  The iterate is checkpointed so the plan stays
    O(1) deep.
    """
    sym = edges.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionAll(
        edges.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    adj = _materialize(sym.repartition("src"))
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    nodes = adj.select("src").distinct()
    n = nodes.count()
    bcast = n <= broadcast_max_nodes
    dp = edges.sparkSession.sparkContext.defaultParallelism
    _narrow = (lambda d: d.coalesce(dp)) if bcast else (lambda d: d)
    labels = _materialize(
        _narrow(nodes.select(F.col("src").alias("node"),
                             F.col("src").alias("label")))
    )
    for _ in range(iters):
        lside = F.broadcast(labels) if bcast else labels
        votes = adj.join(lside, adj["dst"] == labels["node"]).select(
            "src", "label"
        )
        new_labels = (
            votes.repartition(n_shuffle, "src", "label")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("_votes"))
            .groupBy("src")
            .agg(
                F.max(
                    F.struct(F.col("_votes"), (-F.col("label")).alias("_neg"))
                ).alias("_best")
            )
            .select(
                F.col("src").alias("node"),
                (-F.col("_best._neg")).alias("label"),
            )
        )
        old = labels
        labels = _materialize(_narrow(new_labels))
        old.unpersist()
    adj.unpersist()
    return labels.select("node", F.col("label").alias("community"))
