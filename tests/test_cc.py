"""G1 connected components: known graphs + a randomized graph vs
union-find, and determinism across partitioning."""

import random

import pytest


def _cc(spark, edges, vertices):
    from mongo2neo_spark.operators.cc import connected_components

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return {
        r.id: r.component for r in connected_components(e, v).collect()
    }


def test_chain(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_star(spark):
    got = _cc(spark, [(10, 2), (10, 3), (10, 4)], [2, 3, 4, 10])
    assert set(got.values()) == {2}


def test_two_components_and_singleton(spark):
    got = _cc(spark, [(1, 2), (5, 6)], [1, 2, 5, 6, 9])
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 9: 9}


def test_no_edges(spark):
    got = _cc(spark, [], [3, 7])
    assert got == {3: 3, 7: 7}


def _cc_star(spark, edges, vertices):
    from mongo2neo_spark.operators.cc import connected_components_star

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return {
        r.id: r.component for r in connected_components_star(e, v).collect()
    }


def test_star_algorithm_known_graphs(spark):
    assert _cc_star(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4]) == {
        1: 1, 2: 1, 3: 1, 4: 1,
    }
    assert _cc_star(spark, [(1, 2), (5, 6)], [1, 2, 5, 6, 9]) == {
        1: 1, 2: 1, 5: 5, 6: 5, 9: 9,
    }
    assert _cc_star(spark, [], [3, 7]) == {3: 3, 7: 7}


def test_star_algorithm_long_chain_10k(spark):
    """A 10k-node chain: hash-min needs ~10k rounds (degenerate);
    large-star/small-star converges in O(log² n) — assert it finishes
    within the default round budget and labels everything with min id."""
    n = 10_000
    got = _cc_star(spark, [(i, i + 1) for i in range(n - 1)], list(range(n)))
    assert got == {i: 0 for i in range(n)}


def test_star_algorithm_random_vs_union_find(spark):
    import random as _r

    rng = _r.Random(7)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(250)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # root -> min member (first seen while scanning ids ascending)
    comp_min = {}
    for x in range(n):
        comp_min.setdefault(find(x), x)
    ref = {x: comp_min[find(x)] for x in range(n)}
    assert _cc_star(spark, edges, list(range(n))) == ref


def test_star_algorithm_raises_when_rounds_run_out(spark, monkeypatch):
    """Out of rounds, the star algorithm raises rather than return
    unconverged labels: one round can never confirm a fixed point (that
    takes two equal rounds in a row), so a budget of 1 always raises."""
    from mongo2neo_spark.operators import cc

    monkeypatch.setattr(cc, "MAX_ITERATIONS", 1)
    with pytest.raises(RuntimeError, match="within 1 rounds"):
        _cc_star(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4])


def test_hashmin_falls_back_to_star_on_chain(spark, monkeypatch):
    """A chain longer than HASHMIN_MAX_ROUNDS_BEFORE_FALLBACK rounds of
    hash-min can cover is handed to the star algorithm, which returns
    min-id labels — never the unconverged hash-min labels."""
    from mongo2neo_spark.operators import cc

    calls, star = [], cc.connected_components_star

    def spy(*args):
        calls.append(args)
        return star(*args)

    monkeypatch.setattr(cc, "connected_components_star", spy)
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(n - 1)], list(range(n)))
    assert got == {i: 0 for i in range(n)}
    assert len(calls) == 1


def test_random_graph_vs_union_find(spark):
    rng = random.Random(42)
    n = 500
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize union-find labels to min member per component
    comp_min = {}
    for x in range(n):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    ref = {x: comp_min[find(x)] for x in range(n)}
    got = _cc(spark, [(a, b) for a, b in edges], list(range(n)))
    assert got == ref


def test_min_labels_random_graph_vs_union_find():
    """The driver union-find both driver venues share (link's vocabulary
    linking and connected_components_auto) gives min-id labels in any
    edge order; ids it leaves out are their own component."""
    from mongo2neo_spark.operators.cc import min_labels

    rng = random.Random(42)
    n = 500
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ref = {x: find(x) for x in range(n)}
    for order in (edges, edges[::-1], sorted(edges, key=lambda e: -max(e))):
        labels = min_labels(order)
        assert {x: labels.get(x, x) for x in range(n)} == ref


def test_component_not_null_on_every_branch(spark, monkeypatch):
    """With not-null vertex and edge ids (xxhash64 in the pipeline), every
    CC branch — hash-min, star, and connected_components_auto's driver
    and distributed venues — returns the same min-id labels in a not-null
    ``component``, so a components table has one schema whichever
    branch ran."""
    from pyspark.sql import functions as F

    from mongo2neo_spark.operators import cc

    v = spark.range(1, 8)  # id long not null; 7 is a singleton
    e = spark.range(1, 6).filter("id != 4").select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )  # 1-2-3-4 and 5-6
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}
    outs = [
        ("hashmin", cc.connected_components(e, v)),
        ("star", cc.connected_components_star(e, v)),
        ("auto_driver", cc.connected_components_auto(e, v)),
    ]
    monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)
    outs.append(("auto_distributed", cc.connected_components_auto(e, v)))
    for name, out in outs:
        assert not out.schema["component"].nullable, name
        assert {r.id: r.component for r in out.collect()} == want, name


def test_round_checkpoints_are_deleted_once_unreferenced(spark):
    """Every hash-min round writes a reliable checkpoint; once the frames
    that read them are dropped and the JVM has collected them, the
    context cleaner deletes their rdd-* directories."""
    import gc
    import time
    from pathlib import Path
    from urllib.parse import urlparse

    from mongo2neo_spark.operators.cc import connected_components

    sc = spark.sparkContext
    ckpt = Path(urlparse(sc.getCheckpointDir()).path)

    def rdd_dirs():
        return set(ckpt.glob("rdd-*"))

    before = rdd_dirs()
    e = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(7)], "id long")
    out = connected_components(e, v)
    assert {r.component for r in out.collect()} == {0}
    made = rdd_dirs() - before
    assert made  # the rounds did checkpoint
    del e, v, out
    deadline = time.monotonic() + 20
    while made & rdd_dirs() and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)
    assert not made & rdd_dirs()
