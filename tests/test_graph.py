"""Graph analytics: co-occurrence edges, triangles, PageRank, k-core,
k-hop reachability, link prediction — each pinned against a brute-force
or pure-Python specification on small graphs and (where cheap) the real
sf0.001 tables."""
import itertools

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "s1 bigint, s2 bigint"
    )


# a small deliberately-lumpy graph: a 5-clique, a 4-cycle with a chord,
# a path, and an isolated edge
CLIQUE5 = list(itertools.combinations(range(5), 2))
EXTRA = [(10, 11), (11, 12), (12, 13), (10, 12),  # 4-path + chord
         (20, 21), (21, 22),                       # path
         (30, 31)]                                 # isolated edge
SMALL = CLIQUE5 + EXTRA


def _brute_triangles(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    nodes = sorted(adj)
    for x, y, z in itertools.combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                counts[v] = counts.get(v, 0) + 1
    return counts


class TestCooccurrence:
    def test_pairs_and_weights(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
             (1, "a")],  # duplicate item in group 1 must not double-count
            "g int, item string",
        )
        from mongo2neo_spark.operators.graph import cooccurrence_edges

        rows = {
            (r.s1, r.s2): r.weight
            for r in cooccurrence_edges(df, "g", "item").collect()
        }
        assert rows == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}

    def test_group_cap_drops_and_audits(self, spark):
        df = spark.createDataFrame(
            [(1, x) for x in "abcde"] + [(2, "a"), (2, "b")],
            "g int, item string",
        )
        from mongo2neo_spark.operators.graph import (
            cooccurrence_dropped_groups,
            cooccurrence_edges,
        )

        rows = cooccurrence_edges(
            df, "g", "item", max_group_items=3
        ).collect()
        assert {(r.s1, r.s2) for r in rows} == {("a", "b")}
        dropped = cooccurrence_dropped_groups(df, "g", "item", 3).collect()
        assert [(r.g, r.n_items) for r in dropped] == [(1, 5)]


class TestTriangles:
    def test_matches_brute_force(self, spark):
        from mongo2neo_spark.operators.graph import triangle_counts

        got = {
            r.node: r.n_triangles
            for r in triangle_counts(_edges_df(spark, SMALL)).collect()
        }
        assert got == _brute_triangles(SMALL)

    def test_empty_edge_frame_returns_empty(self, spark):
        from mongo2neo_spark.operators.graph import triangle_counts

        e = spark.createDataFrame([], "s1 bigint, s2 bigint")
        out = triangle_counts(e)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "n_triangles"]

    def test_clique_counts(self, spark):
        from mongo2neo_spark.operators.graph import triangle_counts

        got = {
            r.node: r.n_triangles
            for r in triangle_counts(_edges_df(spark, CLIQUE5)).collect()
        }
        # each node of K5 is in C(4,2) = 6 triangles
        assert got == {v: 6 for v in range(5)}

    def test_shuffle_venue_matches_broadcast_venue(self, spark):
        # broadcast_max_edges=0 forces the shuffle-everything plan; the
        # triangle set is venue-invariant by construction
        from mongo2neo_spark.operators.graph import triangle_counts

        e = _edges_df(spark, SMALL)
        via_bcast = {
            r.node: r.n_triangles for r in triangle_counts(e).collect()
        }
        via_shuffle = {
            r.node: r.n_triangles
            for r in triangle_counts(e, broadcast_max_edges=0).collect()
        }
        assert via_bcast == via_shuffle == _brute_triangles(SMALL)

    def test_chunked_adjacency_venue_matches(self, spark):
        # a budget that holds HALF the adjacency relation routes the
        # intersect venue through the k=2 chunked legs (k^2 pruned
        # probe passes); the per-node counts must be identical
        from mongo2neo_spark.operators.graph import (
            ADJ_INTERSECT_MAX_CHUNKS,
            BROADCAST_ADJ_ENTRY_BYTES,
            BROADCAST_ADJ_ROW_BYTES,
            BROADCAST_EDGE_ROW_BYTES,
            triangle_counts,
        )

        e = _edges_df(spark, SMALL)
        m = len(SMALL)
        n_nodes = len({x for p in SMALL for x in p})
        adj_bytes = (
            n_nodes * BROADCAST_ADJ_ROW_BYTES + m * BROADCAST_ADJ_ENTRY_BYTES
        )
        # pick a broadcast_max_edges whose byte budget yields exactly
        # 2 chunks (budget in [adj/2, adj))
        bme = next(
            b
            for b in range(1, 1000)
            if -(-adj_bytes // (b * BROADCAST_EDGE_ROW_BYTES)) == 2
        )
        assert 2 <= ADJ_INTERSECT_MAX_CHUNKS
        via_chunked = {
            r.node: r.n_triangles
            for r in triangle_counts(e, broadcast_max_edges=bme).collect()
        }
        assert via_chunked == _brute_triangles(SMALL)

    def test_degree_distribution(self, spark):
        from mongo2neo_spark.operators.graph import degree_distribution

        got = {
            r.degree: r.n_nodes
            for r in degree_distribution(_edges_df(spark, EXTRA)).collect()
        }
        # EXTRA degrees: 10:2 11:2 12:3 13:1 20:1 21:2 22:1 30:1 31:1
        assert got == {1: 5, 2: 3, 3: 1}


class TestPagerank:
    def test_replica_equality_sf0001(self, spark):
        from mongo2neo_spark import entry_oracle
        from mongo2neo_spark.operators.graph import (
            cooccurrence_edges,
            pagerank_integer,
        )

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        edges = cooccurrence_edges(
            li, "l_orderkey", "l_partkey", min_weight=2
        ).select("s1", "s2")
        got = sorted(
            (r.node, r["rank"]) for r in pagerank_integer(edges, iters=10).collect()
        )
        assert got == entry_oracle.pagerank_rows(SF, min_weight=2, iters=10)

    def test_ranks_sum_near_scale(self, spark):
        """Floor division only loses mass, so the total must stay within
        n_nodes * iters units below PAGERANK_SCALE."""
        from mongo2neo_spark.operators.graph import (
            PAGERANK_SCALE,
            pagerank_integer,
        )

        rows = pagerank_integer(_edges_df(spark, SMALL), iters=5).collect()
        total = sum(r["rank"] for r in rows)
        assert total <= PAGERANK_SCALE
        assert total > PAGERANK_SCALE - len(rows) * 5 * 40

    def test_shuffle_venue_matches_broadcast_venue(self, spark):
        # driver_max_edges=0 keeps both calls on the DISTRIBUTED path;
        # broadcast_max_nodes=0 then forces the shuffle-join plan; integer
        # arithmetic makes the two venues bit-identical, not just close
        from mongo2neo_spark.operators.graph import pagerank_integer

        e = _edges_df(spark, SMALL)
        via_bcast = sorted(
            (r.node, r["rank"])
            for r in pagerank_integer(e, iters=4, driver_max_edges=0).collect()
        )
        via_shuffle = sorted(
            (r.node, r["rank"])
            for r in pagerank_integer(
                e, iters=4, broadcast_max_nodes=0, driver_max_edges=0
            ).collect()
        )
        assert via_bcast == via_shuffle

    def test_driver_venue_matches_distributed(self, spark):
        # the numpy driver loop must be bit-identical to the distributed
        # iterate: same integer floor-division ops, order-free int sums
        from mongo2neo_spark.operators.graph import pagerank_integer

        e = _edges_df(spark, SMALL)
        via_driver = sorted(
            (r.node, r["rank"]) for r in pagerank_integer(e, iters=6).collect()
        )
        via_dist = sorted(
            (r.node, r["rank"])
            for r in pagerank_integer(e, iters=6, driver_max_edges=0).collect()
        )
        assert via_driver == via_dist

    def test_empty_edge_frame_returns_empty(self, spark):
        # n=0 must not reach the PAGERANK_SCALE // n divisions
        from mongo2neo_spark.operators.graph import pagerank_integer

        e = spark.createDataFrame([], "s1 bigint, s2 bigint")
        out = pagerank_integer(e, iters=3)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "rank"]


class TestKCore:
    def test_peels_to_known_core(self, spark):
        from mongo2neo_spark.operators.graph import k_core

        got = {
            r.node: r.degree
            for r in k_core(_edges_df(spark, SMALL), k=3).collect()
        }
        # only the 5-clique survives k=3 peeling (chordal 4-cycle's max
        # core is 2); in-core degree is 4 for every clique member
        assert got == {v: 4 for v in range(5)}

    def test_empty_core(self, spark):
        from mongo2neo_spark.operators.graph import k_core

        assert k_core(_edges_df(spark, EXTRA), k=3).count() == 0

    def test_replica_equality_sf0001(self, spark):
        from mongo2neo_spark import entry_oracle
        from mongo2neo_spark.operators.graph import (
            cooccurrence_edges,
            k_core,
        )

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        edges = cooccurrence_edges(
            li, "l_orderkey", "l_partkey", min_weight=2
        ).select("s1", "s2")
        got = sorted((r.node, r.degree) for r in k_core(edges, k=3).collect())
        assert got == entry_oracle.kcore_rows(SF, k=3, min_weight=2)


class TestKhop:
    def test_min_hop_bfs(self, spark):
        from mongo2neo_spark.operators.graph import khop_reachability

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),  # short-cut
             ("d", "a"),  # cycle back
             ("x", "y")],  # unreachable island
            "src string, dst string",
        )
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r.node: r.hop for r in khop_reachability(edges, seeds, k=3).collect()}
        assert got == {"a": 0, "b": 1, "c": 1, "d": 2}

    def test_frontier_exhaustion_stops_early(self, spark):
        from mongo2neo_spark.operators.graph import khop_reachability

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r.node: r.hop for r in khop_reachability(edges, seeds, k=10).collect()}
        assert got == {"a": 0, "b": 1}


class TestLinkPrediction:
    def test_common_neighbors_and_jaccard(self, spark):
        from mongo2neo_spark.operators.graph import link_prediction

        # star: hub h adjacent to a,b,c; plus edge a-b.
        # non-adjacent pairs with >=2 common neighbors: none (a,c and b,c
        # share only h) -> use two hubs
        pairs = [(1, 10), (1, 11), (2, 10), (2, 11), (10, 11)]
        # nodes 1,2 share neighbors {10,11}, not adjacent
        got = link_prediction(_edges_df(spark, pairs), min_common=2).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.s1, r.s2, r.n_common) == (1, 2, 2)
        # deg(1)=2, deg(2)=2, union = 2+2-2 = 2 -> jaccard 1.0 exactly
        assert r.jaccard_ppm == 1000000

    def test_adjacent_pairs_excluded(self, spark):
        from mongo2neo_spark.operators.graph import link_prediction

        got = link_prediction(_edges_df(spark, CLIQUE5), min_common=2)
        assert got.count() == 0  # clique: every candidate pair is adjacent

    def test_shuffle_venue_matches_broadcast_venue(self, spark):
        from mongo2neo_spark.operators.graph import link_prediction

        e = _edges_df(spark, SMALL + [(0, 10), (1, 10)])
        key = lambda r: (r.s1, r.s2, r.n_common, r.jaccard_ppm)  # noqa: E731
        via_bcast = sorted(key(r) for r in link_prediction(e).collect())
        via_shuffle = sorted(
            key(r)
            for r in link_prediction(e, broadcast_max_edges=0).collect()
        )
        assert via_bcast == via_shuffle and via_bcast


class TestPacking:
    def test_replica_equality_and_partition_invariance(self, spark):
        from mongo2neo_spark import entry_oracle
        from mongo2neo_spark.operators.packing import pack_sequences

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        want = entry_oracle.pack_rows(SF, budget=256, n_buckets=16)
        for parts in (1, 7):
            got = sorted(
                tuple(r) for r in pack_sequences(
                    docs.repartition(parts), budget=256, n_buckets=16
                ).collect()
            )
            assert got == want

    def test_budget_respected_and_all_docs_packed(self, spark):
        from mongo2neo_spark.operators.packing import pack_sequences

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        packed = pack_sequences(docs, budget=64, n_buckets=4)
        rows = packed.collect()
        assert len(rows) == docs.count()
        per_seq = {}
        for r in rows:
            if not r.overflow:
                key = (r.bucket, r.seq_id)
                per_seq[key] = per_seq.get(key, 0) + r.n_tokens
        assert per_seq and max(per_seq.values()) <= 64
        assert all(r.n_tokens > 64 for r in rows if r.overflow)

    def test_profile_fill(self, spark):
        from mongo2neo_spark.operators.packing import (
            pack_sequences,
            packing_profile,
        )

        docs = spark.createDataFrame(
            [(i, "w " * 10) for i in range(8)], "doc_id bigint, text string"
        )
        prof = packing_profile(
            pack_sequences(docs, budget=25, n_buckets=2), budget=25
        ).collect()
        # per bucket: 4 docs x 10 tokens -> seqs of [10+10], [10+10]:
        # 2 seqs, 40 tokens, fill = 40/50 = 800000 ppm
        assert {(r.bucket, r.n_docs, r.n_seqs, r.fill_ppm) for r in prof} == {
            (0, 4, 2, 800000), (1, 4, 2, 800000),
        }


def _lpa_replica(pairs, iters):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {u: u for u in adj}
    for _ in range(iters):
        new = {}
        for u, nbrs in adj.items():
            votes = {}
            for v in nbrs:
                votes[label[v]] = votes.get(label[v], 0) + 1
            new[u] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        label = new
    return label


class TestPackingFirstFitTree:
    """The O(log n) leftmost-fit segment tree must reproduce the linear
    first-fit scan exactly, and kill the quadratic single-bucket cost."""

    @staticmethod
    def _linear_pack(rows, budget):
        """The pre-round-6 linear-scan reference, verbatim semantics."""
        rows = sorted(rows, key=lambda r: (-r[1], r[0]))
        seq_room = []
        out = []
        for doc_id, n_tok in rows:
            if n_tok > budget:
                seq_room.append(0)
                out.append((doc_id, len(seq_room) - 1, n_tok, True))
                continue
            for s, room in enumerate(seq_room):
                if room >= n_tok:
                    seq_room[s] = room - n_tok
                    out.append((doc_id, s, n_tok, False))
                    break
            else:
                seq_room.append(budget - n_tok)
                out.append((doc_id, len(seq_room) - 1, n_tok, False))
        return sorted(out)

    @staticmethod
    def _tree_pack(rows, budget):
        import pandas as pd

        from mongo2neo_spark.operators.packing import _pack_bucket

        pdf = pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "n_tokens": [r[1] for r in rows],
                "bucket": [0] * len(rows),
            }
        )
        got = _pack_bucket(pdf, budget)
        return sorted(
            (int(r.doc_id), int(r.seq_id), int(r.n_tokens), bool(r.overflow))
            for r in got.itertuples()
        )

    def test_matches_linear_scan_on_random_inputs(self):
        import random

        rng = random.Random(1234)
        for trial in range(20):
            budget = rng.choice([16, 50, 128])
            n = rng.randrange(1, 400)
            # include 0-token docs and oversize (overflow) docs
            rows = [
                (i, rng.choice([0, 1, 2, 3, 5, 8, 13, budget,
                                budget + rng.randrange(1, 40)]))
                for i in range(n)
            ]
            assert self._tree_pack(rows, budget) == self._linear_pack(
                rows, budget
            ), (trial, budget, n)

    def test_first_fit_not_best_fit(self):
        # budget 10, docs 6,5,4: rooms after 6,5 are [4,5]; first-fit
        # puts the 4 into seq 0 (room 4), best-fit-by-capacity would
        # also pick seq 0 here, so add 3: rooms [0,1]; doc of 1 must go
        # to seq 1 (first with room>=1), proving index order wins
        rows = [(1, 6), (2, 5), (3, 4), (4, 3), (5, 1)]
        got = self._tree_pack(rows, 10)
        by_doc = {d: s for d, s, _, _ in got}
        assert by_doc == {1: 0, 2: 1, 3: 0, 4: 1, 5: 1}

    def test_single_bucket_subquadratic(self):
        # adversarial shape: no two docs ever share a sequence, so the
        # old linear scan was Θ(n²) probes (≈10⁹ at n=45k — minutes);
        # the tree packs 100k such docs in seconds and grows ~linearly
        import time

        def run(n):
            rows = [(i, 67) for i in range(n)]  # budget 100: never fits
            t0 = time.monotonic()
            out = self._tree_pack(rows, 100)
            dt = time.monotonic() - t0
            assert len(out) == n and len({s for _, s, _, _ in out}) == n
            return dt

        t_small, t_big = run(25_000), run(100_000)
        # O(n log n) predicts ~4.4x; quadratic predicts 16x.  Generous
        # noise margin, still far below quadratic growth:
        assert t_big < 10 * max(t_small, 0.05), (t_small, t_big)


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        from mongo2neo_spark.operators.graph import label_propagation

        c1 = list(itertools.combinations(range(4), 2))
        c2 = list(itertools.combinations(range(10, 14), 2))
        pairs = c1 + c2 + [(0, 10)]  # single bridge edge
        got = {
            r.node: r.community
            for r in label_propagation(_edges_df(spark, pairs), iters=5)
            .collect()
        }
        assert got == _lpa_replica(pairs, 5)
        # each clique converges to one community, and they differ
        assert len({got[v] for v in range(4)}) == 1
        assert len({got[v] for v in range(10, 14)}) == 1
        assert got[0] != got[10] or got[1] != got[11]

    def test_replica_equality_on_lumpy_graph(self, spark):
        from mongo2neo_spark.operators.graph import label_propagation

        for iters in (1, 3, 5):
            got = {
                r.node: r.community
                for r in label_propagation(
                    _edges_df(spark, SMALL), iters=iters
                ).collect()
            }
            assert got == _lpa_replica(SMALL, iters), f"iters={iters}"

    def test_shuffle_venue_matches_broadcast_venue(self, spark):
        from mongo2neo_spark.operators.graph import label_propagation

        e = _edges_df(spark, SMALL)
        via_bcast = sorted(
            (r.node, r.community) for r in label_propagation(e).collect()
        )
        via_shuffle = sorted(
            (r.node, r.community)
            for r in label_propagation(e, broadcast_max_nodes=0).collect()
        )
        assert via_bcast == via_shuffle
