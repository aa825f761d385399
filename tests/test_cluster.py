"""Connected-components duplicate clustering (operators/cluster.py)."""

from pyspark.sql import functions as F

from logging_spark.operators.cluster import duplicate_clusters, keep_canonical

PAIRS_SCHEMA = "doc_a long, doc_b long"


def _clusters(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, PAIRS_SCHEMA)
    return {(r["doc_id"], r["canonical_id"])
            for r in duplicate_clusters(df, **kw).collect()}


def test_two_components(spark):
    got = _clusters(spark, [(1, 2), (2, 3), (7, 9), (4, 1)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (9, 7)}


def test_chain_converges_past_diameter(spark):
    # a 12-node path: plain neighbor propagation needs 11 rounds;
    # pointer jumping must close it well inside max_iter
    chain = [(i, i + 1) for i in range(12)]
    got = _clusters(spark, chain, max_iter=6)
    assert got == {(i, 0) for i in range(13)}


def test_clique_and_singleton_pair(spark):
    clique = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    got = _clusters(spark, clique + [(100, 200)])
    assert got == {(i, 20) for i in range(20, 25)} | {(100, 100), (200, 100)}


def test_orientation_invariance(spark):
    # pair order must not matter (edges are symmetrized inside)
    got_fwd = _clusters(spark, [(1, 5), (5, 9)])
    got_rev = _clusters(spark, [(9, 5), (5, 1)])
    assert got_fwd == got_rev == {(1, 1), (5, 1), (9, 1)}


def test_keep_canonical(spark):
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    clusters = duplicate_clusters(
        spark.createDataFrame([(0, 3), (3, 5)], PAIRS_SCHEMA))
    kept = {r["doc_id"] for r in keep_canonical(corpus, clusters).collect()}
    # cluster {0,3,5} -> keep 0; untouched docs 1,2,4 stay
    assert kept == {0, 1, 2, 4}


import pytest

# every topology must give identical answers on BOTH tiers: the driver
# union-find fast path (default: small pair graphs) and the distributed
# label-propagation loop (max_driver_edges=0 forces it)
@pytest.mark.parametrize("tier", [{}, {"max_driver_edges": 0}],
                         ids=["driver", "distributed"])
def test_tiers_agree_on_mixed_topology(spark, tier):
    pairs = ([(i, i + 1) for i in range(8)]            # chain
             + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
             + [(100, 200), (50, 40)])                 # pairs (one reversed)
    got = _clusters(spark, pairs, **tier)
    want = ({(i, 0) for i in range(9)}
            | {(i, 20) for i in range(20, 24)}
            | {(100, 100), (200, 100), (40, 40), (50, 40)})
    assert got == want


def test_graph_summary_counts_triangles_once(spark):
    from logging_spark.operators.cluster import graph_summary
    # K4 on {0,1,2,3} (4 triangles) + a chain 10-11-12 (0 triangles)
    pairs = ([(a, b) for a in range(4) for b in range(a + 1, 4)]
             + [(10, 11), (11, 12)])
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    r = graph_summary(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (7, 8, 4)


def test_graph_summary_dedups_pair_multiplicity(spark):
    from logging_spark.operators.cluster import graph_summary
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long")
    r = graph_summary(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)


def test_label_propagation_splits_bridged_cliques(spark):
    from logging_spark.operators.cluster import label_propagation
    # two K4 cliques {0..3} and {10..13} joined by ONE bridge edge —
    # connected components would merge them; LPA majority dynamics
    # keep two communities
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    pairs = spark.createDataFrame(k4a + k4b + [(3, 10)],
                                  "doc_a long, doc_b long")
    out = {r.node: r.community
           for r in label_propagation(pairs, rounds=2).collect()}
    assert len({out[n] for n in range(4)}) == 1
    assert len({out[n] for n in range(10, 14)}) == 1
    assert out[0] != out[11]   # the bridge did not merge the cores


def test_label_propagation_is_partitioning_invariant(spark):
    from logging_spark.operators.cluster import label_propagation
    pairs = [(i, (i * 7 + 1) % 20) for i in range(20) if i != (i * 7 + 1) % 20]
    a = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    b = a.repartition(13)
    ra = sorted((r.node, r.community)
                for r in label_propagation(a, rounds=3).collect())
    rb = sorted((r.node, r.community)
                for r in label_propagation(b, rounds=3).collect())
    assert ra == rb


def test_link_prediction_path_and_triangle(spark):
    from logging_spark.operators.cluster import link_prediction
    from pyspark.sql import Row
    # path a-m-b: (a,b) share m, non-adjacent -> jaccard 1/(1+1-1)=1000
    # triangle x-y-z: every two-hop pair is adjacent -> no rows from it
    pairs = spark.createDataFrame(
        [Row(doc_a="a", doc_b="m"), Row(doc_a="m", doc_b="b"),
         Row(doc_a="x", doc_b="y"), Row(doc_a="y", doc_b="z"),
         Row(doc_a="x", doc_b="z")])
    got = {(r["doc_a"], r["doc_b"]): (r["common"], r["jaccard_x1000"])
           for r in link_prediction(pairs).collect()}
    assert got == {("a", "b"): (1, 1000)}


def test_link_prediction_hub_cap_drops_middle(spark):
    from logging_spark.operators.cluster import link_prediction
    from pyspark.sql import Row
    # star through hub h (degree 3 > cap 2): no pairs survive
    pairs = spark.createDataFrame(
        [Row(doc_a="h", doc_b=f"n{i}") for i in range(3)])
    assert link_prediction(pairs, max_hub_degree=2).count() == 0
    assert link_prediction(pairs, max_hub_degree=3).count() == 3


def test_bfs_layers_min_hop_distances(spark):
    from logging_spark.operators.cluster import bfs_layers
    from pyspark.sql import functions as F
    # 0-1-2-3-4 path, 10-11 separate edge, 5 reachable from 0 and 2
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (0, 5), (2, 5)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.dist
           for r in bfs_layers(df, lambda c: c.isin(0, 10),
                               hops=3).collect()}
    # min-hop wins: 5 is dist 1 (via 0), not 3 (via 2)
    assert got == {0: 0, 10: 0, 1: 1, 5: 1, 11: 1, 2: 2, 3: 3}
    # hops bound: 4 (dist 4) not reported
    assert 4 not in got


def test_diameter_2sweep_matches_brute_force(spark):
    """Double-sweep vs brute-force BFS on a chorded path + an
    unreachable component (the probe reports the START's component)."""
    import random
    from collections import deque

    from pyspark.sql import Row

    from logging_spark.operators.cluster import diameter_2sweep

    rnd = random.Random(11)
    edges = {(i, i + 1) for i in range(20)}
    for _ in range(5):
        a, b = rnd.randint(0, 20), rnd.randint(0, 20)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges |= {(100, 101), (101, 102)}
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges])
    r = diameter_2sweep(pairs, hops=25).collect()[0]

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def bfs(s):
        d = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in d:
                    d[y] = d[x] + 1
                    q.append(y)
        return d

    start = min(min(a, b) for a, b in edges)
    d1 = bfs(start)
    m = max(d1.values())
    far = min(k for k, v in d1.items() if v == m)
    d2 = bfs(far)
    assert (r["start_node"], r["ecc_start"], r["far_node"],
            r["diameter_lb"], r["n_reached"], r["truncated"]) == \
        (start, m, far, max(d2.values()), len(d2), 0)


def test_diameter_2sweep_empty_graph(spark):
    from logging_spark.operators.cluster import diameter_2sweep

    empty = spark.createDataFrame([], PAIRS_SCHEMA)
    rows = diameter_2sweep(empty).collect()
    assert [tuple(r) for r in rows] == [(None, 0, None, 0, 0, 0)]


def test_diameter_2sweep_truncation_flag(spark):
    from pyspark.sql import Row

    from logging_spark.operators.cluster import diameter_2sweep

    path = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(10)])
    r = diameter_2sweep(path, hops=3).collect()[0]
    assert r["truncated"] == 1 and r["diameter_lb"] == 3
