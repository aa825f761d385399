"""Duplicate-cluster assembly: connected components over candidate
pairs, picking one canonical document per cluster.

Near-dup detection (textdedup.lsh_candidate_pairs,
similarity.embedding_near_duplicates) emits PAIRS; a curation pipeline
needs CLUSTERS — "these 17 docs are one group, keep doc 42". That is
connected components over the pair graph with min-id as the canonical
representative, the standard final step of a web-scale dedup pass.

Algorithm: iterative min-label propagation with pointer jumping —
each round every node takes the minimum label among itself, its
neighbors, and its current label's own label (path halving). Plain
neighbor propagation alone needs O(diameter) rounds (bad on chains);
the pointer-jumping join cuts it to O(log n) like the classic
MapReduce CC formulations (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public). In practice LSH candidate
graphs are unions of near-cliques, so convergence is 2-3 rounds.

Scale shape per round: two shuffle joins (edges⨝labels, labels⨝labels)
+ one agg, all keyed on node/label ids (uniform by construction).
Lineage is truncated every round with localCheckpoint (blocks are
ContextCleaner-owned — nothing for callers to unpersist), so the plan
does not grow with iterations; the convergence probe piggybacks on the
same materialization (max(changed) over the checkpointed frame), one
action per round. Driver holds only the loop counter — no per-node
state ever leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_clusters(pairs: DataFrame, id_a: str = "doc_a",
                       id_b: str = "doc_b", max_iter: int = 25,
                       max_driver_edges: int = 2_000_000) -> DataFrame:
    """(doc_id, canonical_id) for every doc appearing in >=1 pair;
    canonical_id = min doc id of its connected component. Docs in no
    pair are implicitly their own cluster (left out, like the pair
    operators leave out non-duplicates).

    Tiered like similarity's top-k dispatch: a pair graph at or under
    `max_driver_edges` (the common case — LSH emits pairs for the
    DUPLICATE fraction, not the corpus) collects to the driver for one
    union-find pass — bounded memory (~30 MB at the 2M default), zero
    shuffle rounds, identical output. Past the cap, the distributed
    label-propagation loop below handles graphs of any size."""
    und = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = und.unionByName(und.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"))).distinct()
    # ONE bounded job decides the tier AND fetches the small graph:
    # limit(cap+1) short-circuits scanning past the cap, and when the
    # graph fits, the collected rows feed union-find directly (no
    # checkpoint, no separate count)
    probe = edges.limit(max_driver_edges + 1).collect()
    if len(probe) <= max_driver_edges:
        id_type = edges.schema["a"].dataType.simpleString()
        return _driver_union_find(edges.sparkSession, probe, id_type)
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("a").alias("node")).distinct() \
                  .select("node", F.col("node").alias("label"))
    for _ in range(max_iter):
        # min label among neighbors (edges are symmetric, so grouping
        # by the destination covers every node with >=1 edge)
        nbr = (edges.join(labels.withColumnRenamed("node", "a"), "a")
               .groupBy(F.col("b").alias("node"))
               .agg(F.min("label").alias("nbr_label")))
        step = (labels.join(nbr, "node", "left")
                .select("node", F.col("label").alias("_old"),
                        F.least("label", F.coalesce("nbr_label", "label"))
                        .alias("label")))
        # pointer jumping: follow my label to ITS label (path halving)
        hop = labels.select(F.col("node").alias("label"),
                            F.col("label").alias("hop_label"))
        new = F.least("label", F.coalesce("hop_label", "label"))
        # fuse the convergence flag into the step (labels only ever
        # decrease, so chg = new < old): the probe below is a narrow
        # scan of the checkpointed blocks, not a labels⨝labels join job
        step = (step.join(hop, "label", "left")
                .select("node", new.alias("label"),
                        (new < F.col("_old")).alias("chg")))
        step = step.localCheckpoint(eager=True)
        labels = step.drop("chg")
        if step.where("chg").limit(1).count() == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("canonical_id"))


def _driver_union_find(spark, edge_rows, id_type: str) -> DataFrame:
    """Min-root union-find over a collected (bounded) symmetric edge
    list; returns the same (doc_id, canonical_id) frame, same types,
    as the distributed loop."""
    root: dict = {}

    def find(x):
        r = x
        while root.get(r, r) != r:
            r = root[r]
        while root.get(x, x) != x:          # path compression
            root[x], x = r, root[x]
        return r

    for a, b in edge_rows:
        if a > b:
            continue                         # symmetric twin
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            root[hi] = lo                    # min id stays the root
        root.setdefault(a, find(a))
        root.setdefault(b, find(b))
    rows = [(n, find(n)) for n in list(root)]
    return spark.createDataFrame(
        rows, f"doc_id {id_type}, canonical_id {id_type}")


def graph_summary(pairs: DataFrame, id_a: str = "doc_a",
                  id_b: str = "doc_b") -> DataFrame:
    """One-row structural summary of the duplicate-pair graph:
    (n_nodes, n_edges, n_triangles). Triangle density separates
    near-clique duplicate families (LSH behaving) from chain-like
    false-positive bridges (threshold too loose) — the standard
    dedup-graph health check.

    Exact triangle counting via the classic wedge-close formulation
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11 — public): pairs are already oriented
    (a < b), so each triangle a<b<c is counted exactly once as
    wedge (a,b)+(b,c) closed by edge (a,c). Two equi-joins on node
    ids; the heaviest wedge fan-out is deg², bounded upstream by the
    LSH `max_bucket` cap. No driver-side state; the three counts
    combine via single-row cross joins."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")) \
             .distinct()
    nodes = (e.select(F.col("a").alias("n"))
             .unionByName(e.select(F.col("b").alias("n"))).distinct()
             .agg(F.count(F.lit(1)).alias("n_nodes")))
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wedges = e.join(e.select(F.col("a").alias("b"), F.col("b").alias("c")),
                    "b")
    tri = (wedges.join(e.select(F.col("a"), F.col("b").alias("c")),
                       ["a", "c"], "left_semi")
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    return nodes.crossJoin(edges).crossJoin(tri)


def label_propagation(pairs: DataFrame, rounds: int = 2,
                      id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation with a
    deterministic tie-break (Raghavan et al. 2007, made reproducible):
    labels start as node ids; each round every node adopts the label
    most frequent among its NEIGHBORS, ties broken to the smallest
    label. Where connected components answer "which nodes touch at
    all", LPA's majority dynamics split a component into its dense
    cores — near-clique duplicate families keep distinct labels even
    when a spurious bridge edge connects them.

    Fixed `rounds` keeps the job cost deterministic and the result
    oracle-checkable (the oracle unrolls the same rounds). Per round:
    one edges⨝labels equi-join + one (node, label) count + one
    windowless argmax via max(struct(count, -label)) — all map-side
    combinable, labels localCheckpointed so the plan stays flat.
    Output: (node, community)."""
    und = (pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
           .union(pairs.select(F.col(id_b).alias("s"),
                               F.col(id_a).alias("d")))
           .distinct().localCheckpoint())
    labels = (und.select(F.col("s").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(int(rounds)):
        msgs = (und.join(labels, und["s"] == labels["node"])
                .select(F.col("d").alias("node"), "label"))
        counts = (msgs.groupBy("node", "label")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        labels = (counts.groupBy("node")
                  .agg(F.max(F.struct(F.col("cnt"),
                                      (-F.col("label")).alias("nl")))
                        .alias("_m"))
                  .select("node", (-F.col("_m.nl")).cast("long")
                          .alias("label"))
                  .localCheckpoint())
    return labels.select("node", F.col("label").alias("community"))


def keep_canonical(df: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Filter a corpus to one representative per duplicate cluster:
    drop every doc whose cluster canonical is a different doc. The
    duplicate set is a small fraction of the corpus, so the anti-join
    side is broadcast."""
    losers = (clusters
              .where(F.col("doc_id") != F.col("canonical_id"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(F.broadcast(losers), id_col, "left_anti")


def kcore_peel(pairs: DataFrame, k: int = 2, rounds: int = 3,
               src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """(node, deg): the nodes surviving `rounds` synchronized peel
    rounds toward the k-core — each round simultaneously removes
    every node whose CURRENT degree is < k, with all edges incident
    to it. The dense-core extractor of a duplicate/interaction graph:
    where PageRank ranks inside a family and LPA splits it, the
    k-core strips hanger-on docs that touch a family through one or
    two edges (the classic spam/boilerplate-periphery filter).

    Fixed rounds, not run-to-fixpoint: a data pipeline wants a
    deterministic budget, and each round is exactly one degree
    aggregate + two semi-joins (the surviving-node set is degree-
    filtered and therefore small; it broadcasts) — the same
    wide-dependency shape per round as pagerank_integer. Edges are
    localCheckpointed per round to truncate lineage. Synchronized
    removal makes the result partitioning-independent, hence
    oracle-checkable by unrolling the rounds in SQL."""
    und = (pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(pairs.select(F.col(dst).alias("s"),
                               F.col(src).alias("d")))
           .distinct().localCheckpoint())
    live = und
    for _ in range(int(rounds)):
        deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.where(F.col("_deg") >= k).select("s")
        live = (live
                .join(F.broadcast(keep), "s", "left_semi")
                .join(F.broadcast(keep.withColumnRenamed("s", "d")),
                      "d", "left_semi")
                .localCheckpoint())
    return (live.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("s").alias("node"),
                    F.col("deg").cast("long").alias("deg")))


def link_prediction(pairs: DataFrame, src: str = "doc_a",
                    dst: str = "doc_b",
                    max_hub_degree: int = 1000) -> DataFrame:
    """(doc_a, doc_b, common, jaccard_x1000): common-neighbor Jaccard
    link prediction over an undirected pair graph — scores every
    NON-adjacent two-hop pair by |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. On a
    duplicate graph this surfaces "probably the same family" pairs
    the candidate generator missed (two docs that share many near-dup
    neighbors but never collided in a band); on an interaction graph
    it's the classic friend-of-friend recommender.

    Plan shape: ONE self-join of the undirected edge list through the
    middle node (never through both endpoints), then a groupBy(a, b)
    count — the wide rows carry three ids only. Middle nodes with
    degree > ``max_hub_degree`` are dropped before the self-join (the
    semi-join probe is degree-filtered and broadcasts), because a hub
    of degree d expands to d^2 candidate rows: the same bounded-
    quadratic-expansion cap as the inverted-index dedups, and at
    100 TB the only thing standing between this operator and a
    shuffle explosion. Union size is deg(a) + deg(b) - common (exact
    for non-adjacent pairs), so the score is integral-ratio exact.
    """
    # und feeds 4 plan references (both self-join sides, the anti
    # probe, the degree agg) and deg feeds 3 — localCheckpoint both so
    # the upstream candidate generation runs once, not per reference
    # (same lineage-truncation move as kcore_peel; measured 58 -> ~8
    # exchanges in the plan audit)
    und = (pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(pairs.select(F.col(dst).alias("s"),
                               F.col(src).alias("d")))
           .distinct().localCheckpoint())
    deg = (und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint())
    mids = (deg.where(F.col("deg") <= max_hub_degree)
            .select(F.col("s").alias("m")))
    left = und.select(F.col("s").alias("a"), F.col("d").alias("m"))
    right = und.select(F.col("s").alias("m"), F.col("d").alias("b"))
    hops = (left.join(F.broadcast(mids), "m", "left_semi")
            .join(right, "m")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    nonadj = hops.join(
        und.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"], "left_anti")
    return (nonadj
            .join(deg.select(F.col("s").alias("a"),
                             F.col("deg").alias("_da")), "a")
            .join(deg.select(F.col("s").alias("b"),
                             F.col("deg").alias("_db")), "b")
            .select(F.col("a").alias(src), F.col("b").alias(dst),
                    F.col("common").cast("long").alias("common"),
                    F.expr("(common * 1000) DIV (_da + _db - common)")
                    .cast("long").alias("jaccard_x1000")))


def bfs_layers(pairs: DataFrame, seed_pred, hops: int = 3,
               src: str = "doc_a", dst: str = "doc_b",
               id_col: str = "doc_id") -> DataFrame:
    """(id, dist): minimum-hop distance from a seed set over the
    undirected pair graph, bounded to `hops` — the neighborhood-
    expansion primitive (contamination blast radius: "everything
    within 3 dedup-hops of a benchmark document", or labeled-seed
    propagation for curation audits).

    `seed_pred` is a Column predicate over the node id selecting the
    seeds from the graph's node set. Synchronized frontier expansion
    like kcore_peel: per hop, one join frontier->edges, one distinct,
    one anti-join against the reached set; frontier and edge list are
    localCheckpoint-pinned so hop h never re-executes hops 1..h-1
    (each layer is an INPUT to the next — the lineage otherwise grows
    a join-tree per hop). Layers shrink monotonically; at 10^12 edges
    every wide row carries one id.
    """
    und = (pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(pairs.select(F.col(dst).alias("s"),
                               F.col(src).alias("d")))
           .distinct().localCheckpoint())
    frontier = (und.select(F.col("s").alias("id")).distinct()
                .where(seed_pred(F.col("id"))).localCheckpoint())
    reached = frontier.select("id", F.lit(0).alias("dist"))
    for h in range(1, hops + 1):
        nxt = (frontier.join(und, frontier["id"] == und["s"])
               .select(F.col("d").alias("id")).distinct()
               .join(reached.select("id"), "id", "left_anti")
               .localCheckpoint())
        reached = reached.unionAll(nxt.select("id",
                                              F.lit(h).alias("dist")))
        frontier = nxt
    return reached.select(F.col("id").alias(id_col),
                          F.col("dist").cast("int").alias("dist"))


def diameter_2sweep(pairs: DataFrame, src: str = "doc_a",
                    dst: str = "doc_b", hops: int = 4) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib
    2009): BFS from a deterministic start (the minimum node id), jump
    to the farthest reached node (ties to the smaller id), BFS again
    — the second eccentricity lower-bounds the diameter of the
    start's component, exactly on trees and near-exactly on real
    graphs, for the cost of two BFS sweeps instead of n.

    The operator answers "how long are the chains?" over a near-dup
    pair graph: transitive dup families with large diameters are the
    drifted-copy chains worth human eyes. Output one row: start_node,
    ecc_start, far_node, diameter_lb, n_reached, truncated
    (true when a sweep hit the `hops` bound — the bound is then
    ">= hops", not exact).

    Two bounded 1-row collects pick the sweep endpoints (same class
    as the cluster tier probe / BPE argmax); each sweep is
    bfs_layers' checkpoint-pinned frontier expansion. An empty pair
    graph yields the same one row with NULL nodes and zero counts.
    """
    und = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    start = und.agg(F.least(F.min("a"), F.min("b"))
                    .alias("m")).collect()[0]["m"]
    if start is None:
        return pairs.sparkSession.createDataFrame(
            [(None, 0, None, 0, 0, 0)],
            "start_node long, ecc_start long, far_node long, "
            "diameter_lb long, n_reached long, truncated int")
    b1 = bfs_layers(pairs, lambda c: c == F.lit(start), hops=hops,
                    src=src, dst=dst)
    far_row = (b1.orderBy(F.col("dist").desc(), "doc_id")
               .limit(1).collect()[0])
    far, ecc1 = far_row["doc_id"], int(far_row["dist"])
    b2 = bfs_layers(pairs, lambda c: c == F.lit(far), hops=hops,
                    src=src, dst=dst)
    return (b2.agg(F.max("dist").cast("long").alias("diameter_lb"),
                   F.count(F.lit(1)).cast("long").alias("n_reached"))
            .select(F.lit(start).cast("long").alias("start_node"),
                    F.lit(ecc1).cast("long").alias("ecc_start"),
                    F.lit(far).cast("long").alias("far_node"),
                    "diameter_lb", "n_reached",
                    ((F.col("diameter_lb") >= hops)
                     | F.lit(ecc1 >= hops)).cast("int")
                    .alias("truncated")))
