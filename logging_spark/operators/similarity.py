"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for scale:

- cosine_expr / brute_force_topk_expr: exact, pure Catalyst
  higher-order functions. Oracle-checkable; right for small corpora
  or a re-rank stage.
- brute_force_topk: exact, Arrow-batched pandas kernel — each input
  batch does ONE numpy matmul against a broadcast candidate matrix
  (BLAS), then a partial top-k; the global top-k is a groupBy over
  k-sized partials. This is the baseline at 10^5-10^6 candidates.
- lsh_topk: random-hyperplane LSH buckets (deterministic planes from
  a seeded hash, so any executor regenerates them identically) ->
  candidates share a bucket -> exact re-rank inside buckets. The
  scale path: the self-join is an equi-join on the bucket key;
  multiple hash tables (`tables`) recover recall. An IVF variant is
  the same plan with k-means centroid ids as the bucket key.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logging_spark.functions.expr import let
from logging_spark.operators.sample import hash60


def cosine_expr(a: Column, b: Column) -> Column:
    """Exact cosine in double precision via zip_with/aggregate —
    engine-portable semantics for oracle checks."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def brute_force_topk_expr(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast cross join + window rank. Quadratic —
    use only for small candidate sets or verification."""
    from pyspark.sql import Window

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        q.crossJoin(F.broadcast(c))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_broadcast: int = 1_000_000,
) -> DataFrame:
    """Exact top-k with a vectorized numpy kernel: the candidate set is
    collected once to the driver, L2-normalized, and broadcast; each
    Arrow batch of queries does one (B x D) @ (D x N) matmul + argpartition.
    Scales in the QUERY dimension (distributed); the candidate side
    must fit an executor (~10^6 x 64 floats = 256 MB). Past
    `max_broadcast` candidates it auto-dispatches to
    brute_force_topk_sharded — same exact semantics, candidates
    hash-sharded through the exchange instead of driver-collected."""
    n_cand = candidates.count()
    if n_cand > max_broadcast:
        shards = max(2, math.ceil(n_cand / max_broadcast))
        return brute_force_topk_sharded(queries, candidates, k,
                                        n_shards=shards,
                                        id_col=id_col, vec_col=vec_col)
    spark = queries.sparkSession
    cand = candidates.select(id_col, vec_col).toPandas()
    ids = cand[id_col].to_numpy()
    mat = np.vstack(cand[vec_col].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    out_schema = "query_id long, neighbor_id long, rank int, cosine double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_l, mat_l = b_ids.value, b_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ mat_l.T  # one BLAS call per Arrow batch
            qids = pdf[id_col].to_numpy()
            self_mask = qids[:, None] == ids_l[None, :]
            sims[self_mask] = -np.inf
            kk = min(k, sims.shape[1] - 1)
            idx = _topk_select(sims, ids_l, kk)
            rows = np.repeat(np.arange(len(qids)), kk)
            cols = idx.ravel()
            out = pd.DataFrame({
                "query_id": qids[rows],
                "neighbor_id": ids_l[cols],
                "cosine": sims[rows, cols],
            })
            out = out.sort_values(["query_id", "cosine", "neighbor_id"],
                                  ascending=[True, False, True])
            out["rank"] = out.groupby("query_id").cumcount() + 1
            yield out[["query_id", "neighbor_id", "rank", "cosine"]]

    return queries.select(id_col, vec_col).mapInPandas(kernel, out_schema)


def _mix(table: int, plane: int, d: int) -> int:
    """splitmix-style 32-bit integer mix — identical on driver and
    every executor (and re-derivable as literal constants in SQL)."""
    z = (table * 1_000_003 + plane * 10_007 + d * 97 + 0x9E3779B9) & 0xFFFFFFFF
    z = (z ^ (z >> 16)) * 0x85EBCA6B & 0xFFFFFFFF
    z = (z ^ (z >> 13)) * 0xC2B2AE35 & 0xFFFFFFFF
    z ^= z >> 16
    return z


def _plane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1)."""
    return [(_mix(table, plane, d) / 0xFFFFFFFF) * 2.0 - 1.0
            for d in range(dim)]


def plane_signs(dim: int, table: int, plane: int) -> list[int]:
    """Deterministic ±1 hyperplane (sign random projection, the sparse
    LSH family of Achlioptas/Charikar). Used where the bucket id must
    be INTEGER-exact across engines — see sign_bucket."""
    return [1 if _mix(table, plane, d) & 1 else -1 for d in range(dim)]


def lsh_bucket(vec: Column, dim: int, table: int, n_planes: int = 12) -> Column:
    """Sign-bucket id for one hash table: bit k = sign(vec . plane_k)."""
    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = _plane(dim, table, p)
        dot = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(c) for c in plane]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, x: a + x,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return acc


def sign_bucket(vec: Column, dim: int, table: int, n_planes: int = 16,
                scale: int = 1_000_000) -> Column:
    """Integer-exact sign-random-projection bucket id: bit p =
    sign(quantized_vec . ±1-plane_p) for n_planes deterministic planes.

    Components are quantized floor(x * scale) -> BIGINT first, so every
    per-plane dot is exact integer arithmetic: bit-identical in any
    engine (a float dot's SIGN near zero is summation-order dependent,
    which would make an oracle mirror flaky). |dot| <= dim * scale *
    max|x| stays far under 2^53, so even an engine that sums in double
    is exact. The quantization perturbs each plane boundary by
    O(1/scale) — statistically irrelevant to LSH recall."""
    q = F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("long"))

    # let-bind the quantized vector: each per-plane zip_with evaluates
    # its children, so an unbound `q` re-quantizes the vector once per
    # plane (O(dim × planes) floors instead of O(dim))
    def fold(qb: Column) -> Column:
        acc = F.lit(0).cast("long")
        for p in range(n_planes):
            signs = plane_signs(dim, table, p)
            dot = F.aggregate(
                F.zip_with(qb, F.array(*[F.lit(s).cast("long") for s in signs]),
                           lambda x, y: x * y),
                F.lit(0).cast("long"), lambda a, x: a + x,
            )
            acc = acc + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        return acc

    return let(q, fold)


def _topk_select(sims: np.ndarray, ids: np.ndarray, kk: int) -> np.ndarray:
    """Per-row indices of the kk best candidates under the GLOBAL
    ordering (cosine desc, neighbor_id asc) — argpartition alone breaks
    exact-cosine ties arbitrarily, so when tied candidates (duplicate
    vectors) straddle the per-shard/-bucket k boundary a partial could
    discard the smaller-id neighbor the final window keeps, making the
    reduction nondeterministic. Fast path stays O(n) argpartition; only
    rows whose boundary cosine is tied get a (rare) exact re-select."""
    part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    rows = np.arange(sims.shape[0])[:, None]
    bound = sims[rows, part].min(axis=1)
    n_ge = (sims >= bound[:, None]).sum(axis=1)
    for r in np.nonzero(n_ge > kk)[0]:
        cand = np.nonzero(sims[r] >= bound[r])[0]
        order = np.lexsort((ids[cand], -sims[r, cand]))
        part[r] = cand[order[:kk]]
    return part


def _bucket_rerank_kernel(k: int, id_col: str, vec_col: str):
    """applyInPandas kernel: ONE matmul per bucket (all members vs all
    members), per-query partial top-k. Vector bytes shipped once per
    (row, bucket) — the pair self-join alternative duplicates every
    vector per candidate pair through the exchange."""

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        sims = M @ M.T
        np.fill_diagonal(sims, -np.inf)
        ids = pdf[id_col].to_numpy()
        kk = min(k, sims.shape[1] - 1)
        idx = _topk_select(sims, ids, kk)
        rows = np.repeat(np.arange(len(ids)), kk)
        cols = idx.ravel()
        keep = np.isfinite(sims[rows, cols])
        return pd.DataFrame({"query_id": ids[rows][keep],
                             "neighbor_id": ids[cols][keep],
                             "cosine": sims[rows, cols][keep]})

    return rerank


def lsh_topk(
    df: DataFrame, k: int = 5, dim: int = 64, tables: int = 4,
    n_planes: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: per-(table, bucket) matmul rerank (same
    grouped-kernel shape as ivf_topk), global top-k over the k-sized
    per-bucket partials. One shuffle on the bucket key, one on the
    query id."""
    from pyspark.sql import Window

    bucketed = df.select(
        F.col(id_col), F.col(vec_col),
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     lsh_bucket(F.col(vec_col), dim, t, n_planes).alias("bucket"))
            for t in range(tables)
        ])).alias("tb"),
    ).select(id_col, vec_col, "tb.tbl", "tb.bucket")

    partials = (
        bucketed.groupBy("tbl", "bucket")
        .applyInPandas(_bucket_rerank_kernel(k, id_col, vec_col),
                       "query_id long, neighbor_id long, cosine double")
        # the same pair can surface from several tables; also keep the
        # max cosine deterministically (they are equal, but max() makes
        # the reduction explicit rather than arrival-order dependent)
        .groupBy("query_id", "neighbor_id").agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _members_probes_rerank(k: int):
    """applyInPandas kernel shared by ivf_topk and
    brute_force_topk_sharded: the group carries candidate rows
    (is_probe=False) and query rows (is_probe=True) under columns
    (vid, vec, is_probe); ONE matmul scores all queries against all
    members, per-query partial top-k, self-pairs masked."""

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[~pdf["is_probe"]]
        qs = pdf[pdf["is_probe"]]
        if not len(mem) or not len(qs):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        M = np.vstack(mem["vec"].to_numpy()).astype(np.float64)
        Q = np.vstack(qs["vec"].to_numpy()).astype(np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        sims = Q @ M.T
        mids = mem["vid"].to_numpy()
        qids = qs["vid"].to_numpy()
        sims[qids[:, None] == mids[None, :]] = -np.inf  # self
        kk = min(k, sims.shape[1])
        idx = _topk_select(sims, mids, kk)
        rows = np.repeat(np.arange(len(qids)), kk)
        cols = idx.ravel()
        keep = np.isfinite(sims[rows, cols])
        return pd.DataFrame({"query_id": qids[rows][keep],
                             "neighbor_id": mids[cols][keep],
                             "cosine": sims[rows, cols][keep]})

    return rerank


def brute_force_topk_sharded(
    queries: DataFrame, candidates: DataFrame, k: int = 5, n_shards: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k past the broadcast budget: candidates are hash-
    sharded, each shard reranked by the shared matmul kernel, the
    global top-k reduced from per-shard top-ks (top-k of top-ks —
    exact because every true neighbor lives in exactly one shard).

    This is the documented scale path beyond brute_force_topk's
    ~10^6-candidate driver-collect wall: no collect, no broadcast;
    candidate bytes cross the exchange once, query bytes n_shards
    times. Plan: two narrow projections -> one shuffle on shard ->
    one shuffle on query_id for the final window."""
    from pyspark.sql import Window

    members = candidates.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int").alias("shard"),
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.lit(False).alias("is_probe"))
    probes = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard"),
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.lit(True).alias("is_probe"))
    partials = (members.unionByName(probes)
                .groupBy("shard")
                .applyInPandas(_members_probes_rerank(k),
                               "query_id long, neighbor_id long, cosine double"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (partials.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def _kmeans_centroids(mat: np.ndarray, n_centroids: int, iters: int = 10) -> np.ndarray:
    """Deterministic spherical k-means on the driver: init = first
    n_centroids rows (input pre-sorted by id), Lloyd iterations with
    cosine assignment. Centroid fit is O(sample x k x d) — driver-side
    by design; production IVF fits on a sample, never the full corpus."""
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def ivf_topk(
    df: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    sample_limit: int = 50_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells instead of
    LSH buckets. Plan shape:

      fit centroids on a driver sample (deterministic)     | tiny
      -> assign every vector its nearest cell (mapInPandas,| narrow
         one matmul per Arrow batch against broadcast
         centroids)
      -> queries additionally emit their n_probe nearest   | narrow + explode
         cells
      -> equi-join candidates on cell id                   | shuffle on cell
      -> exact cosine re-rank, window top-k per query      | shuffle on query

    Recall is tuned by (n_centroids, n_probe); candidates per query
    ~ corpus * n_probe / n_centroids. All joins are equi-joins on a
    small integer key — at web scale the cell id also works as the
    physical partition key so each cell's candidates co-locate."""
    spark = df.sparkSession
    sample = (df.select(id_col, vec_col).orderBy(id_col)
              .limit(sample_limit).toPandas())
    mat = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    cent = _kmeans_centroids(mat, n_centroids)
    b_cent = spark.sparkContext.broadcast(cent)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            sims = v @ c.T
            order = np.argsort(-sims, axis=1)
            out = pd.DataFrame({
                id_col: pdf[id_col],
                "vec": list(pdf[vec_col]),
                "cell": order[:, 0].astype("int32"),
                "probe_cells": list(order[:, :n_probe].astype("int32")),
            })
            yield out

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, vec array<float>, cell int, probe_cells array<int>")
    # feeds member + probe branches; localCheckpoint (not persist) so
    # the cached blocks are GC-owned and dropped automatically instead
    # of accumulating CacheManager entries across repeated calls
    assigned = assigned.localCheckpoint(eager=True)

    # Per-cell rerank: ONE matmul per cell (queries probing the cell x
    # cell members) via applyInPandas. Shipping vectors once per
    # (row, probe) beats the naive pair join, which duplicates every
    # vector per candidate pair through the exchange — O(n x probe)
    # vs O(pairs) vector bytes.
    members = assigned.select("cell", F.col(id_col).alias("vid"), "vec",
                              F.lit(False).alias("is_probe"))
    probes = assigned.select(F.explode("probe_cells").alias("cell"),
                             F.col(id_col).alias("vid"), "vec",
                             F.lit(True).alias("is_probe"))

    partials = (members.unionByName(probes)
                .groupBy("cell")
                .applyInPandas(_members_probes_rerank(k),
                               "query_id long, neighbor_id long, cosine double")
                .dropDuplicates(["query_id", "neighbor_id"]))

    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (partials.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def sign_buckets_kernel(df: DataFrame, id_col: str, vec_col: str,
                        dim: int, tables: int, n_planes: int,
                        scale: int = 1_000_000) -> DataFrame:
    """(id, tbl, bucket) rows for every (row, table), Arrow-vectorized:
    ONE int64 matmul per batch against the (dim x tables*n_planes)
    ±1-plane matrix computes every per-plane dot exactly — bit-identical
    to the `sign_bucket` expression (floor(x*scale) quantization, so
    all arithmetic is integer; |dot| <= dim*scale*max|x| << 2^63).
    The interpreted zip_with/aggregate expression re-walks the vector
    per (table, plane); this kernel is one BLAS-shaped pass. Narrow —
    no shuffle, vectors never leave the scan partition."""
    P = np.stack([plane_signs(dim, t, p)
                  for t in range(tables) for p in range(n_planes)],
                 axis=1).astype(np.int64)  # (dim, tables*n_planes)
    shifts = np.arange(n_planes, dtype=np.uint64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.floor(
                np.vstack(pdf[vec_col].to_numpy()).astype(np.float64) * scale
            ).astype(np.int64)
            D = V @ P  # exact: int64 dots, no overflow at dim*scale
            bits = (D > 0).reshape(len(pdf), tables, n_planes).astype(np.uint64)
            buckets = (bits << shifts).sum(axis=2).astype(np.int64)  # (n, tables)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame({
                id_col: np.repeat(ids, tables),
                "tbl": np.tile(np.arange(tables, dtype=np.int32), len(pdf)),
                "bucket": buckets.ravel(),
            })

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, tbl int, bucket long")


def near_dup_candidates(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        tables: int = 8, n_planes: int = 16,
                        max_bucket: int | None = 10_000) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing at least one
    sign-projection bucket in any of `tables` hash tables. Same plan
    shape as textdedup.lsh_candidate_pairs: project buckets (vectorized
    kernel, one int64 matmul per Arrow batch — bit-identical to the
    `sign_bucket` expression the oracle mirrors) -> self equi-join on
    (tbl, bucket) -> distinct; `max_bucket` drops degenerate buckets
    (e.g. all-zero vectors) before the quadratic pair expansion."""
    bucketed = sign_buckets_kernel(df, id_col, vec_col, dim, tables, n_planes)
    bucketed = bucketed.localCheckpoint(eager=True)  # feeds cap + both join sides
    if max_bucket is not None:
        hot = (bucketed.groupBy("tbl", "bucket").count()
               .where(F.col("count") > max_bucket))
        bucketed = bucketed.join(F.broadcast(hot.select("tbl", "bucket")),
                                 ["tbl", "bucket"], "left_anti")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def embedding_near_duplicates(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              exact: bool = False, dim: int = 64,
                              tables: int = 8, n_planes: int = 16,
                              max_bucket: int | None = 10_000) -> DataFrame:
    """Near-dup pairs by cosine >= threshold.

    Default path is LSH-bucketed: sign-projection candidates (every
    join an equi-join — O(n x tables) bucket rows, never all pairs),
    then exact cosine re-rank of candidates only. Approximate in
    recall (tune tables/n_planes; with the defaults a 0.95-cosine pair
    collides in >=1 of 8 tables w.p. ~0.8, and recall is tested vs the
    exact path in tests/test_similarity.py); precision is exact since
    every emitted pair is re-scored.

    `exact=True` keeps the old all-pairs broadcast cross join as a
    small-n verification mode — O(n^2), never for production corpora."""
    if exact:
        a = df.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("_av"))
        b = df.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("_bv"))
        return (
            a.crossJoin(F.broadcast(b))
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("cosine", cosine_expr(F.col("_av"), F.col("_bv")))
            .where(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b", "cosine")
        )
    cand = near_dup_candidates(df, id_col, vec_col, dim, tables,
                               n_planes, max_bucket)
    va = df.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("_av"))
    vb = df.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("_bv"))
    return (
        cand.join(va, "doc_a").join(vb, "doc_b")
        .withColumn("cosine", cosine_expr(F.col("_av"), F.col("_bv")))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def hard_negatives_expr(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Exact hard-negative mining: for each query, the k most similar
    candidates with a DIFFERENT label — the contrastive-training
    sampler (hardest negatives teach the most). Same deliberately-
    quadratic broadcast shape as brute_force_topk_expr; at corpus
    scale run `hard_negatives` (kernel tier with over-fetch) instead."""
    from pyspark.sql import Window

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(label_col).alias("_ql"),
                       F.col(vec_col).alias("_qv"))
    c = candidates.select(F.col(id_col).alias("neighbor_id"),
                          F.col(label_col).alias("_cl"),
                          F.col(vec_col).alias("_cv"))
    scored = (q.crossJoin(F.broadcast(c))
              .where(F.col("_ql") != F.col("_cl"))
              .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def hard_negatives(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    overfetch: int = 50, id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label",
) -> DataFrame:
    """Scale tier of hard-negative mining: over-fetch the top
    (k + overfetch) neighbors with the BLAS kernel (labels ignored in
    the hot matmul), join labels back, drop same-label rows, re-rank,
    keep k. Exact iff fewer than `overfetch` same-label vectors crowd
    a query's top window — size overfetch to the largest class's local
    density (a recall test against hard_negatives_expr pins the
    fixture's gap at zero). Inherits brute_force_topk's auto-dispatch
    past the broadcast budget."""
    from pyspark.sql import Window

    top = brute_force_topk(queries, candidates, k=k + overfetch,
                           id_col=id_col, vec_col=vec_col)
    qlab = queries.select(F.col(id_col).alias("query_id"),
                          F.col(label_col).alias("_ql"))
    clab = candidates.select(F.col(id_col).alias("neighbor_id"),
                             F.col(label_col).alias("_cl"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (top.join(F.broadcast(qlab), "query_id")
            .join(F.broadcast(clab), "neighbor_id")
            .where(F.col("_ql") != F.col("_cl"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def quantize_int8_summary(
    vectors: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization (the serving-index
    compression step), surfaced as integer-exact audit columns:
    scale_ppm = floor(max|x| * 1e6), sum_q = sum of quantized values,
    n_sat = saturated dims (|q| = 127), dim. q_i = floor(127 * x_i /
    max|x|) — one float division + floor, bit-portable across engines
    since both start from the same float32 values. Zero vectors
    quantize to all-zero (guard, no NaN). Pure expression projection:
    no shuffle, no UDF, 4 bytes/dim -> 1 byte/dim at the sink."""
    xd = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    scale = f"array_max(transform({xd}, x -> abs(x)))"
    q = (f"CASE WHEN {scale} = 0.0 THEN transform({xd}, x -> CAST(0 AS BIGINT)) "
         f"ELSE transform({xd}, x -> CAST(floor(127.0 * x / {scale}) AS BIGINT)) END")
    return vectors.select(
        F.col(id_col),
        F.expr(f"CAST(floor({scale} * 1000000) AS BIGINT)").alias("scale_ppm"),
        F.expr(f"CAST(aggregate({q}, CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT)")
         .alias("sum_q"),
        F.expr(f"CAST(size(filter({q}, x -> abs(x) >= 127)) AS INT)")
         .alias("n_sat"),
        F.expr(f"CAST(size({vec_col}) AS INT)").alias("dim"))


def negative_samples(
    vectors: DataFrame, k: int = 4, id_col: str = "vec_id",
    seed: str = "neg", assume_dense_ids: bool = True,
) -> DataFrame:
    """k deterministic pseudo-random negatives per id — the uniform
    negative sampler of contrastive/embedding training, reproducible
    across runs, engines and partitionings (pure md5 arithmetic, no
    RNG state). slot j of id i draws hash60(seed, "i:j") mod (n-1),
    shifted up past i so i never samples itself and the draw stays
    uniform over the other n-1 ids.

    With ``assume_dense_ids`` (ids are 0..n-1 — true for vector
    tables written by this repo) the sampler is a pure projection
    after one count. Otherwise a dense index is minted with one
    range-sort window and negatives map back to real ids via an
    equi-join on the index — costlier but total.

    Output: (id_col, slot, neg_id), k rows per input id.
    """
    from pyspark.sql import Window

    if assume_dense_ids:
        # validate the dense assumption in the SAME action that counts:
        # out-of-range / self-colliding neg_ids would otherwise be
        # produced silently (round-3 ADVICE)
        n, nd, lo, hi = vectors.agg(
            F.count(F.lit(1)), F.count_distinct(F.col(id_col)),
            F.min(id_col), F.max(id_col)).first()
        if n >= 1 and (lo != 0 or hi != n - 1 or nd != n):
            raise ValueError(
                f"negative_samples(assume_dense_ids=True): ids are not "
                f"dense 0..n-1 (n={n}, distinct={nd}, min={lo}, max={hi}); "
                f"pass assume_dense_ids=False for the total sparse-id path")
    else:
        n = vectors.count()
    if n < 2:
        raise ValueError("negative_samples needs at least 2 vectors")
    if assume_dense_ids:
        base = vectors.select(F.col(id_col), F.col(id_col).alias("_idx"))
    else:
        w = Window.orderBy(id_col)
        base = vectors.select(id_col).withColumn(
            "_idx", F.row_number().over(w) - 1)
    slots = base.select(
        id_col, "_idx",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("slot"))
    draw = hash60(F.concat_ws(":", F.col("_idx").cast("string"),
                              F.col("slot").cast("string")), seed) % (n - 1)
    neg_idx = F.when(draw >= F.col("_idx"), draw + 1).otherwise(draw)
    out = slots.withColumn("_neg_idx", neg_idx.cast("long"))
    if assume_dense_ids:
        return out.select(id_col, "slot",
                          F.col("_neg_idx").alias("neg_id"))
    back = base.select(F.col("_idx").alias("_neg_idx"),
                       F.col(id_col).alias("neg_id"))
    return out.join(back, "_neg_idx").select(id_col, "slot", "neg_id")
