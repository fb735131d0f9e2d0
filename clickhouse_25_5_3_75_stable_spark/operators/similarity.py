"""Vector similarity search (SURVEY §4.2 `useVectorSearch`; reference
HNSW index at /root/reference/src/Storages/MergeTree/
MergeTreeIndexVectorSimilarity.h:14-43, distance functions at
src/Functions/array/arrayDistance.cpp).

Spark has no vector index, so the operator decomposes:

- exact path:  brute-force cosine top-k — a broadcast of the query
  vector + one pass over the embeddings + TakeOrderedAndProject.
  At 100 TB this is a full scan but embarrassingly parallel; it is
  also the correctness oracle for every ANN variant.
- ANN path:    random-hyperplane LSH — sign-bit bucket key per vector,
  candidates = same-bucket (or neighboring-probe) rows only. The
  bucket join is an equi-join shuffle on the bucket key; recall is
  tunable by planes/probes. (IVF via k-means centroids is the other
  classic; LSH needs no training pass, so it ships first.)

Determinism: dot products and norms accumulate per-element products in
DECIMAL — order-independent, so Spark and DuckDB agree bitwise (see
functions/statistics.py for the full argument). The final divide runs
in double on identical inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(20,12)"  # |element product| <= ~1; scale 12 >> double ulp


def _dot_dec(a: Column, b: Column) -> Column:
    """Exact (decimal-accumulated) dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC))
    # Accumulator stays at precision 25 so the add widens to (26,12)
    # without hitting Spark's 38-digit cap — a (38,12) acc would make
    # every intermediate sum round at scale 11 and drift off the
    # oracle. Cast back is exact (|sum| < 10^13).
    return F.aggregate(
        prods,
        F.lit(0).cast("decimal(25,12)"),
        lambda acc, p: (acc + p).cast("decimal(25,12)"),
    ).cast("double")


def dot_dec_sql(a: str, b: str) -> str:
    """DuckDB spelling of :func:`_dot_dec` (STRING-routed final cast —
    see functions/numeric.py)."""
    # The element cast routes through VARCHAR: products of float32
    # values are dyadic doubles that can land on exact .5e-12 decimal
    # midpoints, where DuckDB's binary double->decimal cast rounds
    # half-even but the JVM rounds the shortest string repr HALF_UP.
    prods = (
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> CAST(CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" AS VARCHAR) AS DECIMAL(20,12)))"
    )
    return f"CAST(CAST(list_aggregate({prods}, 'sum') AS STRING) AS DOUBLE)"


def cosine_similarity(a: Column, b: Column) -> Column:
    """cosineDistance complement (reference arrayDistance.cpp:702);
    cross-engine-exact via decimal moments."""
    return _dot_dec(a, b) / (F.sqrt(_dot_dec(a, a)) * F.sqrt(_dot_dec(b, b)))


def cosine_similarity_sql(a: str, b: str) -> str:
    return (
        f"{dot_dec_sql(a, b)}"
        f" / (sqrt({dot_dec_sql(a, a)}) * sqrt({dot_dec_sql(b, b)}))"
    )


def cosine_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the 1-row query, score every
    vector, TakeOrderedAndProject keeps k per partition then merges —
    no full sort, no shuffle of the scored set."""
    q = F.broadcast(query.select(F.col(vec_col).alias("__qvec")))
    scored = vectors.crossJoin(q).select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def capped_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
    extra_planes: list[list[float]] | None,
    bucket_cap: int | None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane bucket id with the standard LSH re-split: any bucket
    wider than `bucket_cap` gets one more plane bit appended (string
    key `blk_bit` so split buckets can never collide with intact
    ones), repeated once per extra plane. Bounds the per-task pair
    count of the downstream O(m²) scorer at ~cap² instead of
    one-hot-bucket²; rows whose bucket is still oversized after all
    extra bits (e.g. exact-duplicate vectors) remain together — the
    cap is best-effort by construction. Each round is one window
    count over the bucket key — a bounded number of shuffles, all
    fully parallel."""
    from pyspark.sql.window import Window

    out = vectors.withColumn(
        "blk", hyperplane_bucket(F.col(vec_col), planes).cast("string")
    )
    if not bucket_cap or not extra_planes:
        return out
    for plane in extra_planes:
        w = Window.partitionBy("blk")
        arr = F.array(*[F.lit(float(v)) for v in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))
        out = out.withColumn(
            "blk",
            F.when(
                F.count(F.lit(1)).over(w) > bucket_cap,
                F.concat(F.col("blk"), F.lit("_"), bit),
            ).otherwise(F.col("blk")),
        )
    return out


def lsh_cosine_pairs(
    vectors: DataFrame,
    planes: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
    extra_planes: list[list[float]] | None = None,
) -> DataFrame:
    """Scale-path near-dup pairs: hyperplane buckets block the n²
    comparison, then ONE applyInPandas per bucket scores all its pairs
    with a single numpy Gram matmul. Each vector crosses the shuffle
    once (grouped by bucket) instead of once per candidate pair — at
    334k pairs × 64 dims the pair-join formulation ships ~300 MB of
    duplicated vectors through Arrow; this ships the 2k originals.
    Recall loss on bucket boundaries is the LSH trade — union several
    plane-sets to tighten. Skew note: a pathological bucket holding m
    vectors costs O(m²) in one task; pass bucket_cap + extra_planes to
    engage the standard LSH re-split (:func:`capped_buckets`), which
    appends plane bits to oversized buckets until they fit the cap."""
    b = capped_buckets(vectors, planes, extra_planes, bucket_cap, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "blk"
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf["id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        gram = m @ m.T
        cos = gram / np.outer(norms, norms)
        iu, ju = np.triu_indices(n, k=1)
        keep = cos[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": cos[iu, ju][keep]}
        )

    return b.groupBy("blk").applyInPandas(
        bucket_pairs, "id_a long, id_b long, cosine double"
    )


def lsh_cosine_pairs_exact(
    vectors: DataFrame,
    planes: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-portable LSH near-dup pairs: hyperplane-bucket blocking +
    the DECIMAL cosine path — same candidate set as
    :func:`lsh_cosine_pairs` but every output value reproduces bitwise
    in DuckDB (the numpy Gram variant is faster per-bucket; this one is
    the correctness tier and still carries the bucketed equi-join shape
    that survives 100 TB)."""
    b = vectors.withColumn("__blk", hyperplane_bucket(F.col(vec_col), planes))
    return cosine_pairs(b, threshold, id_col=id_col, vec_col=vec_col, block_col="__blk")


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(vec · plane_p).
    Planes are fixed literals → deterministic, no training pass.

    Round-9 optimization: one `transform` lambda over the 2-D plane
    literal instead of |planes| inlined copies of the dot-product fold
    — generated code stays O(1) in the plane count (the ivf_assign
    codegen fix). Per-plane arithmetic (same fold, same IEEE order)
    and the bit weights are unchanged, so bucket ids are identical —
    and stay aligned with hyperplane_bucket_sql."""
    planes2d = F.array(*[F.array(*[F.lit(float(v)) for v in p]) for p in planes])
    weights = F.array(*[F.lit(1 << p) for p in range(len(planes))])
    dots = F.transform(
        planes2d,
        lambda plane: F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    bits = F.zip_with(
        dots, weights, lambda d, wt: F.when(d > 0, wt).otherwise(F.lit(0))
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc + b).cast("int")


def hyperplane_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    """DuckDB spelling of :func:`hyperplane_bucket`. The dot product is
    a seedless ``list_reduce`` left fold — the exact summation order of
    Spark's ``F.aggregate`` (0.0 + p1 == p1 in IEEE), so the sign bits
    agree bitwise across engines."""
    terms = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(float(v)) for v in plane)
        arr = f"([{lits}]::DOUBLE[])"
        dot = (
            f"list_reduce(list_transform(range(1, {len(plane) + 1}),"
            f" i -> CAST({vec}[i] AS DOUBLE) * {arr}[i]), (a, b) -> a + b)"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def l2sq_sql(a: str, b: str) -> str:
    """DuckDB spelling of the Spark L2² fold in :func:`_l2sq_to_lit`
    (same element order, seedless left fold → bitwise-equal doubles)."""
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> {diff} * {diff}), (a, b) -> a + b)"
    )


def lsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket.
    Sublinear work at scale (bucket fraction ≈ 2^-planes); recall gaps
    on bucket boundaries are the standard LSH trade — raise planes and
    union multiple plane-sets (probes) to tighten."""
    b = hyperplane_bucket(F.col(vec_col), planes)
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            hyperplane_bucket(F.col(vec_col), planes).alias("__qbucket"),
        )
    )
    scored = (
        vectors.withColumn("__bucket", b)
        .join(q, F.col("__bucket") == F.col("__qbucket"))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine >= threshold).

    With block_col (e.g. an LSH bucket or a label) the self-join is an
    equi-join per block — the scale path. Without it this is the exact
    O(n²) audit used as the small-scale oracle."""
    # Precompute each vector's norm ONCE (n rows) instead of inside
    # every pair (n² rows) — at 2k vectors that's 2M fewer decimal
    # folds; at cluster scale it's the difference between feasible
    # and not.
    withnorm = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(_dot_dec(F.col(vec_col), F.col(vec_col))).alias("norm"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    a = withnorm.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
        *([F.col("blk").alias("ba")] if block_col else []),
    )
    b = withnorm.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
        *([F.col("blk").alias("bb")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("ba") == F.col("bb"))
    return (
        a.join(b, cond)
        .select(
            "id_a",
            "id_b",
            (_dot_dec(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-coarse-quantizer classic the
# reference pairs with HNSW as its vector-index alternatives
# (MergeTreeIndexVectorSimilarity.h). Spark realization: centroid
# assignment is one JVM-side argmin per row; probing turns the scan
# into a partition-pruned subset.
# ---------------------------------------------------------------------------


def ivf_centroids(
    vectors: DataFrame, nlist: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse quantizer: the nlist dataset vectors with
    the smallest md5(id) — a seedless uniform sample, so every run,
    every node, AND the DuckDB oracle agree without a training pass
    (md5 hex is portable where xxhash64 is engine-specific). (A Lloyd
    refinement step is one extra groupBy-average job if recall needs
    it.) Driver-side size is nlist rows — broadcast-class."""
    rows = (
        vectors.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(nlist)
        .collect()
    )
    return [[float(x) for x in r.v] for r in rows]


def ivf_lloyd_refine(
    vectors: DataFrame,
    centroids: list[list[float]],
    iters: int = 1,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of the coarse quantizer (the step
    ivf_centroids' docstring promises): each iteration is ONE
    assign + groupBy-average job — the per-dimension means ride the
    normal partial-aggregation path, so the shuffle carries nlist×dim
    doubles per partition, and the collect is nlist rows
    (broadcast-class, same as ivf_centroids). Empty clusters keep
    their previous centroid. Balanced clusters = balanced probe
    fan-out at 100 TB, which is what recall-per-probe buys."""
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = vectors.withColumn(
            "__list", ivf_assign(F.col(vec_col), centroids)
        )
        rows = assigned.groupBy("__list").agg(
            *[
                F.avg(F.col(vec_col)[i].cast("double")).alias(f"c{i}")
                for i in range(dim)
            ]
        ).collect()
        new = [list(c) for c in centroids]
        for r in rows:
            new[r["__list"]] = [float(r[f"c{i}"]) for i in range(dim)]
        centroids = new
    return centroids


def _l2sq_to_lit(vec: Column, cent: list[float]) -> Column:
    arr = F.array(*[F.lit(float(v)) for v in cent])
    return _l2sq_cols(vec, arr)


def _l2sq_cols(vec: Column, cent: Column) -> Column:
    """Seedless left-fold L2² between two double arrays — the exact
    element order / IEEE op sequence of the original per-centroid form,
    so values are bitwise-unchanged."""
    return F.aggregate(
        F.zip_with(vec, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cent_lit(centroids: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in centroids])


def ivf_dist_structs(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (d=l2sq, i=list index) structs against every centroid.

    One `transform` lambda over a 2-D centroid literal instead of
    `nlist` inlined copies of the fold (round-9 optimization): the
    generated code carries the fold ONCE, so whole-stage-codegen
    compile time and method size stay O(1) in nlist — at nlist=8,
    dim=64 the per-centroid form compiled ~8× the fold body per plan
    evaluation site. Arithmetic (element order, IEEE ops, int index
    type) is identical, so distances and argmin ties are bitwise
    unchanged."""
    idx = F.array(*[F.lit(i) for i in range(len(centroids))])
    dists = F.transform(_cent_lit(centroids), lambda c: _l2sq_cols(vec, c))
    return F.zip_with(dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (L2): array of (dist, idx) structs,
    array_min picks lexicographically — pure codegen, no UDF."""
    return F.array_min(ivf_dist_structs(vec, centroids))["i"]


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: score only vectors assigned to the query's nprobe
    nearest centroids. Work fraction ≈ nprobe/nlist of a full scan;
    with nprobe == nlist this is EXACTLY brute force (the oracle-able
    configuration). At scale, persist the assignment as a partition
    column so probing becomes partition pruning on the parquet scan."""
    assigned = vectors.withColumn("__list", ivf_assign(F.col(vec_col), centroids))
    qq = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            ivf_dist_structs(F.col(vec_col), centroids).alias("__dists"),
        ).select(
            "__qvec",
            F.transform(
                F.slice(F.array_sort("__dists"), 1, nprobe), lambda s: s["i"]
            ).alias("__probes"),
        )
    )
    return (
        assigned.join(qq, F.array_contains(F.col("__probes"), F.col("__list")))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication over an embedding column
# (Abbas et al. 2023, arXiv:2303.09540: k-means-cluster the embedding
# space, then prune within-cluster pairs above a cosine threshold).
# The reference's building blocks are its vector-distance functions +
# vector index (src/Functions/array/arrayDistance.cpp,
# src/Storages/MergeTree/MergeTreeIndexVectorSimilarity.h); the
# composed pipeline is the training-data-curation shape this engine
# treats as first-class.
# ---------------------------------------------------------------------------


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Flag within-cluster semantic duplicates: assign every vector to
    its nearest centroid (JVM argmin, no UDF), generate same-cluster
    pairs, and mark the LARGER id of every pair with cosine >=
    threshold as a duplicate (deterministic keep-lowest-id policy —
    the keep-best-quality variant is operators/dedup.py
    dedup_keep_best's policy applied to the same labels).

    Returns (id_col, cluster, is_dup).

    Scale shape: clustering bounds the pair stage to O(sum c_i²)
    instead of O(n²) — with balanced k-means (ivf_lloyd_refine) and
    nlist ∝ n/cap, per-cluster work is capped the same way
    capped_buckets caps LSH buckets. exact=True scores pairs on the
    DECIMAL cosine path (oracle-portable, bitwise-reproducible in
    DuckDB); exact=False ships each vector across the shuffle once
    and scores each cluster with one numpy Gram matmul
    (lsh_cosine_pairs' fast tier keyed on the cluster id)."""
    assigned = vectors.withColumn(
        "__c", ivf_assign(F.col(vec_col), centroids)
    )
    if exact:
        pairs = cosine_pairs(
            assigned, threshold, id_col=id_col, vec_col=vec_col,
            block_col="__c",
        )
        # no broadcast hint: the dup set scales with the corpus's dup
        # rate (can be a large fraction of n at 100 TB) — AQE
        # broadcasts it when runtime stats say it fits
        dups = pairs.select(F.col("id_b").alias("__dup_id")).distinct()
        return (
            assigned.join(
                dups,
                F.col(id_col) == F.col("__dup_id"), "left",
            )
            .select(
                F.col(id_col),
                F.col("__c").alias("cluster"),
                F.col("__dup_id").isNotNull().alias("is_dup"),
            )
        )

    # Fast tier (round-9 optimization): the per-cluster pandas pass
    # emits (id, cluster, is_dup) DIRECTLY instead of candidate pairs.
    # The old shape (pairs -> DISTINCT id_b -> join back onto a second
    # evaluation of the assignment subtree) cost one extra shuffle, a
    # distinct, a join, and a full second scan+argmin pass over the
    # vectors; here each vector crosses the one cluster shuffle once
    # and the flag computation is the same Gram matmul — a row is a
    # dup iff some SMALLER id in its cluster has cosine >= threshold,
    # exactly the old max-of-pair rule, so the flag set is identical.
    b = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col("__c").alias("c"),
    )

    def flag_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id": pdf["id"].to_numpy(),
                 "cluster": pdf["c"].to_numpy(),
                 "is_dup": np.zeros(n, dtype=bool)}
            )
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids_s = ids[order]
        m = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        cos = (m @ m.T) / np.outer(norms, norms)
        # column j flagged iff any row i<j (smaller id) clears the
        # threshold — the strict upper triangle, any() per column
        hit = np.triu(cos >= threshold, k=1).any(axis=0)
        return pd.DataFrame(
            {"id": ids_s, "cluster": pdf["c"].to_numpy()[order],
             "is_dup": hit}
        )

    return (
        b.groupBy("c")
        .applyInPandas(flag_rows, "id long, cluster int, is_dup boolean")
        .select(F.col("id").alias(id_col), "cluster", "is_dup")
    )
