"""Similarity search over embedding columns (array<float>).

  - brute-force cosine top-k: the exact baseline. Pure built-in exprs
    (zip_with + aggregate), JVM-side; one TakeOrderedAndProject.
  - LSH-bucketed variant: random-hyperplane sign bits -> bucket; at scale
    the query probes one bucket (candidates drop by ~2^n_planes) before the
    same exact cosine. Planes are deterministic (seeded).
  - cosine near-dup pairs within a blocking key (label): the
    embedding-cosine near-dup path for training-data dedup.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    # cast operands to double BEFORE multiplying: float32 products would
    # diverge from the ANSI-SQL oracle (DOUBLE[] arithmetic) at ~1e-7
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk(df: DataFrame, query_vec, k: int = 10, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.sqrt(np.dot(np.array(query_vec, dtype=np.float64),
                              np.array(query_vec, dtype=np.float64))))
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))
    return (
        df.select(F.col(id_col), F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Sign-bit bucket id from deterministic hyperplanes (pure exprs)."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        d = _dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                 F.array(*[F.lit(float(x)) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def cosine_topk_lsh(df: DataFrame, query_vec, k: int = 10, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_planes: int = 8, seed: int = 42) -> DataFrame:
    """ANN: probe the query's hyperplane bucket, exact cosine within it.
    (Approximate: recall depends on n_planes; the scale path for 100 TB --
    bucket column is precomputable + partitionable.)"""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(len(q), n_planes, seed)
    qbucket = int(sum(2**j for j, p in enumerate(planes) if float(np.dot(p, q)) > 0))
    bucketed = df.withColumn("__bucket__", lsh_bucket_expr(vec_col, planes))
    return cosine_topk(bucketed.filter(F.col("__bucket__") == qbucket), query_vec, k, vec_col, id_col)


def cosine_topk_lsh_multiprobe(
    df: DataFrame, query_vec, k: int = 10, vec_col: str = "embedding",
    id_col: str = "vec_id", n_planes: int = 8, seed: int = 42,
    probe_bits: int = 1,
) -> DataFrame:
    """Multi-probe ANN (Lv et al., VLDB'07 idea): besides the query's own
    bucket, probe every bucket within Hamming distance <= probe_bits of it
    (flip sign bits) — a recall knob that costs extra candidate buckets
    instead of extra hash tables. probe_bits=1 probes 1+n_planes buckets."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(len(q), n_planes, seed)
    qbucket = int(sum(2**j for j, p in enumerate(planes) if float(np.dot(p, q)) > 0))
    buckets = {qbucket}
    frontier = {qbucket}
    for _ in range(probe_bits):
        frontier = {b ^ (1 << j) for b in frontier for j in range(n_planes)}
        buckets |= frontier
    bucketed = df.withColumn("__bucket__", lsh_bucket_expr(vec_col, planes))
    cand = bucketed.filter(F.col("__bucket__").isin(sorted(buckets)))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def build_ann_index(
    df: DataFrame, out_dir: str, vec_col: str = "embedding", id_col: str = "vec_id",
    dim: int = 64, n_planes: int = 8, seed: int = 42,
) -> None:
    """Persist the embedding table PARTITIONED BY its LSH bucket: the
    bucket expression runs ONCE at build time; at query time a probe
    filters on the partition column, so Spark's partition pruning reads
    only the probed bucket directories (~1/2^n_planes of the data per
    probe) — the 100-TB path the per-query expression recompute
    (lsh_bucket_expr over the whole table) cannot take."""
    planes = hyperplanes(dim, n_planes, seed)
    (
        df.withColumn("bucket", lsh_bucket_expr(vec_col, planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def query_bucket(query_vec, dim: int = 64, n_planes: int = 8, seed: int = 42) -> int:
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(dim, n_planes, seed)
    return int(sum(2**j for j, p in enumerate(planes) if float(np.dot(p, q)) > 0))


def probe_buckets(query_vec, dim: int = 64, n_planes: int = 8, seed: int = 42,
                  probe_bits: int = 0) -> list:
    """The query's bucket plus every bucket within Hamming distance
    <= probe_bits (multi-probe recall knob)."""
    qb = query_bucket(query_vec, dim, n_planes, seed)
    buckets = {qb}
    frontier = {qb}
    for _ in range(probe_bits):
        frontier = {b ^ (1 << j) for b in frontier for j in range(n_planes)}
        buckets |= frontier
    return sorted(buckets)


def ann_index_topk(
    spark, index_dir: str, query_vec, k: int = 10, vec_col: str = "embedding",
    id_col: str = "vec_id", dim: int = 64, n_planes: int = 8, seed: int = 42,
    probe_bits: int = 0,
) -> DataFrame:
    """ANN against a PERSISTED bucket-partitioned index: the bucket filter
    lands in PartitionFilters (partition pruning — check .explain()), so
    only the probed directories are read; exact cosine within them."""
    probes = probe_buckets(query_vec, dim, n_planes, seed, probe_bits)
    cand = spark.read.parquet(index_dir).filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def cosine_neardup_lsh(
    df: DataFrame, threshold: float = 0.95, vec_col: str = "embedding",
    id_col: str = "vec_id", dim: int = 64, n_planes: int = 6, seed: int = 42,
) -> DataFrame:
    """Near-dup pairs blocked on the LSH bucket — the 100-TB blocking key
    (content-derived, needs no label column): the self-join fans out only
    within each of the 2^n_planes buckets. Single-probe, so a near-dup pair
    split across a bucket boundary is missed — the standard LSH-dedup
    recall trade; raise recall with fewer planes or banded repetition."""
    planes = hyperplanes(dim, n_planes, seed)
    bucketed = df.withColumn("__bucket__", lsh_bucket_expr(vec_col, planes))
    return cosine_neardup_pairs(
        bucketed, threshold, vec_col, id_col, block_col="__bucket__"
    )


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95, vec_col: str = "embedding",
                         id_col: str = "vec_id", block_col: str = "label") -> DataFrame:
    """All pairs within a blocking key with cosine >= threshold.
    Blocking bounds the self-join fan-out (at scale use LSH buckets as the
    blocking key)."""
    a = df.select(F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"),
                  F.col(vec_col).alias("va"))
    b = df.select(F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + centroid-partitioned
# index — the classic scale path alongside the LSH variant (FAISS IVF-Flat
# shape; public algorithm). Build: Spark ML KMeans assigns every vector to
# its nearest centroid; vectors land in centroid-partitioned parquet and
# the (tiny) centroid table persists beside them. Probe: rank centroids by
# cosine to the query DRIVER-SIDE (nlist floats — never data-sized), read
# only the nprobe nearest partitions (partition pruning), exact cosine
# within. Recall/latency knob = nprobe, like LSH's probe_bits.
# ---------------------------------------------------------------------------

def assign_centroid_expr(vec_col, centroids: np.ndarray):
    """Pure-expression nearest-centroid assignment (argmax cosine over a
    literal centroid table; ties -> lowest centroid id, matching a SQL
    ``row_number() OVER (ORDER BY cos DESC, i ASC)`` oracle). norm(v) is
    common to every centroid, so only dot(v, c_i / ||c_i||) is compared —
    one array<struct> max, fully JVM-side / codegen'd."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cents = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1) + 1e-12
    entries = []
    for i, c in enumerate(cents):
        cn = c / norms[i]
        d = _dot(v, F.array(*[F.lit(float(x)) for x in cn]))
        entries.append(F.struct(d.alias("cos"), F.lit(-i).alias("ni")))
    best = F.array_max(F.array(*entries))
    return (-best.getField("ni")).cast("int")


def build_ivf_index(
    df: DataFrame,
    out_dir: str,
    dim: int = 64,
    nlist: int = 32,
    seed: int = 42,
    max_iter: int = 20,
    vec_col: str = "embedding",
    centroids=None,
) -> None:
    """Fit the coarse quantizer and write the centroid-partitioned index.
    Deterministic for a fixed seed/input (KMeans with pinned seed + init).

    ``centroids``: optional pre-supplied coarse quantizer (nlist x dim).
    Skips k-means entirely — assignment becomes a pure argmax-cosine
    column expression, so the whole build+probe+topk path is
    SQL-expressible and oracle-checkable (the k-means path keeps its
    recall-vs-brute-force pytest check instead). Also the production shape
    for 100 TB: train the quantizer once on a sample, then assign the full
    corpus with a cheap scan — no iterative job over all data.

    The centroid side-file goes through the fsio seam (not plain open()),
    so an index root on an object store (s3://) works like every other
    artifact."""
    from lucene_spark.index import fsio

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        if cents.shape != (nlist, dim):
            raise ValueError(f"centroids shape {cents.shape} != ({nlist}, {dim})")
        out = df.withColumn("centroid", assign_centroid_expr(vec_col, cents))
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = df.withColumn(
            "__vec__", array_to_vector(F.col(vec_col).cast("array<double>"))
        )
        model = KMeans(
            k=nlist, seed=seed, maxIter=max_iter, featuresCol="__vec__",
            predictionCol="centroid",
        ).fit(feat)
        out = model.transform(feat).drop("__vec__")
        cents = np.asarray([c.tolist() for c in model.clusterCenters()])
    out.write.mode("overwrite").partitionBy("centroid").parquet(out_dir)
    fs, base = fsio.resolve(out_dir)
    fsio.write_json_atomic(
        fs, base.rstrip("/") + "/centroids.json",
        {"dim": dim, "nlist": nlist, "seed": seed,
         "fixed": centroids is not None, "centroids": [c.tolist() for c in cents]},
    )


def ivf_probe_centroids(index_dir: str, query_vec, nprobe: int = 4):
    """The nprobe centroid ids nearest (cosine) to the query — a
    driver-side O(nlist * dim) numpy step. Reads the centroid side-file
    through the fsio seam (object-store roots work)."""
    from lucene_spark.index import fsio

    fs, base = fsio.resolve(index_dir)
    meta = fsio.read_json(fs, base.rstrip("/") + "/centroids.json")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    sims = (cents @ q) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(q) + 1e-12)
    order = np.argsort(-sims, kind="stable")
    return [int(i) for i in order[:nprobe]]


def ivf_index_topk(
    spark,
    index_dir: str,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    filter_df: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k within the nprobe nearest centroid partitions —
    the centroid filter lands in PartitionFilters, so only those
    directories are read. ``filter_df`` (one ``id_col`` column of allowed
    ids) adds pre-filtered KNN (search/KnnFloatVectorQuery.java:48): a
    semi-join against the probed partitions — Catalyst broadcasts the
    small side, and at nprobe == nlist the result is exact filtered
    brute-force (the SQL-oracle mode)."""
    probes = ivf_probe_centroids(index_dir, query_vec, nprobe)
    cand = spark.read.parquet(index_dir).filter(F.col("centroid").isin(probes))
    if filter_df is not None:
        cand = cand.join(
            filter_df.select(F.col(id_col).cast("long").alias(id_col)),
            id_col, "left_semi",
        )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)
