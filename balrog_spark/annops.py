"""Embedding similarity operators — brute-force and LSH-bucketed ANN.

The embedding column is ``array<float>``; all math happens in higher-order
column functions (zip_with/aggregate) with double accumulation, i.e. JVM-side
sequential folds whose results are reproducible bit-for-bit by the DuckDB
oracle's list_transform/list_sum (both fold left-to-right in double).

Scale path: brute-force top-k is a broadcast of the query vector + one
ranking; pairwise near-dup uses random-hyperplane LSH bucketing (SimHash for
vectors) so candidate pairs come from an equi-join on bucket signatures, not
a cross join. A production IVF variant would cluster once and probe cells —
same join shape, different bucketer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    prod = F.zip_with(a, b, lambda x, y:
                      x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def cosine_topk(emb: DataFrame, query: DataFrame, k: int = 10,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k of ``query`` (single row with ``qvec``)
    against every embedding; deterministic tie-break on id. The query side
    is broadcast; the scan side never shuffles until the final top-k."""
    q = F.broadcast(query.select(F.col(vec_col).alias("qvec")))
    scored = emb.crossJoin(q).select(
        F.col(id_col).alias("vec_id"),
        (F.round(
            _dot(F.col(vec_col), F.col("qvec"))
            / (F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
               * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))), 5)
         ).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()) \
        .limit(k)


def hyperplane_signature(emb: DataFrame, n_planes: int = 16, dim: int = 64,
                         seed: int = 42, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """SimHash-for-vectors: sign pattern against ``n_planes`` fixed random
    hyperplanes -> one integer bucket id. Deterministic (seeded numpy,
    broadcast as literal arrays)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(float(v)) for v in planes[i]])
        bit = (_dot(F.col(vec_col), plane) >= 0).cast("long")
        sig = sig * 2 + bit
    return emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col),
                      sig.alias("bucket"))


def lsh_neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                      n_planes: int = 12, dim: int = 64,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket join candidates, exact
    cosine verify. At 10^12 scale the bucket join replaces the O(n^2) cross
    join; recall is tuned by n_planes / multi-probe."""
    sigs = hyperplane_signature(emb, n_planes, dim, vec_col=vec_col,
                                id_col=id_col)
    a = sigs.select(F.col("vec_id").alias("id_a"),
                    F.col(vec_col).alias("vec_a"), "bucket")
    b = sigs.select(F.col("vec_id").alias("id_b"),
                    F.col(vec_col).alias("vec_b"), "bucket")
    cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = (_dot(F.col("vec_a"), F.col("vec_b"))
           / (F.sqrt(_dot(F.col("vec_a"), F.col("vec_a")))
              * F.sqrt(_dot(F.col("vec_b"), F.col("vec_b")))))
    return (cand.withColumn("cosine", F.round(cos, 5))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (deterministic
    tie-break on cell_id): broadcast centroids + window argmin — the IVF
    build step. ``centroids``: (cell_id, cvec)."""
    from pyspark.sql.window import Window
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col), "cell_id",
        (_dot(F.col(vec_col), F.col("cvec"))
         / (F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
            * F.sqrt(_dot(F.col("cvec"), F.col("cvec"))))).alias("s"))
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(),
                                             F.col("cell_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") == 1).select("vec_id", vec_col, "cell_id")


def ivf_index(emb: DataFrame, n_cells: int = 16,
              vec_col: str = "embedding",
              id_col: str = "vec_id"):
    """Build a STORABLE IVF index: (centroids, assignments).

    Centroids are the ``n_cells`` smallest-id vectors (deterministic
    seeding — swap in k-means centroids on a cluster, every downstream
    plan is identical); assignments are one broadcast pass over the
    corpus. Persist BOTH (parquet / snapshot table): later batches add
    via :func:`ivf_append` and queries probe via :func:`ivf_search`
    without ever re-reading or re-assigning the stored vectors."""
    cents = emb.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))
    return cents, ivf_assign(emb, cents, vec_col, id_col)


def ivf_append(new_emb: DataFrame, cents: DataFrame,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Incremental index add: assign a NEW batch against the frozen
    centroids — one broadcast pass over the batch only (append the
    result to the stored assignment table; the store never moves)."""
    return ivf_assign(new_emb, cents, vec_col, id_col)


def ivf_search(assigned: DataFrame, cents: DataFrame, query: DataFrame,
               k: int = 10, n_probe: int = 4,
               vec_col: str = "embedding") -> DataFrame:
    """Probe a stored IVF index: the query ranks the centroids, its
    ``n_probe`` nearest cells' members are reranked exactly. At 10^12
    scale each query touches n_probe/n_cells of the data — and with the
    assignment table bucketed by cell_id, only those buckets' files."""
    q = F.broadcast(query.select(F.col(vec_col).alias("qvec")))
    qcells = (cents.crossJoin(q)
              .select("cell_id",
                      (_dot(F.col("cvec"), F.col("qvec"))
                       / (F.sqrt(_dot(F.col("cvec"), F.col("cvec")))
                          * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))))
                      .alias("qs"))
              .orderBy(F.col("qs").desc(), F.col("cell_id").asc())
              .limit(n_probe).select("cell_id"))
    cand = assigned.join(F.broadcast(qcells), "cell_id")
    scored = cand.crossJoin(q).select(
        "vec_id",
        F.round(
            _dot(F.col(vec_col), F.col("qvec"))
            / (F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
               * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))), 5)
        .alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()) \
        .limit(k)


def ivf_topk(emb: DataFrame, query: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 4,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: the cell-probing scale path next to the
    LSH one — :func:`ivf_index` build + :func:`ivf_search` probe in
    one call. At 10^12 scale the assignment is one broadcast pass and
    each query touches n_probe/n_cells of the data instead of all of
    it."""
    cents, assigned = ivf_index(emb, n_cells, vec_col, id_col)
    return ivf_search(assigned, cents, query, k, n_probe, vec_col)


def centroids_by_label(emb: DataFrame, vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Per-label centroid via posexplode + avg (partial aggregation,
    dimension-parallel), reduced to the centroid's L2 norm."""
    e = emb.select(F.col(label_col).alias("label"),
                   F.posexplode(F.col(vec_col)).alias("pos", "v"))
    cent = e.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c"))
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 5)
        .alias("centroid_norm"),
        F.count("*").alias("dims"))
