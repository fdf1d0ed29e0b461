"""Iterative clustering (Lloyd's k-means) as a Spark dataflow.

The driver's role here mirrors every production k-means: centroids are
tiny driver-side state (k x dim doubles), re-broadcast into each
iteration's plan; the DATA never leaves the cluster. Each iteration is
one scan + one narrow shuffle:

- **Assignment is join-free.** Centroids are embedded as literal arrays,
  so per-vector distances are a pure projection (whole-stage codegen) —
  no broadcast join, no shuffle. At 100 TB this is the difference between
  a map-only stage and k joins.
- **The update shuffle carries (k x dim) groups, not vectors.** The
  elementwise mean posexplodes to (cid, pos, val) and partially
  aggregates map-side, so the exchange moves at most k*dim partial sums
  per task regardless of data size.
- **Determinism** (what makes this oracle-checkable, a rarity for
  iterative ML): distances are left-to-right folds over double arrays
  (bit-identical to DuckDB's list_reduce); argmin ties break to the
  lowest centroid id; the mean is an exact DECIMAL(25,10) sum with one
  final double division, so the next iteration's centroids — and hence
  every subsequent assignment — are bit-identical across engines and
  partitionings.

Reference parity note: the reference connector (app.py) has no clustering;
this implements SURVEY.md §2.2's LLM-pipeline surface (IVF training /
corpus clustering for dedup and curation).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cses2humio_spark.functions.vectors import sq_l2


def sq_dist_to(vec: Column, centroid: Sequence[float]) -> Column:
    """Squared euclidean distance from a double-array column to a literal
    centroid, accumulated left-to-right (0.0 + d0) + d1 + ... so the fold
    order is engine-independent."""
    return sq_l2(vec, F.array(*[F.lit(float(x)) for x in centroid]))


def assign_to_nearest(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """0-based id of the nearest centroid (ties -> lowest id), as a pure
    codegen expression: array_position finds the FIRST occurrence of the
    minimum, which is exactly the lowest-id tiebreak."""
    dists = F.array(*[sq_dist_to(vec, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
) -> list[list[float]]:
    """Lloyd's k-means, returning the final centroids.

    Init is deterministic: the vectors of the ``k`` lowest ids, in id
    order, become centroids 0..k-1. Each iteration assigns (join-free
    projection) and recomputes each centroid as the exact elementwise
    mean of its members; a cluster that loses all members keeps its
    previous centroid."""
    if k < 1 or n_iter < 0:
        raise ValueError(f"need k >= 1 and n_iter >= 0, got k={k}, n_iter={n_iter}")
    dfv = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    seeds = dfv.orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"k={k} but only {len(seeds)} vectors")
    cents: list[list[float]] = [list(r["__v"]) for r in seeds]
    for _ in range(n_iter):
        assigned = dfv.withColumn("__cid", assign_to_nearest(F.col("__v"), cents))
        comp = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("__cid", "__pos")
            .agg(
                (
                    F.sum(F.col("__val").cast("decimal(25,10)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("__comp")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in comp:
            by_cid.setdefault(r["__cid"], {})[r["__pos"]] = r["__comp"]
        cents = [
            [by_cid[cid][p] for p in range(len(cents[cid]))]
            if cid in by_cid
            else cents[cid]
            for cid in range(k)
        ]
    return cents


def kmeans_cluster_profile(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
    round_to: int = 6,
) -> DataFrame:
    """Train k-means, then profile the final clustering: one row per
    cluster with its member count and centroid (rounded for a stable
    cross-engine output). The final assignment reuses the join-free
    projection, so the whole query is n_iter+1 scans of the vectors."""
    cents = kmeans_fit(df, id_col, vec_col, k, n_iter)
    dfv = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    assigned = dfv.withColumn("cid", assign_to_nearest(F.col("__v"), cents))
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn(
            "centroid",
            F.transform(
                F.element_at(cent_lit, F.col("cid") + 1),
                lambda x: F.round(x, round_to),
            ),
        )
        .orderBy("cid")
    )
