"""Aggregation operators: timechart (Humio's flagship visualization agg),
top-k, equi-depth buckets. All built on ``groupBy().agg()`` so Catalyst plans
hash aggregation with map-side partial aggregation — each executor
pre-aggregates before the shuffle, so shuffle volume is O(groups), not
O(rows), which is what makes these viable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def timechart(
    df: DataFrame,
    ts_col: str,
    span: str,
    aggs: Sequence[Column],
    dims: Sequence[str] = (),
    slide: str | None = None,
) -> DataFrame:
    """Humio-style ``timechart(span=..., by=dims, function=aggs)``.

    Emits ``bucket_start`` as epoch seconds (engine-portable, avoids
    timestamp-repr drift between engines). Tumbling by default; pass
    ``slide`` for sliding windows.
    """
    win = F.window(F.col(ts_col), span, slide) if slide else F.window(F.col(ts_col), span)
    grouped = df.groupBy(win.alias("__w"), *[F.col(d) for d in dims])
    out = grouped.agg(*aggs)
    return out.select(
        F.unix_timestamp(F.col("__w.start")).alias("bucket_start"),
        *[F.col(d) for d in dims],
        *[F.col(c) for c in out.columns if c != "__w" and c not in dims],
    )


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. ``orderBy().limit(k)`` compiles to TakeOrderedAndProject:
    each partition keeps only its local top-k, the driver merges k*P rows —
    no full sort, no full shuffle. Safe at any scale for small k."""
    return df.orderBy(*order).limit(k)


def approx_equi_depth_buckets(
    df: DataFrame, value_col: str, n_buckets: int, accuracy: int = 10000
) -> DataFrame:
    """Scale path for equi-depth histograms (the exact NTILE form in
    ``queries/mining.py::equi_depth_price_histogram`` is a single-reducer
    sort): ONE pass computes ``approx_percentile`` boundaries (a mergeable
    sketch — map-side partials, O(accuracy) driver state), and a second
    map-only pass buckets each row by comparing against the broadcast
    boundary array. No global sort, no single-partition exchange; error is
    bounded by the sketch accuracy (1/accuracy relative rank error).

    Returns (bucket, n_rows, lo, hi) with 1-based buckets; bucket sizes
    deviate from N/n_buckets by at most ~N/accuracy per boundary.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # bounded driver state: (n_buckets - 1) doubles
    [bounds] = df.agg(
        F.percentile_approx(
            F.col(value_col), F.array(*[F.lit(p) for p in probs]), accuracy
        ).alias("b")
    ).collect()
    arr = F.array(*[F.lit(float(b)) for b in bounds["b"]])
    # bucket = 1 + number of boundaries strictly below the value; codegen
    # HOF over the broadcast literal array, no join
    bucket = F.lit(1) + F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(value_col) > b, 1).otherwise(0),
    )
    return (
        df.select(F.col(value_col).alias("v"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )
