"""Similarity search over embedding columns (SURVEY.md §2.2).

Two tiers:
- ``cosine_topk_bruteforce``: exact top-k by cosine. The query side is
  broadcast (small set of probe vectors); the corpus streams through a
  single map + per-probe top-k (TakeOrdered via window). Exact and
  oracle-checkable; cost O(|corpus| * |probes|) — the right baseline, and
  still viable at 100 TB when |probes| is small because it is one broadcast
  + one narrow pass + a k-row-per-probe aggregation.
- ``lsh_topk``: random-hyperplane LSH bucketing (signs of dot products with
  deterministic pseudo-random hyperplanes) — candidates share a signature
  band; exact cosine re-rank inside buckets only. Turns the corpus pass
  into an equi-join on the signature, the 100 TB scale path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cses2humio_spark.functions.vectors import (
    as_double,
    cosine_pairs,
    cosine_similarity,
    make_vector_kernel,
    residual,
    sq_l2,
)


def topk_per_probe(
    scored: DataFrame,
    k: int,
    score: str,
    probe_id_col: str = "probe_id",
    id_col: str = "vec_id",
    ascending: bool = False,
    out: list | None = None,
) -> DataFrame:
    """Each probe's ``k`` best rows: ``row_number() <= k`` over a window
    partitioned by probe, ordered by ``score`` (descending, or ascending
    for distances), ties to the lowest id. Returns ``(probe, id, *out,
    rank)`` with ``out`` defaulting to the score column."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(probe_id_col).orderBy(order, F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, *(out or [score]), "rank")
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    max_probes: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k neighbors for each probe vector, Arrow path.

    One mapInPandas over the corpus: each batch computes its full
    (batch x probes) cosine block with the vector kernel — scores
    bit-identical to the JVM fold and the DuckDB list_reduce oracle —
    and emits only its LOCAL top candidates per probe. The batch keeps
    every row with unrounded cos >= (k-th best in batch) - 1e-6: rounding
    to 6 decimals moves a value by < 5e-7, so any row that could still
    reach the global rounded-then-id-tiebroken top-k survives the cut
    (if k batch rows beat it by > 1e-6 unrounded, they strictly beat it
    rounded too). The final window then ranks batches*k-ish rows instead
    of |corpus| x |probes| — the shuffle shrinks from the cross product to
    the candidate set, which is what lets brute force serve as the exact
    baseline at scale. A row whose cosine is NULL (a NULL vector, or one
    whose length differs from the probe's) or NaN (zero norm) never
    ranks. An empty probe set yields an empty frame of the same schema.
    """
    from cses2humio_spark.sources.catalog import fan_out

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_type = corpus.schema[id_col].dataType.simpleString()
    pid_type = probes.schema[probe_id_col].dataType.simpleString()
    out_schema = (
        f"{probe_id_col} {pid_type}, {id_col} {id_type}, cos_sim double"
    )
    # The probe set is collected to the driver and broadcast into every
    # batch's numpy matrix — its size contract ("probes are small") must be
    # ENFORCED, not assumed: an accidental probes=corpus call at scale is a
    # driver OOM, not an error message. Same refuse-loudly semantics as
    # reshape.map_to_columns' max_keys guard.
    probe_rows = (
        probes.select(probe_id_col, vec_col).limit(max_probes + 1).collect()
    )
    if len(probe_rows) > max_probes:
        raise ValueError(
            f"probe set exceeds max_probes={max_probes} rows; brute-force "
            "cosine broadcasts every probe vector to every task — use the "
            "LSH/IVF path for large probe sets, or raise max_probes "
            "explicitly if the driver can hold them"
        )
    if not probe_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{out_schema}, rank int"
        )
    kernel = make_vector_kernel()
    matrix, cos_block = kernel.matrix, kernel.cos_block
    pids = [r[0] for r in probe_rows]
    P = matrix([r[1] for r in probe_rows])

    def batch_topk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            cos = cos_block(matrix(pdf[vec_col]), P)[0]
            ids = pdf[id_col].to_numpy()
            out_pid, out_id, out_cos = [], [], []
            for pi in range(cos.shape[1]):
                col = cos[:, pi]
                valid = ~np.isnan(col)
                cvals = col[valid]
                cids = ids[valid]
                if cvals.size == 0:
                    continue
                if cvals.size > k:
                    kth = np.partition(cvals, cvals.size - k)[cvals.size - k]
                    sel = cvals >= kth - 1e-6
                    cvals, cids = cvals[sel], cids[sel]
                out_pid.extend([pids[pi]] * cvals.size)
                out_id.extend(cids.tolist())
                out_cos.extend(cvals.tolist())
            if out_pid:
                yield pd.DataFrame(
                    {probe_id_col: out_pid, id_col: out_id, "cos_sim": out_cos}
                )

    cand = fan_out(corpus).select(id_col, vec_col).mapInPandas(
        batch_topk, schema=out_schema
    )
    return topk_per_probe(
        cand.withColumn("cos_sim", F.round(F.col("cos_sim"), 6)),
        k, "cos_sim", probe_id_col, id_col,
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: values derived
    from a fixed LCG seeded by the plane index — reproducible across
    engines and runs with no RNG dependency."""
    vals = []
    state = (plane_idx * 2654435761 + 1013904223) & 0xFFFFFFFF
    for _ in range(dim):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        vals.append((state / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append an integer LSH signature: bit i = sign(v . plane_i).

    Computed in one Arrow-batched pandas UDF: all n_planes dots per vector
    in a single pass of the vector kernel's ``dots`` — bit-identical to a
    ``dot`` fold per plane and to DuckDB's list_reduce (pinned by
    tests/test_approx.py::test_lsh_signature_paths_identical), ~20x
    faster than n_planes interpreted higher-order folds. A NULL vector
    signs as 0; a vector whose length is not ``dim`` fails the task with
    a ValueError naming both lengths."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from cses2humio_spark.sources.catalog import fan_out

    kernel = make_vector_kernel()
    matrix, dots = kernel.matrix, kernel.dots
    planes = np.array(
        [_hyperplane(dim, i) for i in range(n_planes)], dtype=np.float64
    )
    weights = np.left_shift(1, np.arange(n_planes, dtype=np.int64))

    @pandas_udf("bigint")
    def _sig(vec: pd.Series) -> pd.Series:
        V, lens = matrix(vec)
        bad = lens[(lens >= 0) & (lens != dim)]
        if bad.size:
            raise ValueError(
                f"lsh_signatures: vector of length {bad[0]} in a "
                f"signature of dim={dim}"
            )
        return pd.Series((dots(V, planes) > 0).astype(np.int64) @ weights)

    # asNondeterministic: joining on lsh_sig makes Catalyst infer an
    # IsNotNull(lsh_sig) filter and push it BELOW the projection, which
    # duplicates the ArrowEvalPython signature pass per join side
    # (guide §4.4); the marker pins one evaluation. The function is
    # pure — the marker only constrains the optimizer.
    return fan_out(df).withColumn(
        "lsh_sig", _sig.asNondeterministic()(F.col(vec_col))
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing the probe's LSH
    signature bucket; exact cosine re-rank within bucket. Recall < 1 by
    design; the bucket equi-join is the scale path (shuffle on signature
    instead of a full cross product).

    ``multiprobe=1`` additionally probes every bucket at Hamming distance 1
    from the probe's signature (n_planes extra buckets per probe — the
    standard recall/cost dial: the probe side fans out, the corpus side
    is untouched, and each (probe, corpus) pair still matches at most one
    signature variant, so no candidate dedup is needed)."""
    c = lsh_signatures(corpus, dim, n_planes, vec_col)
    p = lsh_signatures(
        probes.select(F.col(probe_id_col), F.col(vec_col)), dim, n_planes, vec_col
    ).select(F.col(probe_id_col), F.col(vec_col).alias("__pvec"), "lsh_sig")
    if multiprobe == 1:
        variants = F.array(
            F.col("lsh_sig"),
            *[F.col("lsh_sig").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        p = p.select(
            probe_id_col, "__pvec", F.explode(variants).alias("lsh_sig")
        )
    elif multiprobe != 0:
        raise ValueError("multiprobe must be 0 or 1")
    scored = c.join(p, on="lsh_sig").select(
        F.col(probe_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("__pvec")), 6).alias(
            "cos_sim"
        ),
    )
    return topk_per_probe(scored, k, "cos_sim", probe_id_col, id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = 8,
    n_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_vectors: bool = False,
    sigs_df: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup detection (the vector-space member of the
    dedup family, alongside MinHash/SimHash/Jaccard in operators/dedup.py).

    Candidates are pairs sharing a random-hyperplane LSH bucket — an
    equi self-join on the signature, never the O(n^2) cross product — then
    exact cosine is computed for candidates only and thresholded. The
    threshold applies to the UNROUNDED cosine; ``cos_sim`` is rounded for
    stable cross-engine comparison.

    ``n_bands`` > 1 is the OR-construction that makes hyperplane LSH
    usable at moderate thresholds: ``n_bands`` independent bands of
    ``n_planes`` bits each, a pair is a candidate if ANY band matches
    (recall 1-(1-p^r)^b instead of p^r — a single 8-bit signature at
    cos 0.3 recalls ~2%; 15 bands of 4 bits recall ~85%+). The band join
    shuffles only (band, band_sig, id) — never the vectors, which are
    joined back for the surviving DISTINCT candidate pairs only. At
    100 TB: raise ``n_planes`` so per-band buckets stay small; band count
    multiplies candidate volume, not vector traffic.

    ``broadcast_vectors=True`` hints the verify-stage vector joins as
    broadcasts: when the candidate-pair set dwarfs the vector table (the
    common shape — coarse bands on a clustered corpus), shuffling millions
    of pairs twice to meet a dimension-sized vector side is the dominant
    cost, and the planner can't see it (the pair count is a join output,
    unknown at planning time; AQE only demotes, it can't pre-broadcast a
    side whose size estimate is missing). Leave False when the vector
    table itself is beyond broadcast size — the verify then runs as
    ordinary shuffled equi-joins on id.

    ``sigs_df`` (a frame already carrying ``lsh_sig`` over the same
    total plane count, e.g. a shared persisted signing) skips the
    in-plan signature computation — callers running several
    signature-consuming stages (the admission loop) sign once."""
    total_planes = n_planes * n_bands
    if total_planes > 62:
        raise ValueError("n_planes * n_bands must be <= 62 (bigint signature)")
    sigs = (
        sigs_df
        if sigs_df is not None
        else lsh_signatures(df, dim, total_planes, vec_col)
    )
    if n_bands == 1:
        a = sigs.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "lsh_sig"
        )
        b = sigs.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "lsh_sig"
        )
        cos = cosine_similarity(F.col("__va"), F.col("__vb"))
        return (
            a.join(b, on="lsh_sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cos >= threshold)
            .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        )
    cand = embedding_candidate_pairs(sigs, n_planes, n_bands, id_col)
    if broadcast_vectors:
        # broadcast-contract verify: the vector table is already
        # asserted broadcast-sized, so score the pairs by id-indexed
        # gather against ONE collected matrix instead of two broadcast
        # joins + ~1 KB/pair of Arrow traffic (cosine_pairs_lookup —
        # bit-identical scores, measured ~8x less verify task time at
        # 1.25M candidates / sf0.1). Pairs whose id has no vector row
        # score NULL here where the inner joins dropped them — both
        # fail the threshold filter, so the output is identical.
        from cses2humio_spark.functions.vectors import cosine_pairs_lookup

        return (
            cosine_pairs_lookup(cand, df, id_col, vec_col)
            .filter(F.col("__cos") >= threshold)
            .select(
                "id_a", "id_b", F.round(F.col("__cos"), 6).alias("cos_sim")
            )
        )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = cosine_pairs(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__cos"), 6).alias("cos_sim"))
    )


def cap_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    order_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """Truncate every ``bucket_cols`` bucket to its ``max_bucket_size``
    smallest ``order_col`` rows — the mass-duplicate guard of the banded
    candidate joins (a boilerplate page b times in one bucket fans every
    probe out to b candidates per band). A partitioned rank, parallel per
    bucket. ``max_bucket_size=None`` leaves ``df`` unchanged (exact
    mode); values below 1 are refused."""
    if max_bucket_size is None:
        return df
    if max_bucket_size < 1:
        raise ValueError(f"max_bucket_size must be >= 1, got {max_bucket_size}")
    wb = Window.partitionBy(*bucket_cols).orderBy(order_col)
    return (
        df.withColumn("__r", F.row_number().over(wb))
        .filter(F.col("__r") <= max_bucket_size)
        .drop("__r")
    )


def lsh_band_entries(
    sigs: DataFrame,
    n_planes: int,
    n_bands: int,
    id_col: str = "vec_id",
    id_alias: str | None = None,
) -> DataFrame:
    """Explode each bigint ``lsh_sig`` into ``(id, lsh_sig, band,
    band_sig)`` rows, one per band — a narrow projection done at join
    time, so a stored signature table stays one row per vector. The id
    column is renamed to ``id_alias`` when given."""
    mask = (1 << n_planes) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("lsh_sig"), b * n_planes)
                .bitwiseAND(F.lit(mask))
                .alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    out = id_alias or id_col
    return sigs.select(
        F.col(id_col).alias(out), "lsh_sig", F.explode(bands).alias("__b")
    ).select(
        out,
        "lsh_sig",
        F.col("__b.band").alias("band"),
        F.col("__b.band_sig").alias("band_sig"),
    )


def embedding_candidate_pairs(
    sigs: DataFrame,
    n_planes: int,
    n_bands: int,
    id_col: str = "vec_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a banded-LSH signature frame
    (``lsh_sig`` over ``n_planes * n_bands`` planes), each pair emitted
    EXACTLY ONCE — the candidate block of ``embedding_near_dup_pairs``,
    factored so the admission index can reuse it over a shared signing.

    First-match-only emission: a pair sharing several bands would emerge
    once per shared band; instead of a 10M+-row DISTINCT shuffle, emit it
    only from the LOWEST matching band. Band b matches iff field b of
    x = sig_a XOR sig_b is all-zero, so the lowest matching band is the
    lowest zero field of x — found with pure int64 arithmetic (SWAR
    zero-field detection), which stays inside whole-stage codegen.

    ``max_bucket_size`` (capped mode, ``cap_buckets``): the id_b side is
    truncated per (band, band_sig) bucket, a recall-for-boundedness trade
    for adversarially hot buckets (a constant-vector flood makes one
    bucket quadratic). Truncation breaks the lowest-band guarantee for
    dropped rows, so capped mode emits from EVERY surviving band and
    dedups explicitly — a pair is lost only if it is truncated in ALL of
    its matching bands."""
    entries = lsh_band_entries(sigs, n_planes, n_bands, id_col)
    eb_entries = cap_buckets(
        entries, ["band", "band_sig"], id_col, max_bucket_size
    )
    joined = entries.alias("ea").join(
        eb_entries.alias("eb"),
        (F.col("ea.band") == F.col("eb.band"))
        & (F.col("ea.band_sig") == F.col("eb.band_sig"))
        & (F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}")),
    )
    if max_bucket_size is None:
        joined = joined.filter(
            first_matching_band(
                F.col("ea.lsh_sig"), F.col("eb.lsh_sig"), n_planes, n_bands
            )
            == F.col("ea.band")
        )
    out = joined.select(
        F.col(f"ea.{id_col}").alias("id_a"),
        F.col(f"eb.{id_col}").alias("id_b"),
    )
    # capped mode loses the lowest-band uniqueness guarantee — dedup
    # explicitly (bounded: each bucket contributes <= cap^2 / 2 pairs)
    return out.distinct() if max_bucket_size is not None else out


def auto_band_params(
    n_rows: int,
    bits_budget: int = 60,
    target_bucket_rows: int = 128,
    min_planes: int = 4,
) -> tuple[int, int]:
    """Choose (n_planes, n_bands) for banded hyperplane LSH from corpus
    size: per-band bucket count 2^w should keep expected bucket occupancy
    near ``target_bucket_rows`` (candidate volume per band ~ buckets x
    occupancy^2 / 2 — occupancy is THE quadratic lever), then spend the
    rest of the signature-bit budget on bands (each band multiplies
    recall: 1-(1-p^w)^b).

    Measured on the near-orthogonal synthetic corpus: n=2k -> (4, 15)
    (the recall-pinned default); n=20k -> (8, 7), which cut the 10x-scale
    near-dup query from 51s to 8.4s by shrinking candidates from ~62% of
    all pairs to ~2.7% (docs/SCALING.md). Fixed (w, b) in a growing
    corpus is the scaling bug; derive them from n."""
    import math

    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    w = max(min_planes, math.ceil(math.log2(max(n_rows / target_bucket_rows, 2.0))))
    w = min(w, bits_budget)
    return w, max(1, bits_budget // w)


def first_matching_band(
    sig_a: Column, sig_b: Column, n_planes: int, n_bands: int
) -> Column:
    """Index of the lowest band whose ``n_planes``-bit field agrees
    between two LSH signatures, as a codegen-friendly int64 expression.

    Field b agrees iff field b of ``x = sig_a XOR sig_b`` is zero. The
    lowest zero field is found with the SWAR trick: for field width w >= 2,
    ``t = (x - L1) & ~x & LH`` (L1 = low bit of every field, LH = high bit
    of every field) sets the high marker bit of a field iff it is zero —
    exactly, for every field up to and including the lowest zero one
    (borrow propagation only starts there, and a nonzero field below it
    can never have both ``~x`` high bit and a borrow-free ``-1`` carry
    into its high bit). The lowest marker's bit index div w is the band.
    Returns an undefined band (from garbage high bits) only when NO band
    matches — callers compare against a band that is known to match.
    """
    w = n_planes
    x = sig_a.bitwiseXOR(sig_b)
    if w == 1:
        # field == bit: lowest zero bit among the band fields
        fields = sum(1 << b for b in range(n_bands))
        t = F.bitwise_not(x).bitwiseAND(F.lit(fields))
    else:
        low1 = sum(1 << (b * w) for b in range(n_bands))
        high1 = sum(1 << (b * w + w - 1) for b in range(n_bands))
        t = (
            (x - F.lit(low1))
            .bitwiseAND(F.bitwise_not(x))
            .bitwiseAND(F.lit(high1))
        )
    lowest = t.bitwiseAND(-t)
    return (F.bit_count(lowest - F.lit(1)) / F.lit(w)).cast("int")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """IVF coarse quantization: assign every corpus vector to its nearest
    centroid by cosine (ties -> lowest centroid id). Centroids are broadcast
    (tiny by construction); the argmax is a grouped MIN over a
    ``(-cos, cid)`` struct — struct ordering is lexicographic, so the
    minimum is exactly (highest cosine, ties -> lowest cid) — not a
    row_number window. Both plans exchange ~one row per vector (Spark's
    WindowGroupLimit rule pushes an rn==1 cap map-side), but the
    aggregate drops the per-partition SORT the window needs (hash
    partials replace sort+rank) and does not depend on a rank-pushdown
    optimizer rule holding — min is associative by construction, on any
    engine (docs/SCALING.md).

    CONTRACT: corpus vectors must be well-formed — no NULL vectors and
    no zero-norm vectors. Degenerate cosines have no meaningful nearest
    centroid: NaN = 0/0 sorts last after negation, and a NULL cosine
    struct wins the MIN, so such a vector lands on an arbitrary-looking
    centroid. Every registered corpus satisfies the contract (the oracle
    hash-matches pin it); callers feeding user vectors should
    drop/normalize degenerate rows first."""
    from cses2humio_spark.sources.catalog import fan_out

    c = centroids.select(F.col(cid_col), F.col(vec_col).alias("__cvec"))
    scored = fan_out(corpus).join(F.broadcast(c)).select(
        F.col(id_col),
        F.col(cid_col),
        cosine_similarity(F.col(vec_col), F.col("__cvec")).alias("__cos"),
    )
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("__cos")).alias("nc"), F.col(cid_col).alias("c")
            )
        ).alias("__best")
    )
    return best.select(id_col, F.col("__best.c").alias(cid_col))


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    cid_col: str = "cid",
) -> DataFrame:
    """IVF approximate nearest neighbor: the classic inverted-file index as
    a dataflow. (1) corpus vectors are bucketed into per-centroid inverted
    lists (``ivf_assign``); (2) each probe ranks the centroids and keeps its
    ``nprobe`` nearest; (3) candidates = those centroids' lists, fetched by
    an equi-join on centroid id; (4) exact cosine re-rank, top-k.

    Scale shape: the expensive pass over the corpus happens once (the
    assignment — a broadcast join + narrow argmax); each query then touches
    only ~nprobe/n_centroids of the corpus via the centroid-id equi-join.
    Recall < 1 by design (like FAISS IVF with small nprobe)."""
    assign = ivf_assign(corpus, centroids, id_col, vec_col, cid_col)
    c = centroids.select(F.col(cid_col), F.col(vec_col).alias("__cvec"))
    probe_lists = _nearest_cells(
        probes, c, nprobe, vec_col, probe_id_col, cid_col
    )
    cand = probe_lists.join(assign, on=cid_col).select(
        probe_id_col, id_col, "__pvec"
    )
    scored = cand.join(corpus.select(id_col, vec_col), on=id_col).select(
        F.col(probe_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("__pvec")), 6).alias(
            "cos_sim"
        ),
    )
    return topk_per_probe(scored, k, "cos_sim", probe_id_col, id_col)


def _nearest_cells(
    probes: DataFrame,
    cvecs: DataFrame,
    nprobe: int,
    vec_col: str,
    probe_id_col: str,
    cid_col: str,
) -> DataFrame:
    """Each probe's ``nprobe`` nearest cells by cosine against the
    broadcast ``cvecs`` (``cid_col``, ``__cvec``), ties to the lowest
    cell id: ``(probe, cid, __pvec, rank)``."""
    p = probes.select(F.col(probe_id_col), F.col(vec_col).alias("__pvec"))
    scored = p.join(F.broadcast(cvecs)).select(
        probe_id_col,
        cid_col,
        "__pvec",
        cosine_similarity(F.col("__pvec"), F.col("__cvec")).alias("__cos"),
    )
    return topk_per_probe(
        scored, nprobe, "__cos", probe_id_col, cid_col, out=["__pvec"]
    )


def semdedup_within_cluster(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """SemDeDup-style CLUSTER-BUCKETED semantic deduplication (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): assign every vector to its nearest
    centroid (``ivf_assign`` — broadcast centroids, one narrow argmax
    pass), then compare pairs WITHIN a cluster only, dropping any
    vector that has a lower-id in-cluster neighbor with cosine ≥
    ``threshold``. Returns one decision row per corpus vector:
    ``(id, cid, kept, dup_of)`` with ``dup_of`` the smallest qualifying
    lower id (NULL for kept rows).

    This is the scale path BETWEEN exact dedup and all-pairs similarity:
    the quadratic term is |cluster|² instead of |corpus|² — exactly the
    paper's trade, where k is chosen so clusters fit a worker (at 100 TB
    that is k in the tens of thousands; the biggest cluster bounds the
    stage, so skewed corpora want more centroids or a balanced k-means).
    The in-cluster self-join shuffles on the centroid id; vectors ride
    the shuffle once per side. Against the LSH near-dup operator
    (``embedding_near_dups``) the trade is recall shape: LSH recalls
    across the whole corpus with banding probability, SemDeDup recalls
    exactly 1.0 WITHIN a cluster and 0 across cluster boundaries — the
    paper's argument is that semantic duplicates co-locate under a good
    clustering.

    Determinism contract: the keep/drop rule is "∃ lower id in-cluster
    with cos ≥ threshold" — a total, order-free predicate (unlike
    greedy variants whose output depends on scan order), so the oracle
    can restate it as one EXISTS; cosine accumulates dimension-by-
    dimension in float64 — the engine-wide left-to-right IEEE order —
    so the threshold compare is bit-identical cross-engine.

    Execution shape: the pairwise stage is a grouped ``applyInPandas``
    over the centroid id — each cluster's vectors cross the Arrow
    boundary ONCE and the |cluster|² cosines run blockwise in the vector
    kernel — not a cid-keyed self-join, which shuffles every vector
    twice, evaluates the cosine as an interpreted per-pair fold, and
    (with k distinct join keys) is coalesced by AQE onto a near-single
    task (6.8 s single-threaded at sf0.1; the grouped form runs the same
    125k pairs in < 0.1 s of vectorized math). The group-fits-a-worker
    premise is exactly the paper's contract — k is chosen so clusters
    fit — and the ``semdedup_kmeans_profile`` query measures that bound
    per cluster. Decision parity with the join form is exact: NULL
    vectors and pairs of different lengths have a NULL cosine, so they
    never drop and are never dropped; a NaN cosine (zero-norm vector)
    QUALIFIES as a duplicate on either form (Spark compares NaN greater
    than any number, so ``NaN >= τ`` is true — replicated with an
    explicit isnan-or)."""
    import numpy as np
    import pandas as pd

    assign = ivf_assign(corpus, centroids, id_col, vec_col, cid_col)
    v = corpus.select(id_col, vec_col).join(assign, on=id_col)
    id_type = corpus.schema[id_col].dataType.simpleString()
    thr = float(threshold)
    vc, idc = vec_col, id_col
    kernel = make_vector_kernel()
    matrix, cos_block = kernel.matrix, kernel.cos_block

    def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf[pdf[vc].notna()].sort_values(idc, kind="stable")
        empty = pd.DataFrame({idc: [], "dup_of": []})
        if len(sub) < 2:
            return empty
        ids = sub[idc].to_numpy()
        V, lens = matrix(sub[vc])
        n = len(ids)
        first = np.full(n, -1, dtype=np.int64)
        chunk = max(1, min(1024, 8_000_000 // n))
        cols = np.arange(n)
        for c0 in range(0, n, chunk):
            c1 = min(c0 + chunk, n)
            cos, defined = cos_block((V[c0:c1], lens[c0:c1]), (V, lens))
            qual = ((cos >= thr) | np.isnan(cos)) & defined
            qual &= np.arange(c0, c1)[:, None] < cols[None, :]
            hit = qual.any(axis=0)
            firstrow = np.argmax(qual, axis=0) + c0
            take = hit & (first < 0)
            first[take] = firstrow[take]
        dropped = first >= 0
        if not dropped.any():
            return empty
        return pd.DataFrame(
            {idc: ids[dropped], "dup_of": ids[first[dropped]]}
        )

    dropped = v.groupBy(cid_col).applyInPandas(
        _dedup_cluster, schema=f"{id_col} {id_type}, dup_of {id_type}"
    )
    return assign.join(dropped, on=id_col, how="left").select(
        id_col,
        cid_col,
        F.col("dup_of").isNull().cast("int").alias("kept"),
        "dup_of",
    )


def signed_random_projection(
    df,
    id_col: str,
    vec_col: str,
    in_dims: int,
    out_dims: int = 16,
    seed: str = "rp",
):
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 (Achlioptas)
    projection matrix — the cheap front-end that lets downstream ANN /
    clustering work in ``out_dims`` instead of ``in_dims`` (a 4x shuffle-
    byte cut at the default 64→16 here; vectors ride every similarity
    shuffle, so this is a direct scale lever).

    Determinism contract: the matrix entry sign(o, i) is derived from
    ``md5(f"{seed}{o}:{i}")`` (first hex char in 0-7 → +1) — md5 is md5 in
    every engine, so an oracle can regenerate the identical matrix in SQL;
    each component is a PER-ROW left-to-right double fold (a streaming
    zip_with/aggregate HOF — stays in codegen, no array indexing), which
    is deterministic under any partitioning because no distributed
    summation is involved — the same contract the cosine fold uses, and
    DuckDB's list_reduce replicates the identical IEEE operation order.
    Returns (id, dim, comp) long-form.
    """
    import hashlib

    from pyspark.sql import functions as F

    def sign(o: int, i: int) -> int:
        h = hashlib.md5(f"{seed}{o}:{i}".encode()).hexdigest()[0]
        return 1 if h in "01234567" else -1

    comps = []
    for o in range(out_dims):
        signs = ", ".join(str(sign(o, i)) for i in range(1, in_dims + 1))
        comps.append(
            f"aggregate(zip_with({vec_col}, array({signs}), "
            f"(x, s) -> CASE WHEN s > 0 THEN CAST(x AS DOUBLE) "
            f"ELSE -CAST(x AS DOUBLE) END), "
            f"CAST(0 AS DOUBLE), (acc, y) -> acc + y)"
        )
    stack = ", ".join(f"{o}, {c}" for o, c in zip(range(out_dims), comps))
    return df.selectExpr(
        id_col, f"stack({out_dims}, {stack}) AS (dim, comp)"
    )


# -- product quantization (ADC approximate nearest neighbor) ---------------


def _subspaces(m: int) -> Column:
    """One row per PQ subspace id 0..m-1 (an explode)."""
    return F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub_id")


def _subspace_slice(vec: Column, sub_len: int) -> Column:
    """Subspace ``sub_id``'s slice of ``vec``, in double."""
    return as_double(F.slice(vec, F.col("sub_id") * sub_len + 1, sub_len))


def pq_codebook(
    src: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: subspace j's centroids are the j-th
    slices of the first ``k_codes`` vectors (the same id-prefix
    convention the IVF query uses for coarse centroids — a k-means
    refinement drops in without changing any downstream shape). Returns
    (sub_id, code, cvec); m*k_codes rows — broadcast-sized by
    construction."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return (
        src.filter(F.col(id_col) < k_codes)
        .select(F.col(id_col).alias("code"), vec_col)
        .select("code", _subspaces(m), F.col(vec_col))
        .select(
            "sub_id",
            "code",
            _subspace_slice(F.col(vec_col), dim // m).alias("cvec"),
        )
    )


def pq_codebook_kmeans(
    src: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means-TRAINED PQ codebooks (the opt-in recall upgrade over the
    deterministic id-prefix convention): subspace j's
    k_codes centroids are Lloyd-refined over the corpus's j-th slices.

    All m subspaces train TOGETHER: each iteration is ONE scan of the
    exploded (sub_id, slice) frame — assignment is a join-free literal
    CASE over per-subspace centroid arrays (whole-stage codegen, the
    ``clustering.assign_to_nearest`` contract), and the update shuffle
    carries m * k_codes * sub_len partial sums, never vectors. Centroid
    math is exact-DECIMAL means (partitioning-independent), ties break
    to the lowest code, and an emptied cluster keeps its previous
    centroid — so training is DETERMINISTIC across engines and runs.

    Init is the id-prefix slices in id order: ``n_iter=0`` reproduces
    ``pq_codebook`` exactly (pinned by test), so the trained path is a
    strict refinement that drops into every downstream shape unchanged.
    """
    from cses2humio_spark.operators.clustering import assign_to_nearest
    from cses2humio_spark.sources.catalog import fan_out

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    sub_len = dim // m
    seeds = (
        src.filter(F.col(id_col) < k_codes)
        .select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .orderBy(id_col)
        .collect()
    )
    if len(seeds) < k_codes:
        raise ValueError(
            f"k_codes={k_codes} but only {len(seeds)} seed vectors with "
            f"{id_col} < k_codes"
        )
    # cents[s][c] = subspace s's centroid for code c (k x sub_len doubles
    # per subspace — bounded driver state, the standard k-means shape)
    cents: list[list[list[float]]] = [
        [list(r["__v"][s * sub_len : (s + 1) * sub_len]) for r in seeds]
        for s in range(m)
    ]
    if n_iter > 0:
        sliced = (
            fan_out(src)
            .select(_subspaces(m), F.col(vec_col))
            .select(
                "sub_id",
                _subspace_slice(F.col(vec_col), sub_len).alias("__svec"),
            )
        )
        for _ in range(n_iter):
            assign = F.when(
                F.col("sub_id") == 0,
                assign_to_nearest(F.col("__svec"), cents[0]),
            )
            for s in range(1, m):
                assign = assign.when(
                    F.col("sub_id") == s,
                    assign_to_nearest(F.col("__svec"), cents[s]),
                )
            comp = (
                sliced.withColumn("__c", assign)
                .select(
                    "sub_id", "__c", F.posexplode("__svec").alias("__p", "__x")
                )
                .groupBy("sub_id", "__c", "__p")
                .agg(
                    (
                        F.sum(F.col("__x").cast("decimal(25,10)")).cast(
                            "double"
                        )
                        / F.count(F.lit(1))
                    ).alias("__comp")
                )
                .collect()
            )
            got: dict[tuple[int, int], dict[int, float]] = {}
            for r in comp:
                got.setdefault((r["sub_id"], r["__c"]), {})[r["__p"]] = r[
                    "__comp"
                ]
            cents = [
                [
                    [got[(s, c)][p] for p in range(sub_len)]
                    if (s, c) in got
                    else cents[s][c]
                    for c in range(k_codes)
                ]
                for s in range(m)
            ]
    spark = src.sparkSession
    return spark.createDataFrame(
        [
            (s, c, cents[s][c])
            for s in range(m)
            for c in range(k_codes)
        ],
        "sub_id int, code bigint, cvec array<double>",
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    k: int,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """k-means-trained IVF coarse centroids (opt-in upgrade over the
    id-prefix convention): Lloyd's over the full vectors via
    ``clustering.kmeans_fit`` (deterministic — exact-DECIMAL means,
    id-order seeds), returned in the (cid, vector) shape ``ivf_topk`` /
    ``ivfpq_topk`` / ``PQIndex.build`` accept. Cells are L2-trained
    while IVF ranks cells by cosine — the standard mismatch dial; on
    normalized embeddings the two orders agree."""
    from cses2humio_spark.operators.clustering import kmeans_fit

    cents = kmeans_fit(corpus, id_col, vec_col, k, n_iter)
    return corpus.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        f"{cid_col} bigint, {vec_col} array<double>",
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: (vec_id, sub_id, code) — each vector's j-th slice
    mapped to its nearest subspace centroid (squared L2, rounded to 8
    for the cross-engine determinism contract; ties -> lowest code).
    The codebook joins as a broadcast EQUI-join on sub_id (never a
    cross product); the argmin is a ``min_by`` over the lexicographic
    (distance, code) struct — a declarative aggregate that PARTIALLY
    aggregates map-side, so the exchange carries one row per
    (vec, sub), not the k_codes-scored candidates a ranking window
    would shuffle (a k_codes-fold cut on the pass that touches the
    whole corpus — at 100 TB, the index-build cost)."""
    from cses2humio_spark.sources.catalog import fan_out

    sliced = fan_out(corpus).select(F.col(id_col), F.col(vec_col)).select(
        id_col,
        _subspaces(m),
        F.col(vec_col),
    ).select(
        id_col,
        "sub_id",
        _subspace_slice(F.col(vec_col), dim // m).alias("__svec"),
    )
    scored = sliced.join(F.broadcast(codebook), on="sub_id").select(
        id_col,
        "sub_id",
        "code",
        F.round(sq_l2(F.col("__svec"), F.col("cvec")), 8).alias("__d"),
    )
    # min over the (distance, code) struct == ORDER BY d ASC, code ASC
    # LIMIT 1 — identical tie-break, but partial-aggregable
    return (
        scored.groupBy(id_col, "sub_id")
        .agg(
            F.min_by(
                F.col("code"), F.struct(F.col("__d"), F.col("code"))
            ).alias("code")
        )
        .select(id_col, "sub_id", "code")
    )


def adc_tables(
    probes: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Per-probe ADC lookup tables: (probe_id, sub_id, code, __d) — the
    probe's squared-L2 to every codebook centroid in every subspace.
    P * m * k_codes rows, broadcast-sized by construction."""
    p_sliced = probes.select(
        F.col(probe_id_col), _subspaces(m), F.col(vec_col)
    ).select(
        probe_id_col,
        "sub_id",
        _subspace_slice(F.col(vec_col), dim // m).alias("__pvec"),
    )
    return p_sliced.join(F.broadcast(codebook), on="sub_id").select(
        probe_id_col,
        "sub_id",
        "code",
        F.round(sq_l2(F.col("__pvec"), F.col("cvec")), 8).alias("__d"),
    )


def adc_rank(
    codes: DataFrame,
    tables: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """ADC scoring over pre-encoded codes: broadcast equi-join on
    (sub_id, code) + per-(probe, vec) exact-DECIMAL partial sum (the
    cross-subspace addition order must not depend on partitioning),
    smallest-first top-k. The scan side ships m code rows per vector —
    never the embedding."""
    return adc_topk(
        codes.join(F.broadcast(tables), on=["sub_id", "code"]),
        m, k, id_col, probe_id_col,
    )


def adc_topk(
    looked_up: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """The ADC tail over ``looked_up`` (one ``__d`` row per probe,
    vector and subspace): the per-(probe, vec) partial sum in exact
    DECIMAL (the cross-subspace addition order must not depend on
    partitioning), kept only where all ``m`` subspaces contributed,
    smallest-first top-k; ``adist`` is rounded to 6 places after
    ranking."""
    approx = (
        looked_up.groupBy(probe_id_col, id_col)
        .agg(
            F.sum(F.col("__d").cast("decimal(28,8)"))
            .cast("double")
            .alias("adist"),
            F.count(F.lit(1)).alias("__m"),
        )
        .filter(F.col("__m") == m)
    )
    return topk_per_probe(
        approx, k, "adist", probe_id_col, id_col, ascending=True,
        out=[F.round("adist", 6).alias("adist")],
    )


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    k: int,
    codebook_src: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the memory-bound half of the FAISS recipe (IVF prunes candidates;
    PQ compresses what remains so the scan touches m bytes per vector,
    not the vector). (1) corpus -> m-byte codes (``pq_encode``, one
    pass); (2) each probe precomputes its (sub, code) -> squared-L2
    table against the codebook (``adc_tables``); (3) approx distance =
    the m table lookups + exact-DECIMAL sum, top-k smallest
    (``adc_rank``). Recall < 1 by design.

    This FUSED form re-encodes the corpus inside every query — right
    for oracle-checkability; the production build-once/search-many
    shape is ``operators.ann_index.PQIndex``, which persists the same
    codes/codebook and searches them through the SAME ``adc_tables`` +
    ``adc_rank`` path (results identical by construction)."""
    cb = pq_codebook(
        codebook_src if codebook_src is not None else corpus,
        m, k_codes, dim, id_col, vec_col,
    )
    codes = pq_encode(corpus, cb, m, dim, id_col, vec_col)
    tables = adc_tables(probes, cb, m, dim, vec_col, probe_id_col)
    return adc_rank(codes, tables, m, k, id_col, probe_id_col)


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    cid_col: str = "cid",
) -> DataFrame:
    """The full FAISS recipe as one dataflow: IVF coarse quantization
    prunes the candidate set (each probe touches ~nprobe/n_cells of the
    corpus) and PQ over the RESIDUALS (vector minus its cell centroid —
    the classic formulation; residuals are smaller, so the codebook
    spends its codes on what the cell didn't explain) compresses the
    scan to m code bytes per candidate. ADC tables are per (probe,
    cell): the probe's residual differs per cell, so each visited cell
    gets its own (sub, code) table — still broadcast-sized
    (P * nprobe * m * k_codes rows). Distances sum in exact DECIMAL;
    smallest-first top-k."""
    assign = ivf_assign(corpus, centroids, id_col, vec_col, cid_col)
    cvecs = centroids.select(F.col(cid_col), F.col(vec_col).alias("__cvec"))
    resid = (
        corpus.join(assign, on=id_col)
        .join(F.broadcast(cvecs), on=cid_col)
        .select(
            id_col,
            cid_col,
            residual(F.col(vec_col), F.col("__cvec")).alias("__rvec"),
        )
    )
    cb = pq_codebook(resid, m, k_codes, dim, id_col, "__rvec")
    codes = pq_encode(resid, cb, m, dim, id_col, "__rvec")

    probe_cells, tables = ivfpq_probe_tables(
        probes, centroids, cb, m, dim, nprobe, vec_col, probe_id_col, cid_col
    )
    return ivfpq_adc_rank(
        assign, codes, probe_cells, tables, m, k, id_col, probe_id_col, cid_col
    )


def ivfpq_probe_tables(
    probes: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    nprobe: int,
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    cid_col: str = "cid",
) -> tuple[DataFrame, DataFrame]:
    """IVF-PQ probe-side artifacts: ``(probe_cells, tables)``.
    ``probe_cells`` is each probe's ``nprobe`` nearest cells (ranked
    against the broadcast centroids); ``tables`` are the per-(probe,
    visited-cell) residual ADC tables — the probe's per-cell RESIDUAL
    slice scored against every codebook centroid.
    P * nprobe * m * k_codes rows — broadcast-sized."""
    cvecs = centroids.select(F.col(cid_col), F.col(vec_col).alias("__cvec"))
    probe_lists = _nearest_cells(
        probes, cvecs, nprobe, vec_col, probe_id_col, cid_col
    )
    sub_len = dim // m
    probe_resid = probe_lists.join(F.broadcast(cvecs), on=cid_col).select(
        probe_id_col,
        cid_col,
        residual(F.col("__pvec"), F.col("__cvec")).alias("__prvec"),
    )
    tables = (
        probe_resid.select(probe_id_col, cid_col, _subspaces(m), "__prvec")
        .select(
            probe_id_col,
            cid_col,
            "sub_id",
            F.slice(
                F.col("__prvec"), F.col("sub_id") * sub_len + 1, sub_len
            ).alias("__pslice"),
        )
        .join(F.broadcast(codebook), on="sub_id")
        .select(
            probe_id_col,
            cid_col,
            "sub_id",
            "code",
            F.round(sq_l2(F.col("__pslice"), F.col("cvec")), 8).alias("__d"),
        )
    )
    return probe_lists.select(probe_id_col, cid_col), tables


def ivfpq_adc_rank(
    assign: DataFrame,
    codes: DataFrame,
    probe_cells: DataFrame,
    tables: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    cid_col: str = "cid",
) -> DataFrame:
    """IVF-PQ candidate scoring over pre-encoded residual codes: the
    candidate fetch is an equi-join of visited cells against the
    inverted-list assignment (touching ~nprobe/n_cells of the corpus),
    then the standard ADC join + ``adc_topk`` tail."""
    looked_up = (
        probe_cells.join(assign, on=cid_col)
        .join(codes, on=id_col)
        .join(
            F.broadcast(tables),
            on=[probe_id_col, cid_col, "sub_id", "code"],
        )
    )
    return adc_topk(looked_up, m, k, id_col, probe_id_col)
