"""Vector math over ``array<float>`` embedding columns.

Built on higher-order functions (``zip_with`` + ``aggregate``) — the whole
dot product runs JVM-side inside codegen; no Python, no UDF serialization.
Doubles accumulate left-to-right over the array, which is a *deterministic*
order (array element order is data, not partitioning), so results are
reproducible and oracle-checkable after rounding.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_int8(a: Column) -> tuple[Column, Column]:
    """Symmetric int8 quantization of a vector column: returns
    ``(scale, quantized)`` where ``scale = max(|x|) / 127`` and
    ``quantized[i] = round(x[i] / scale)`` (SQL ROUND — half away from
    zero, identical in Spark and DuckDB). All-zero vectors get scale 0 and
    an all-zero code vector. Pure codegen HOFs — a narrow projection that
    cuts embedding bytes 4x before they ride any shuffle, which at 100 TB
    is the difference between shipping vectors and shipping codes."""
    v = F.transform(a, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    q = F.when(amax == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale, 0).cast("int"))
    )
    return scale, q


def dequantize_error(a: Column, scale: Column, q: Column) -> Column:
    """RMS reconstruction error of an int8 quantization: sqrt(mean((x -
    q*scale)^2)) with a left-to-right double fold (DuckDB list_reduce
    parity)."""
    v = F.transform(a, lambda x: x.cast("double"))
    sq = F.zip_with(
        v, q, lambda x, qi: (x - qi.cast("double") * scale) * (x - qi.cast("double") * scale)
    )
    return F.sqrt(
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(v).cast("double")
    )


def cosine_pairs_lookup(
    pairs,
    vectors,
    id_col: str,
    vec_col: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
    out_col: str = "__cos",
    max_vectors: int = 4_000_000,
    max_matrix_bytes: int = 512 * 1024 * 1024,
):
    """Exact cosine for an (id_a, id_b) pair frame WITHOUT shipping the
    vectors per pair: the (broadcast-bounded) vector table is collected
    once, broadcast to the workers as one numpy matrix, and each Arrow
    batch of pairs is scored by an indexed gather + blockwise math —
    the pairs cross the Python boundary as two id columns (16 B/pair)
    instead of two full vectors (~1 KB/pair at dim 64).

    This is the §8-style "decide with small rows" shape for verify
    stages whose vector side is ALREADY broadcast-sized by contract
    (``embedding_near_dup_pairs(broadcast_vectors=True)``, the
    admission loops' bounded micro-batch + candidate-partner set): the
    previous formulation broadcast the same table into two hash joins
    and then paid ~1 KB/pair of Arrow traffic to evaluate the cosine —
    measured 85-670 s of task time for 1.25M pairs at sf0.1, vs a few
    seconds for the id-indexed gather.

    Semantics are identical to ``cosine_pairs`` over
    ``pairs JOIN vectors ON id_a JOIN vectors ON id_b``:

    - accumulation is dimension-by-dimension float64 (the engine-wide
      left-to-right IEEE order), bit-identical to the fold and DuckDB;
    - an id absent from ``vectors``, or one whose vector is NULL,
      yields NULL (the inner-join formulation dropped the pair; a NULL
      cosine fails every downstream threshold the same way);
    - mismatched vector lengths yield NULL (the fold's zip_with pads
      with NULL), zero-norm vectors yield NaN — both preserved;
    - a duplicated id in ``vectors`` is an error (the join would have
      fanned the pair out; refuse loudly instead of guessing).

    ``max_vectors`` is the refuse-loudly bound on the collected ROW
    count (same contract as ``cosine_topk_bruteforce.max_probes``);
    ``max_matrix_bytes`` bounds the collected matrix's DRIVER/EXECUTOR
    memory dimension-aware (rows x dim x 8 bytes of float64 — VERDICT
    r14 #6: a row-count bound alone scales linearly with dim, so
    4M x dim-512 rows would be 16 GB). Both are checked by one
    aggregate (row count, total vector length) BEFORE the collect, so a
    violating table is never collected; callers whose vector side
    can exceed either bound must keep the join formulation."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    n_rows, n_floats = vectors.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col(vec_col).isNotNull(), F.size(vec_col))),
    ).collect()[0]
    if n_rows > max_vectors:
        raise ValueError(
            f"cosine_pairs_lookup: vector side exceeds max_vectors="
            f"{max_vectors} rows — it no longer fits the broadcast "
            "contract; use the join + cosine_pairs formulation"
        )
    if (n_floats or 0) * 8 > max_matrix_bytes:
        raise ValueError(
            "cosine_pairs_lookup: vector matrix exceeds "
            f"max_matrix_bytes={max_matrix_bytes} ({n_rows} rows, "
            f"{n_floats} floats x 8 B float64) — it no longer fits the "
            "broadcast contract; use the join + cosine_pairs formulation"
        )
    rows = vectors.select(id_col, vec_col).collect()
    by_id: dict = {}
    vecs: list = []
    for r in rows:
        rid = r[0]
        if rid in by_id:
            raise ValueError(
                f"cosine_pairs_lookup: duplicate id {rid!r} in the "
                "vector table — the join formulation would fan pairs "
                "out; dedup the vector side first"
            )
        v = r[1]
        if v is None:
            by_id[rid] = -1  # NULL vector: cosine is NULL
        else:
            by_id[rid] = len(vecs)
            vecs.append([float(x) for x in v])
    # group by length so ragged tables still gather correctly; the
    # common case is one uniform dim
    sc = pairs.sparkSession.sparkContext
    lens = sorted({len(v) for v in vecs})
    mats = {
        ln: np.asarray([v for v in vecs if len(v) == ln], dtype=np.float64)
        for ln in lens
    }
    # positional gather tables keyed by ONE pd.Index over the ids (the
    # per-pair id -> row lookup runs through Index.get_indexer — a C
    # hash probe per id — instead of a per-element Python dict map,
    # which dominated the UDF at ~450k pairs/eval): len_arr[i] is id
    # i's length class (-1 = NULL vector), row_arr[i] its row within
    # that class's matrix
    ids_index = pd.Index([r[0] for r in rows])
    len_arr = np.empty(len(rows), dtype=np.int64)
    row_arr = np.empty(len(rows), dtype=np.int64)
    perlen_counter = {ln: 0 for ln in lens}
    for i, r in enumerate(rows):
        ix = by_id[r[0]]
        if ix < 0:
            len_arr[i] = -1
            row_arr[i] = -1
        else:
            ln = len(vecs[ix])
            len_arr[i] = ln
            row_arr[i] = perlen_counter[ln]
            perlen_counter[ln] += 1
    b_index = sc.broadcast(ids_index)
    b_len = sc.broadcast(len_arr)
    b_row = sc.broadcast(row_arr)
    b_mats = sc.broadcast(mats)

    @pandas_udf("double")
    def _cos(ia: pd.Series, ib: pd.Series) -> pd.Series:
        index_ = b_index.value
        len_ = b_len.value
        row_ = b_row.value
        mats_ = b_mats.value
        n = len(ia)
        out = np.full(n, np.nan, dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        # vectorized positional gather; ids absent from the table (and
        # NULL pair ids) resolve to -1 and stay length class -2
        pa = index_.get_indexer(ia)
        pb = index_.get_indexer(ib)
        la = np.where(pa >= 0, len_[pa], -2)
        lb = np.where(pb >= 0, len_[pb], -2)
        ra = np.where(pa >= 0, row_[pa], -1)
        rb = np.where(pb >= 0, row_[pb], -1)
        for ln, M in mats_.items():
            sel = (la == ln) & (lb == ln)
            if not sel.any():
                continue
            A = M[ra[sel]]
            B = M[rb[sel]]
            d = np.zeros(A.shape[0], dtype=np.float64)
            na = np.zeros(A.shape[0], dtype=np.float64)
            nb = np.zeros(A.shape[0], dtype=np.float64)
            for j in range(ln):
                # same left-to-right IEEE order as the fold / DuckDB
                d += A[:, j] * B[:, j]
                na += A[:, j] * A[:, j]
                nb += B[:, j] * B[:, j]
            out[sel] = d / (np.sqrt(na) * np.sqrt(nb))
            valid[sel] = True
        if valid.all():
            # fast path (every pair resolved): a plain float64 series —
            # computed NaNs (zero-norm vectors) pass through as NaN
            return pd.Series(out)
        # object series so missing/NULL-vector pairs stay SQL NULL while
        # computed NaNs (zero-norm) stay NaN — Spark's NaN orders above
        # every number, NULL fails every comparison; the two must not mix
        res = pd.Series([None] * n, dtype=object)
        if valid.any():
            res[valid] = out[valid].tolist()
        return res

    # asNondeterministic: the function IS deterministic, but the marker
    # stops the optimizer's pushed-down filter from DUPLICATING the
    # evaluation (guide §4.4 shape — ``withColumn(c, udf).filter(c)``
    # otherwise plans TWO ArrowEvalPython nodes over the full pair set;
    # measured as 2x the dominant verify job at sf0.1)
    return pairs.withColumn(
        out_col, _cos.asNondeterministic()(F.col(a_col), F.col(b_col))
    )


def cosine_pairs(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine between two vector columns.

    One pandas UDF computes dot + both norms for the whole batch,
    accumulated dimension-by-dimension in float64 — the SAME
    left-to-right addition order as the ``cosine_similarity`` fold and
    DuckDB's list_reduce, so all three agree bit-for-bit (pinned by
    tests/test_approx.py). Use on candidate-pair hot paths where the
    interpreted fold costs ~µs per array element; NULL in either input
    yields NULL, matching the fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        mask = (va.notna() & vb.notna()).to_numpy()
        out = pd.Series([None] * len(va), dtype=object)
        if not mask.any():
            return out
        A = np.asarray(va[mask].tolist(), dtype=np.float64)
        B = np.asarray(vb[mask].tolist(), dtype=np.float64)
        d = np.zeros(A.shape[0], dtype=np.float64)
        na = np.zeros(A.shape[0], dtype=np.float64)
        nb = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(A.shape[1]):
            d += A[:, j] * B[:, j]
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        out[mask] = (d / (np.sqrt(na) * np.sqrt(nb))).tolist()
        return out

    # asNondeterministic stops filter pushdown from duplicating the
    # ArrowEvalPython node when the caller filters on the cosine column
    # (guide §4.4); the function itself is pure
    return _cos.asNondeterministic()(a, b)
