"""Vector math over ``array<float>`` embedding columns, in two
formulations of one arithmetic:

- JVM column builders (``dot``, ``sq_l2``, ``cosine_similarity``, ...)
  on higher-order functions (``zip_with`` + ``aggregate``): the whole
  computation runs JVM-side, no Python, no UDF serialization;
- ``make_vector_kernel``: the numpy bodies every Arrow vector operator
  runs (cosine blocks, paired cosines, hyperplane dots).

Both accumulate doubles left-to-right over the array, which is a
*deterministic* order (array element order is data, not partitioning),
so the two formulations and DuckDB's ``list_reduce`` oracle agree bit for
bit and results are oracle-checkable after rounding.
"""

from __future__ import annotations

from collections import namedtuple

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(a: Column) -> Column:
    """``a`` with every element cast to double."""
    return F.transform(a, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 between two double arrays: zip in index order, left
    fold (0.0 + e1 + e2 ... == the oracle's list_reduce, IEEE-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def residual(a: Column, b: Column) -> Column:
    """Elementwise ``a - b`` in double: a vector's residual against its
    coarse centroid."""
    return F.zip_with(as_double(a), as_double(b), lambda x, y: x - y)


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
    v = as_double(a)
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
    v = as_double(a)
    sq = F.zip_with(
        v, q, lambda x, qi: (x - qi.cast("double") * scale) * (x - qi.cast("double") * scale)
    )
    return F.sqrt(
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(v).cast("double")
    )


_VectorKernel = namedtuple(
    "_VectorKernel", "matrix sq_norms dots cos_block cos_rows"
)


def make_vector_kernel():
    """The numpy bodies of the Arrow vector operators, as a closure
    factory: call it on the driver and capture the returned functions
    (by name — ``make_vector_kernel().cos_block`` — never the namedtuple
    itself) in worker closures, so cloudpickle ships them by value;
    Python workers cannot import this package when the application
    starts from another directory.

    Every body accumulates float64 dimension by dimension, j = 0..dim-1,
    one IEEE multiply and one add per step — the order of the ``dot`` /
    ``cosine_similarity`` folds and of DuckDB's list_reduce.

    - ``matrix(values) -> (M, lens)``: the vectors as float64 rows
      zero-padded to the longest one; ``lens[i]`` is row i's length, -1
      for a NULL vector. Padding adds exact zeros, so a same-length pair
      scores as if unpadded.
    - ``sq_norms(A)``, ``dots(A, B)`` (an n x m block): over padded
      matrices.
    - ``cos_block(a, b)`` (n x m) and ``cos_rows(a, b)`` (paired rows)
      over ``(M, lens)`` pairs return ``(cos, defined)``. The length rule:
      a pair with a NULL side or with different lengths has a NULL
      cosine (the fold's zip_with pads the shorter side with NULL) —
      ``defined`` is False and ``cos`` NaN there. A zero-norm vector
      gives a NaN cosine with ``defined`` True."""
    import numpy as np

    def matrix(values):
        vals = list(values)
        lens = np.array(
            [-1 if v is None else len(v) for v in vals], dtype=np.int64
        )
        width = int(lens.max(initial=0))
        full = lens == width
        if full.all():
            M = np.asarray(vals, dtype=np.float64).reshape(len(vals), width)
            return M, lens
        M = np.zeros((len(vals), width), dtype=np.float64)
        if full.any():
            M[full] = np.asarray(
                [vals[i] for i in np.flatnonzero(full)], dtype=np.float64
            ).reshape(-1, width)
        for i in np.flatnonzero((lens > 0) & ~full):
            M[i, : lens[i]] = vals[i]
        return M, lens

    def widen(A, width):
        if A.shape[1] == width:
            return A
        return np.pad(A, ((0, 0), (0, width - A.shape[1])))

    def row_dots(A, B):
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(A.shape[1]):
            acc += A[:, j] * B[:, j]
        return acc

    def sq_norms(A):
        return row_dots(A, A)

    def dots(A, B):
        width = max(A.shape[1], B.shape[1])
        A, B = widen(A, width), widen(B, width)
        acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
        for j in range(width):
            acc += A[:, j : j + 1] * B[:, j]
        return acc

    def cos_block(a, b):
        (A, la), (B, lb) = a, b
        nrm_a, nrm_b = np.sqrt(sq_norms(A)), np.sqrt(sq_norms(B))
        cos = dots(A, B) / (nrm_a[:, None] * nrm_b[None, :])
        defined = (la[:, None] == lb[None, :]) & (la[:, None] >= 0)
        return np.where(defined, cos, np.nan), defined

    def cos_rows(a, b):
        (A, la), (B, lb) = a, b
        width = max(A.shape[1], B.shape[1])
        A, B = widen(A, width), widen(B, width)
        cos = row_dots(A, B) / (np.sqrt(sq_norms(A)) * np.sqrt(sq_norms(B)))
        defined = (la == lb) & (la >= 0)
        return np.where(defined, cos, np.nan), defined

    return _VectorKernel(matrix, sq_norms, dots, cos_block, cos_rows)


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
    admission loops' bounded micro-batch + candidate-partner set):
    broadcasting the same table into two hash joins pays ~1 KB/pair of
    Arrow traffic to evaluate the cosine — measured 85-670 s of task
    time for 1.25M pairs at sf0.1, vs a few seconds for the id-indexed
    gather.

    Semantics are identical to ``cosine_pairs`` over
    ``pairs JOIN vectors ON id_a JOIN vectors ON id_b``:

    - the kernel's ``cos_rows`` scores each pair, bit-identical to the
      fold and DuckDB;
    - an id absent from ``vectors``, or one whose vector is NULL,
      yields NULL (the inner-join formulation drops the pair; a NULL
      cosine fails every downstream threshold the same way);
    - mismatched vector lengths and zero-norm vectors yield NULL;
    - a duplicated id in ``vectors`` is an error (the join would have
      fanned the pair out; refuse loudly instead of guessing).

    ``max_vectors`` is the refuse-loudly bound on the collected ROW
    count (same contract as ``cosine_topk_bruteforce.max_probes``);
    ``max_matrix_bytes`` bounds the collected matrix's DRIVER/EXECUTOR
    memory dimension-aware (non-NULL rows x the longest vector x 8
    bytes of float64 — a row-count bound alone scales linearly with
    dim, so 4M x dim-512 rows would be 16 GB). Both are checked by one
    aggregate BEFORE the collect, so a violating table is never
    collected; callers whose vector side can exceed either bound must
    keep the join formulation."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    n_rows, n_vectors, width = vectors.agg(
        F.count(F.lit(1)), F.count(vec_col), F.max(F.size(vec_col))
    ).collect()[0]
    if n_rows > max_vectors:
        raise ValueError(
            f"cosine_pairs_lookup: vector side exceeds max_vectors="
            f"{max_vectors} rows — it no longer fits the broadcast "
            "contract; use the join + cosine_pairs formulation"
        )
    if n_vectors * (width or 0) * 8 > max_matrix_bytes:
        raise ValueError(
            "cosine_pairs_lookup: vector matrix exceeds "
            f"max_matrix_bytes={max_matrix_bytes} ({n_vectors} vectors "
            f"x {width} floats x 8 B float64) — it no longer fits the "
            "broadcast contract; use the join + cosine_pairs formulation"
        )
    rows = vectors.select(id_col, vec_col).collect()
    ids = pd.Index([r[0] for r in rows])
    if not ids.is_unique:
        raise ValueError(
            f"cosine_pairs_lookup: duplicate id "
            f"{ids[ids.duplicated()][0]!r} in the vector table — the join "
            "formulation would fan pairs out; dedup the vector side first"
        )
    kernel = make_vector_kernel()
    # one matrix row per non-NULL vector plus a trailing NULL row (length
    # -1, so every pair touching it is undefined). ``row_of`` maps an
    # id's position in ``ids`` to its matrix row; NULL vectors, and
    # absent ids through row_of's own trailing entry (get_indexer's -1),
    # map to -1, the NULL row
    present = np.array([r[1] is not None for r in rows] + [False])
    row_of = np.where(present, np.cumsum(present) - 1, -1)
    mat = kernel.matrix([r[1] for r in rows if r[1] is not None] + [None])
    sc = pairs.sparkSession.sparkContext
    b_ids, b_row, b_mat = sc.broadcast(ids), sc.broadcast(row_of), sc.broadcast(mat)
    cos_rows = kernel.cos_rows

    @pandas_udf("double")
    def _cos(ia: pd.Series, ib: pd.Series) -> pd.Series:
        ids_, row_ = b_ids.value, b_row.value
        M, lens = b_mat.value

        def gather(col):
            # a C hash probe per id (Index.get_indexer), not a per-element
            # Python dict map
            r = row_[ids_.get_indexer(col)]
            return M[r], lens[r]

        # computed NaNs and undefined pairs both reach Spark as NULL
        return pd.Series(cos_rows(gather(ia), gather(ib))[0])

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

    One pandas UDF scores the whole batch with the kernel's
    ``cos_rows`` — bit-identical to the ``cosine_similarity`` fold
    (pinned by tests/test_approx.py). Use on candidate-pair hot paths
    where the interpreted fold costs ~µs per array element. NULL in
    either input, or vectors of different lengths, yield NULL, matching
    the fold; a zero-norm vector yields NULL too (the fold gives NaN)."""
    from pyspark.sql.functions import pandas_udf

    kernel = make_vector_kernel()
    matrix, cos_rows = kernel.matrix, kernel.cos_rows

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        return pd.Series(cos_rows(matrix(va), matrix(vb))[0])

    # asNondeterministic stops filter pushdown from duplicating the
    # ArrowEvalPython node when the caller filters on the cosine column
    # (guide §4.4); the function itself is pure
    return _cos.asNondeterministic()(a, b)
