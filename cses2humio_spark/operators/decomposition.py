"""PCA over embedding columns (SURVEY.md §2.2 LLM-pipeline extensions) —
the dimensionality-reduction step a training-data pipeline runs before
ANN indexing or clustering (project float vectors onto the top-k
principal directions; smaller vectors, cheaper LSH/IVF).

Scale design (the classic two-phase shape):
- ``pca_fit``: ONE Arrow-batched pass computes per-partition moment
  partials in numpy — (n, Σv, ΣvvT) — emitted as one row per partition;
  the driver combines ≤ #partitions rows of O(d²) floats (bounded state:
  d is the embedding width, 16–1024, never the corpus) and runs the d×d
  eigendecomposition locally. No shuffle at all — the moments reduce
  map-side.
- ``pca_project``: pure-codegen projection. By linearity,
  ``(v - μ)·w = v·w - μ·w``, so each output component is one literal-array
  dot product minus a precomputed scalar — no UDF, no Python, whole-stage
  codegen; at 100 TB this is a narrow map over the corpus.

Determinism: eigenvectors are sign-fixed (the component's
largest-magnitude coordinate is made positive) so repeated fits are
bit-identical; ``numpy.linalg.eigh`` on the symmetric covariance is
deterministic for a fixed input, and the input moments are float64 sums
accumulated dimension-by-dimension in partition order — pinned by the
variance/reconstruction tests rather than a SQL oracle (eigenvectors are
not SQL-expressible).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cses2humio_spark.functions.vectors import dot


@dataclass(frozen=True)
class PcaModel:
    mean: tuple[float, ...]           # (d,)
    components: tuple[tuple[float, ...], ...]  # (k, d) rows = directions
    explained_variance: tuple[float, ...]      # (k,) eigenvalues, desc
    total_variance: float                      # trace of covariance
    n: int

    @property
    def explained_variance_ratio(self) -> tuple[float, ...]:
        if self.total_variance <= 0:
            return tuple(0.0 for _ in self.explained_variance)
        return tuple(v / self.total_variance for v in self.explained_variance)


def _make_moment_mapper(dim: int):
    """Factory (cloudpickle ships by value): per-partition moment
    partials — one output row of (n, sum(d), flat outer-sum(d*d))."""

    def moments(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = np.zeros(dim, dtype=np.float64)
        ss = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            col = pdf.iloc[:, 0]
            keep = col.notna()
            if not keep.any():
                continue
            v = np.asarray(col[keep].tolist(), dtype=np.float64)
            n += v.shape[0]
            s += v.sum(axis=0)
            ss += v.T @ v
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    return moments


def pca_fit(df: DataFrame, vec_col: str, k: int) -> PcaModel:
    """Fit a k-component PCA on ``vec_col`` (array<float/double>); NULL
    vectors are skipped. One distributed pass, no shuffle; driver state
    is O(partitions * d^2) partial rows then one d*d eigh."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        raise ValueError("pca_fit: no non-null vectors")
    dim = len(first[0])
    if k > dim:
        raise ValueError(f"k ({k}) exceeds embedding dim ({dim})")
    partials = (
        df.select(F.col(vec_col).cast("array<double>"))
        .mapInPandas(
            _make_moment_mapper(dim),
            schema="n bigint, s array<double>, ss array<double>",
        )
        .collect()  # bounded: one row per partition
    )
    n = sum(int(r["n"]) for r in partials)
    if n < 2:
        raise ValueError(f"pca_fit: needs >= 2 vectors, got {n}")
    s = np.zeros(dim)
    ss = np.zeros((dim, dim))
    for r in partials:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(dim, dim)
    mu = s / n
    # sample covariance: (Σ v vT - n μ μT) / (n - 1)
    cov = (ss - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    ev_out = []
    for idx in order:
        w = evecs[:, idx]
        # sign fix: the largest-|coordinate| is positive -> deterministic
        j = int(np.argmax(np.abs(w)))
        if w[j] < 0:
            w = -w
        comps.append(tuple(float(x) for x in w))
        ev_out.append(float(max(evals[idx], 0.0)))
    return PcaModel(
        mean=tuple(float(x) for x in mu),
        components=tuple(comps),
        explained_variance=tuple(ev_out),
        total_variance=float(max(np.trace(cov), 0.0)),
        n=n,
    )


def pca_project(
    df: DataFrame, vec_col: str, model: PcaModel, out_col: str = "pca"
) -> DataFrame:
    """Project ``vec_col`` onto the model's components — an
    ``array<double>`` of length k. Pure codegen: each component is one
    literal dot product minus the precomputed ``μ·w`` scalar (linearity of
    the centering), so the projection never leaves the JVM."""
    v = F.col(vec_col).cast("array<double>")
    comps = []
    for w in model.components:
        center = sum(m * wi for m, wi in zip(model.mean, w))
        weights = F.array(*[F.lit(float(x)) for x in w])
        comps.append(dot(v, weights) - F.lit(float(center)))
    return df.withColumn(out_col, F.array(*comps))
