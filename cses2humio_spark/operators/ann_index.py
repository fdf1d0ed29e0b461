"""Persisted ANN index: the build-once / search-many split for the PQ
family (SURVEY.md §2.2 similarity surface).

The fused query operators (``similarity.pq_adc_topk`` / ``ivfpq_topk``)
re-encode the corpus inside every query — right for oracle-checkability,
wrong for production: at 100 TB the index is built ONCE (the pass that
touches every vector) and searched MANY times (each search touches the
m-byte codes, never the embeddings). ``PQIndex`` persists exactly the
artifacts the fused plan computes inline —

- ``codebook`` (sub_id, code, cvec): m * k_codes rows, broadcast-sized;
- (ivfpq mode) ``centroids`` (cid, vector): the coarse cells;
- ``codes`` segments (vec_id[, cid], sub_id, code): m rows per vector —
  the ONLY per-vector artifact a search reads; ivfpq segments are
  partitioned by ``cid`` so a search's nprobe cells prune at the scan —

and searches them through the SAME ``adc_tables``/``adc_rank`` (and
``ivfpq_probe_tables``/ADC-join) code path the fused operators use, so
index search results are IDENTICAL to the fused query by construction
(pinned in tests/test_ann_index.py).

Reference parity note: the reference connector (app.py) has no ANN; this
implements the LLM-pipeline surface's production index lifecycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.functions.vectors import as_double, residual, sq_l2
from cses2humio_spark.operators.index_store import VersionedSegmentStore
from cses2humio_spark.operators.similarity import (
    adc_rank,
    adc_tables,
    adc_topk,
    ivf_assign,
    ivfpq_probe_tables,
    pq_codebook,
    pq_encode,
    topk_per_probe,
)


class PQIndex(VersionedSegmentStore):
    """Versioned on-disk PQ / IVF-PQ index.

    ``mode="pq"``: flat product quantization — every search scans all
    codes (m small ints per vector) through the broadcast ADC join.
    ``mode="ivfpq"``: coarse cells + residual PQ — codes carry their
    cell id, segments are partitioned by it, and a search fetches only
    its nprobe cells' inverted lists.

    The geometry (m, k_codes, dim, mode) is pinned in ``_TABLE.json``
    for the index's lifetime: codes are meaningless under a different
    codebook shape, so reopening with different geometry is a loud
    error, never a silent re-interpretation.

    ``build(corpus, codebook_src=None, centroids=None, cid_col="cid",
    codebook="prefix", codebook_iter=4)`` trains the codebook (see
    ``_build_artifacts``) and encodes the corpus — the one pass that
    touches every embedding. Ingest encodes each micro-batch with the
    FROZEN codebook: retraining it would invalidate every stored code,
    so codes are append-only and a new segment never rewrites old ones.
    """

    def __init__(
        self,
        index_dir: str,
        m: int,
        k_codes: int,
        dim: int,
        mode: str = "pq",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        keep_versions: int = 2,
    ):
        if mode not in ("pq", "ivfpq"):
            raise ValueError(f"mode must be 'pq' or 'ivfpq', got {mode!r}")
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        self.m, self.k_codes, self.dim, self.mode = m, k_codes, dim, mode
        self.id_col, self.vec_col = id_col, vec_col
        super().__init__(
            index_dir,
            {"m": m, "k_codes": k_codes, "dim": dim, "mode": mode},
            keep_versions,
        )

    @property
    def partition_col(self) -> str | None:
        return "cid" if self.mode == "ivfpq" else None

    def _live_artifacts(self, manifest: dict) -> dict[str, set[int]]:
        return {
            **super()._live_artifacts(manifest),
            r"codebook_v=(-?\d+)": {manifest["codebook"]},
            r"centroids_v=(-?\d+)": (
                {manifest["centroids"]} if "centroids" in manifest else set()
            ),
        }

    def _codebook_dir(self, version: int) -> str:
        return os.path.join(self.index_dir, f"codebook_v={version}")

    def _centroids_dir(self, version: int) -> str:
        return os.path.join(self.index_dir, f"centroids_v={version}")

    # -- build / encode ----------------------------------------------------

    def _build_artifacts(
        self,
        corpus: DataFrame,
        version: int,
        manifest: dict,
        codebook_src: DataFrame | None = None,
        centroids: DataFrame | None = None,
        cid_col: str = "cid",
        codebook: str = "prefix",
        codebook_iter: int = 4,
    ) -> None:
        """Write the build's codebook (and, ivfpq, its coarse
        ``centroids`` with cell ids in ``cid_col``) before the corpus is
        encoded under them.

        ``codebook="kmeans"`` opts into Lloyd-trained codebooks
        (``similarity.pq_codebook_kmeans``, ``codebook_iter`` rounds) —
        higher recall on clustered corpora; the default ``"prefix"`` is
        the deterministic id-slice convention the oracle-paired queries
        replay. Flat PQ trains on ``codebook_src`` (default the corpus);
        ivfpq trains on the corpus RESIDUALS against the centroids."""
        if codebook not in ("prefix", "kmeans"):
            raise ValueError(
                f"codebook must be 'prefix' or 'kmeans', got {codebook!r}"
            )
        if self.mode == "ivfpq":
            if centroids is None:
                raise ValueError("ivfpq mode needs centroids= at build")
            if codebook_src is not None:
                raise ValueError(
                    "ivfpq trains its codebook on the corpus RESIDUALS — "
                    "an external codebook_src would encode a different "
                    "space; omit it"
                )
            self._write_dir(
                centroids.select(
                    F.col(cid_col).alias("cid"),
                    as_double(F.col(self.vec_col)).alias("cvec"),
                ),
                self._centroids_dir(version),
                manifest,
            )
            manifest["centroids"] = version
            src, vec_col = self._residuals(corpus, manifest), "__rvec"
        else:
            if centroids is not None:
                raise ValueError("centroids= only apply to ivfpq mode")
            src = codebook_src if codebook_src is not None else corpus
            vec_col = self.vec_col
        if codebook == "kmeans":
            from cses2humio_spark.operators.similarity import (
                pq_codebook_kmeans,
            )

            cb = pq_codebook_kmeans(
                src, self.m, self.k_codes, self.dim,
                n_iter=codebook_iter, id_col=self.id_col, vec_col=vec_col,
            )
        else:
            cb = pq_codebook(
                src, self.m, self.k_codes, self.dim, self.id_col, vec_col
            )
        self._write_dir(cb, self._codebook_dir(version), manifest)
        manifest["codebook"] = version

    def _residuals(self, vecs: DataFrame, manifest: dict) -> DataFrame:
        """``(id, cid, __rvec)``: each vector minus its nearest coarse
        centroid from the manifest's stored (double) centroids."""
        cents = self._read_centroids_at(vecs.sparkSession, manifest)
        assign = ivf_assign(
            vecs,
            cents.select("cid", F.col("cvec").alias(self.vec_col)),
            self.id_col,
            self.vec_col,
            "cid",
        )
        return (
            vecs.join(assign, on=self.id_col)
            .join(
                F.broadcast(cents.select("cid", F.col("cvec").alias("__cvec"))),
                on="cid",
            )
            .select(
                self.id_col,
                "cid",
                residual(F.col(self.vec_col), F.col("__cvec")).alias("__rvec"),
            )
        )

    def _segment_rows(self, vecs: DataFrame, manifest: dict) -> DataFrame:
        """Codes under the manifest's codebook; ivfpq encodes the
        residuals and keeps each code's cell id."""
        cb = self._read_codebook_at(vecs.sparkSession, manifest)
        if self.mode == "pq":
            return pq_encode(
                vecs, cb, self.m, self.dim, self.id_col, self.vec_col
            )
        resid = self._residuals(vecs, manifest)
        return pq_encode(
            resid, cb, self.m, self.dim, self.id_col, "__rvec"
        ).join(resid.select(self.id_col, "cid"), on=self.id_col)

    # -- read --------------------------------------------------------------

    def _read_codebook_at(self, spark: SparkSession, manifest: dict) -> DataFrame:
        """The codebook ``manifest`` names."""
        return self._read_dirs(
            spark, manifest, [f"codebook_v={manifest['codebook']}"]
        ).select("sub_id", "code", "cvec")

    def _read_centroids_at(self, spark: SparkSession, manifest: dict) -> DataFrame:
        """The coarse centroids ``manifest`` names (ivfpq)."""
        return self._read_dirs(
            spark, manifest, [f"centroids_v={manifest['centroids']}"]
        )

    def read_codebook(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        man = self._load_manifest(self._resolve_version(version))
        return self._read_codebook_at(spark, man)

    def read_codes(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The live codes table as of ``version`` (default latest); ivfpq
        keeps ``cid``, the partition column the nprobe prune lands on."""
        return self.read_segments(spark, version)

    # -- search ------------------------------------------------------------

    def search(
        self,
        spark: SparkSession,
        probes: DataFrame,
        k: int,
        nprobe: int = 2,
        version: int | None = None,
        probe_id_col: str = "probe_id",
        refine: int = 0,
        refine_from: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k against the PERSISTED codes — the plan contains no
        encode stage (no corpus scan, no per-vector argmin; pinned by
        tests/test_ann_index.py): probes build their broadcast lookup
        tables against the stored codebook and the only large input is
        the codes scan (m small ints per vector; ivfpq additionally
        prunes to the probes' nprobe cells). Results are identical to
        the fused ``pq_adc_topk`` / ``ivfpq_topk`` over the same corpus
        because both run the same downstream dataflow on the same
        artifacts.

        ``refine=R`` (with ``refine_from`` = the stored-vector table,
        id + vector columns) adds the standard FAISS refinement step
        (IndexRefineFlat): ADC ranks the top R >= k candidates
        approximately, then ONE broadcast equi-join fetches just those
        R vectors per probe back from ``refine_from`` and re-scores
        them with EXACT squared L2 — recall at fixed nprobe rises while
        the corpus-side cost stays one candidate fetch of P*R rows
        (never a second scan). Output columns become ``edist`` (exact,
        ascending) instead of ``adist``; deterministic, hence
        oracle-pairable."""
        if refine:
            if refine < k:
                raise ValueError(
                    f"refine={refine} must be >= k={k} — the exact "
                    "re-rank can only reorder the candidates ADC keeps"
                )
            if refine_from is None:
                raise ValueError(
                    "refine= needs refine_from= (the stored-vector "
                    "table); codes alone cannot produce exact distances"
                )
        at = self._resolve_version(version)
        man = self._load_manifest(at)
        cb = self._read_codebook_at(spark, man)
        codes = self.read_codes(spark, at)
        k_adc = refine if refine else k
        if self.mode == "pq":
            tables = adc_tables(
                probes, cb, self.m, self.dim, self.vec_col, probe_id_col
            )
            approx_topk = adc_rank(
                codes, tables, self.m, k_adc, self.id_col, probe_id_col
            )
        else:
            cents = self._read_centroids_at(spark, man).select(
                "cid", F.col("cvec").alias(self.vec_col)
            )
            probe_cells, tables = ivfpq_probe_tables(
                probes, cents, cb, self.m, self.dim, nprobe,
                self.vec_col, probe_id_col, "cid",
            )
            # candidate fetch: the stored codes carry their cell id, so the
            # nprobe prune is ONE equi-join on cid against the
            # cid-partitioned segments — assignment never lives as a
            # separate table
            looked_up = probe_cells.join(codes, on="cid").join(
                F.broadcast(tables),
                on=[probe_id_col, "cid", "sub_id", "code"],
            )
            approx_topk = adc_topk(
                looked_up, self.m, k_adc, self.id_col, probe_id_col
            )
        if not refine:
            return approx_topk
        return self._refine(
            approx_topk, probes, refine_from, k, probe_id_col
        )

    def _refine(
        self,
        candidates: DataFrame,
        probes: DataFrame,
        vectors: DataFrame,
        k: int,
        probe_id_col: str,
    ) -> DataFrame:
        """Exact re-rank: join the (probe, candidate) pairs back to the
        true vectors (candidate list is P*R rows — it broadcasts; the
        vector table is scanned once with the join key pushed down) and
        score with exact squared L2, keeping the smallest k. Column
        casts to double happen here so float32-stored corpora and
        double probes meet in one space."""
        cand_ids = candidates.select(probe_id_col, self.id_col)
        cvecs = vectors.select(
            F.col(self.id_col), as_double(F.col(self.vec_col)).alias("__cv")
        )
        pvecs = probes.select(
            F.col(probe_id_col), as_double(F.col(self.vec_col)).alias("__pv")
        )
        exact = (
            cvecs.join(F.broadcast(cand_ids), on=self.id_col)
            .join(F.broadcast(pvecs), on=probe_id_col)
            .select(
                probe_id_col,
                self.id_col,
                F.round(sq_l2(F.col("__pv"), F.col("__cv")), 6).alias(
                    "edist"
                ),
            )
        )
        return topk_per_probe(
            exact, k, "edist", probe_id_col, self.id_col, ascending=True
        )
