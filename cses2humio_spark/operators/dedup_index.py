"""Persisted near-duplicate signature indexes and the crawl-admission
decision they serve: ``MinHashIndex`` for TEXT (banded MinHash) and
``EmbeddingLshIndex`` for EMBEDDINGS (banded hyperplane LSH) — the dedup
counterparts of ``operators/ann_index.PQIndex``.

The fused query operators (``dedup.minhash_candidate_pairs`` /
``jaccard_near_dups``) re-shingle and re-hash the whole corpus inside
every run — right for oracle-checkability, wrong for the production
shape of a crawl pipeline: the standing corpus is signed ONCE, new
batches arrive forever, and each batch must be checked against the
standing corpus WITHOUT touching corpus text again. An index persists
exactly the artifact the fused plan computes inline — the banded
signature table, a few dozen bytes per document, typically 100-1000x
smaller than the payload — and probes it with a rowwise signature
projection on the incoming batch (no aggregation, no key shuffle — only
``fan_out``'s round-robin rebalance when the local input is
single-split, a no-op at scale) followed by ONE band equi-join. The
corpus payload never rides a key shuffle.

Both families share one admission skeleton (``AdmissionIndex``); its
docstring states the decision contract. Geometry is pinned in
``_TABLE.json``: signatures hashed under different banding are
incomparable, so reopening with different parameters is a loud error.
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.functions.vectors import make_vector_kernel
from cses2humio_spark.operators.dedup import (
    alternating_star_components,
    minhash_signatures,
    shingle_set_table,
)
from cses2humio_spark.operators.index_store import VersionedSegmentStore
from cses2humio_spark.operators.similarity import (
    cap_buckets,
    embedding_candidate_pairs,
    first_matching_band,
    lsh_band_entries,
    lsh_signatures,
)


def _freeze(df: DataFrame) -> DataFrame:
    """Materialize a MICRO-BATCH-BOUNDED admission intermediate once and
    truncate its lineage (eager ``localCheckpoint``).

    With ``persist()`` every downstream consumer still plans against the
    FULL admission logical tree (the cache only short-circuits execution,
    not planning): profiles showed 47-50 AQE stage-jobs per decision with
    ~2 MiB task binaries, ~14 s of executor deserialize time and ~8-14 s
    of GC per pass over a 5 MB micro-batch — the plan TREE, not the data,
    was the cost. Freezing each intermediate turns downstream plans into
    scans of a LogicalRDD: task closures drop to KBs, AQE has nothing to
    re-optimize upstream, and the per-decision job count drops with it.

    Trade: checkpoint blocks are executor-local and NOT fault-tolerant —
    on a real cluster an executor loss makes the frozen frame
    unrecomputable, so a deployment that needs mid-decision fault
    tolerance should use ``spark.sparkContext.setCheckpointDir`` +
    reliable ``checkpoint()`` or ``persist(StorageLevel.DISK_ONLY_2)``
    instead. The exposure is one micro-batch per executor loss: the
    streaming caller replays the batch (foreachBatch at-least-once + the
    index's ``last_batch_id`` replay guard), so durability is bounded by
    design. Blocks are reclaimed by ContextCleaner GC of the checkpoint
    RDD once the decision frame is dropped."""
    return df.localCheckpoint(eager=True)


class AdmissionIndex(VersionedSegmentStore):
    """A signature index that decides crawled micro-batches against its
    standing corpus, then ingests what it admitted — the one admission
    skeleton both index families run.

    ``admit_batch`` returns ``(id, reason, partner)`` for every batch
    row; the first listed reason that applies wins (deterministic):

    - ``already_indexed``: the id is live in the index (partner = the id
      itself). Its payload is excluded from every verify join, so a
      re-crawl cannot pollute a standing document's verification row.
    - ``contaminated`` (only with an eval suite): the family's eval gate
      flags the row; partner NULL. Decontamination runs FIRST and dedup
      on the survivors — contaminated rows are never signed, verified,
      or eligible as a within-batch cluster representative.
    - ``corpus_dup``: a verified near-dup of a live indexed row; partner
      = the smallest verified index id.
    - ``batch_dup``: not corpus-duplicated, but a non-representative
      member of a verified near-dup cluster WITHIN the batch (connected
      components over verified pairs, ``alternating_star_components``,
      diameter-robust); partner = the min-id representative.
    - ``admitted``: none of the above; partner NULL.

    Admission is FIRST-SEEN-WINS across batches: feeding batches in id
    order reproduces the one-shot min-id-per-cluster decisions whenever
    verified clusters are transitively closed (every pair within a
    cluster verifies — true for exact and boilerplate dups). Chain-shaped
    similarity (A~B~C, A!~C) is decided by arrival, inherent to ANY
    streaming dedup.

    The corpus argument MUST cover the payload of every live indexed id
    named as a candidate partner: a partner with no row in the
    verification table (stale or partial corpus snapshot, rows deleted
    after indexing) cannot be verified, so any decision row for its
    probe raises at materialization instead of defaulting to
    ``admitted`` (no silent failure).

    ``max_bucket_size`` caps BOTH candidate stages per band bucket
    (``similarity.cap_buckets``): the index probe truncates the index
    side, the within-batch self-join truncates the id_b side — an
    adversarially hot bucket is bounded to cap x batch_rows instead of
    batch_rows^2. The trade is recall: a within-batch pair is lost only
    if truncated in EVERY band it shares. Uncapped mode is exact.

    Scale shape: index and batch signatures meet in ONE band equi-join;
    the corpus payload is read only for candidate partner ids (semi-join
    prune); the batch is signed once and every micro-batch-bounded
    intermediate is frozen (``_freeze``) so each is computed once.

    A family supplies ``_signatures`` (its segment rows), the index probe
    ``query_candidates(..., probe_sigs=)``, and the hooks below: the eval
    gate, within-batch candidate pairs, the per-id verification table
    and predicate, the payload column, and the uncovered-partner
    message."""

    #: names the corpus argument and its payload in the uncovered-partner
    #: error, e.g. ``"corpus_docs lacks text"``
    _missing_payload: str

    @property
    def _payload_col(self) -> str:
        raise NotImplementedError

    def _signatures(self, df: DataFrame) -> DataFrame:
        """Rowwise ``(id, ...signature)`` projection of ``df``."""
        raise NotImplementedError

    def _contaminated_ids(
        self, fresh: DataFrame, **eval_args
    ) -> DataFrame | None:
        """Ids of ``fresh`` the eval gate rejects, or None without a suite."""
        raise NotImplementedError

    def _batch_pairs(
        self, sigs: DataFrame, max_bucket_size: int | None
    ) -> DataFrame:
        """Within-batch candidate pairs ``(id_a, id_b)``, id_a < id_b, from
        the batch signatures."""
        raise NotImplementedError

    def _verify_table(self, rows: DataFrame) -> DataFrame:
        """``(id, __v)``: the per-id verification payload of ``rows``."""
        raise NotImplementedError

    def _verified(self, a: Column, b: Column, threshold: float) -> Column:
        """True when two verification payloads are near-duplicates."""
        raise NotImplementedError

    def read_signatures(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The live signature table as of ``version``."""
        return self.read_segments(spark, version)

    def _segment_rows(self, df: DataFrame, manifest: dict) -> DataFrame:
        return self._signatures(df)

    def _admit(
        self,
        batch_df: DataFrame,
        corpus: DataFrame,
        threshold: float,
        version: int | None,
        max_bucket_size: int | None,
        **eval_args,
    ) -> DataFrame:
        """The decision plan of ``admit_batch`` (see the class docstring);
        ``eval_args`` go to the family's eval gate."""
        spark = batch_df.sparkSession
        idc, pc = self.id_col, self._payload_col
        index_ids = self.read_signatures(spark, version).select(idc).distinct()
        batch = batch_df.select(F.col(idc), F.col(pc))
        # fresh feeds every downstream stage. Repartition BEFORE the
        # freeze: AQE coalesces the tiny anti-join output to ONE partition
        # by bytes, which serializes the CPU-heavy signing onto a single
        # task; the round-robin shuffle moves only the bounded micro-batch.
        n_cpu = spark.sparkContext.defaultParallelism
        fresh = _freeze(
            batch.join(index_ids, on=idc, how="left_anti").repartition(n_cpu)
        )
        cont, clean = None, fresh
        cont_ids = self._contaminated_ids(fresh, **eval_args)
        if cont_ids is not None:
            cont = _freeze(cont_ids.withColumn("__cont", F.lit(1)))
            clean = _freeze(fresh.join(cont, on=idc, how="left_anti"))
        # sign the batch ONCE: the same frozen signatures feed the index
        # probe and the within-batch candidate self-join
        sigs = _freeze(self._signatures(clean))
        cand = _freeze(
            self.query_candidates(
                clean,
                version=version,
                exclude_self=True,
                max_bucket_size=max_bucket_size,
                probe_sigs=sigs,
            )
        )
        pairs = cand.select(
            F.col("probe_id").alias("id_a"), F.col("index_id").alias("id_b")
        )
        corpus_pruned = corpus.select(F.col(idc), F.col(pc)).join(
            pairs.select(F.col("id_b").alias(idc)).distinct(),
            on=idc,
            how="left_semi",
        )
        vtab = _freeze(self._verify_table(clean.unionByName(corpus_pruned)))
        uncovered = (
            pairs.join(
                vtab.select(F.col(idc).alias("id_b")), on="id_b", how="left_anti"
            )
            .select(F.col("id_a").alias(idc))
            .distinct()
            .withColumn("__uncov", F.lit(1))
        )
        # ONE verification pass for both pair families: cross partners
        # live in the index and batch partners in clean, so the id_b
        # domains are disjoint and the union splits back cleanly below
        accepted = _freeze(
            pairs.unionByName(self._batch_pairs(sigs, max_bucket_size))
            .join(
                vtab.select(F.col(idc).alias("id_a"), F.col("__v").alias("__va")),
                on="id_a",
            )
            .join(
                vtab.select(F.col(idc).alias("id_b"), F.col("__v").alias("__vb")),
                on="id_b",
            )
            .filter(self._verified(F.col("__va"), F.col("__vb"), threshold))
            .select("id_a", "id_b")
        )
        fresh_b = clean.select(F.col(idc).alias("id_b"))
        corpus_rej = (
            accepted.join(fresh_b, on="id_b", how="left_anti")
            .groupBy("id_a")
            .agg(F.min("id_b").alias("__cp"))
            .select(F.col("id_a").alias(idc), "__cp")
        )
        bpairs = accepted.join(fresh_b, on="id_b", how="left_semi").select(
            "id_a", "id_b"
        )
        reps = alternating_star_components(
            clean.select(idc), bpairs, id_col=idc
        ).withColumnRenamed("cluster_rep", "__rep")
        assembled = (
            batch.select(idc)
            .join(index_ids.withColumn("__ai", F.lit(1)), on=idc, how="left")
            .join(corpus_rej, on=idc, how="left")
            .join(reps, on=idc, how="left")
            .join(uncovered, on=idc, how="left")
        )
        if cont is not None:
            assembled = assembled.join(cont, on=idc, how="left")
        else:
            assembled = assembled.withColumn("__cont", F.lit(None).cast("int"))
        missing = F.raise_error(
            F.concat(
                F.lit(
                    f"admit_batch: {self._missing_payload} for a live indexed "
                    f"candidate partner of batch {idc}="
                ),
                F.col(idc).cast("string"),
                F.lit(
                    " — stale/partial corpus snapshot; the pair cannot be "
                    "verified"
                ),
            )
        )
        # every intermediate is a frozen LogicalRDD; the ContextCleaner
        # reclaims its blocks once the caller drops the decision frame
        return assembled.select(
            idc,
            F.when(F.col("__uncov") == 1, missing)
            .when(F.col("__ai") == 1, F.lit("already_indexed"))
            .when(F.col("__cont") == 1, F.lit("contaminated"))
            .when(F.col("__cp").isNotNull(), F.lit("corpus_dup"))
            .when(F.col("__rep") != F.col(idc), F.lit("batch_dup"))
            .otherwise(F.lit("admitted"))
            .alias("reason"),
            F.when(F.col("__ai") == 1, F.col(idc))
            .when(F.col("__cont") == 1, F.lit(None))
            .when(F.col("__cp").isNotNull(), F.col("__cp"))
            .when(F.col("__rep") != F.col(idc), F.col("__rep"))
            .otherwise(F.lit(None))
            .cast(batch_df.schema[idc].dataType)
            .alias("partner"),
        )

    def admit_and_ingest(
        self, batch_df: DataFrame, batch_id: int, *args, **kwargs
    ) -> DataFrame | None:
        """The full incremental loop, foreachBatch-shaped: decide
        (``admit_batch`` against the CURRENT index state), ingest ONLY the
        admitted rows' signatures as the next segment, return the
        decision frame. The arguments after ``batch_id`` are the family's
        ``admit_batch`` arguments after ``batch_df``, in the same order
        and under the same names, minus ``version``.

        Refused before the first ``build()``. A replayed batch id returns
        None without recomputing — decisions must not be re-derived
        against a LATER index state than the one that originally
        admitted the batch (the same ``last_batch_id`` guard as plain
        ingest). Contaminated rows are never ingested, so eval-suite
        payloads cannot enter the standing corpus through this loop.

        The decision rows are frozen with an eager ``localCheckpoint``
        before the ingest, so the ingest and every later read plan
        against the micro-batch-bounded rows instead of the admission
        DAG, and the returned frame still reports the decisions that
        were acted on when read after the commit. Dropping the
        pre-checkpoint frame lets the internal intermediates go at the
        next GC. The durability trade is ``_freeze``'s: executor-local
        blocks, a one-micro-batch replay exposure."""
        _, manifest = self._next_version("admit")
        if batch_id <= manifest["last_batch_id"]:
            return None  # replayed micro-batch: already decided + ingested
        sig = inspect.signature(self.admit_batch)
        params = [
            p for name, p in sig.parameters.items()
            if name not in ("batch_df", "version")
        ]
        bound = sig.replace(parameters=params).bind(*args, **kwargs)
        decisions = self.admit_batch(batch_df, **bound.arguments)
        frozen = decisions.localCheckpoint(eager=True)
        del decisions  # internal admission intermediates go on the next GC
        admitted = batch_df.join(
            frozen.filter(F.col("reason") == "admitted").select(self.id_col),
            on=self.id_col,
            how="left_semi",
        )
        self(admitted, batch_id)
        return frozen


class MinHashIndex(AdmissionIndex):
    """Versioned on-disk banded-MinHash signature index over documents:
    ``(id, band, sig)``, ~bands rows of a few dozen bytes per document."""

    _missing_payload = "corpus_docs lacks text"

    def __init__(
        self,
        index_dir: str,
        n: int = 3,
        bands: int = 4,
        rows_per_band: int = 2,
        id_col: str = "doc_id",
        text_col: str = "text",
        keep_versions: int = 2,
    ):
        if n < 1 or bands < 1 or rows_per_band < 1:
            raise ValueError(
                f"need n, bands, rows_per_band >= 1; got "
                f"n={n}, bands={bands}, rows_per_band={rows_per_band}"
            )
        self.n, self.bands, self.rows_per_band = n, bands, rows_per_band
        self.id_col, self.text_col = id_col, text_col
        super().__init__(
            index_dir,
            {"n": n, "bands": bands, "rows_per_band": rows_per_band},
            keep_versions,
        )

    @property
    def _payload_col(self) -> str:
        return self.text_col

    def _signatures(self, docs: DataFrame) -> DataFrame:
        """Zero-shuffle rowwise banded signatures (``minhash_signatures``),
        COMPRESSED for storage: the band signature (rows_per_band
        concatenated 32-hex md5s) is folded to one xxhash64 bigint. Build
        and probe apply the same fold, so the (band, sig) equi-join
        produces the same candidate pairs as the raw strings (a 64-bit
        collision could only ADD a candidate, and candidates are verified
        by exact Jaccard), while the per-row bytes drop ~8x and the join
        key becomes a fixed 8-byte integer."""
        raw = minhash_signatures(
            docs, self.id_col, self.text_col,
            n=self.n, bands=self.bands, rows_per_band=self.rows_per_band,
        )
        return raw.select(
            self.id_col, "band", F.xxhash64("sig").alias("sig")
        )

    def query_candidates(
        self,
        probe_docs: DataFrame,
        version: int | None = None,
        exclude_self: bool = True,
        max_bucket_size: int | None = None,
        *,
        probe_sigs: DataFrame | None = None,
    ) -> DataFrame:
        """Near-dup CANDIDATES for a batch of incoming documents against
        the standing index: sign the batch rowwise (pure projection — the
        batch's text never shuffles either), equi-join on (band, sig),
        and return distinct (probe_id, index_id) pairs. ``exclude_self``
        drops pairs where the probe id equals an indexed id (re-checking
        docs already in the corpus). Downstream exact-Jaccard
        verification joins text back for the candidates only — the same
        verify-on-candidates shape as ``jaccard_near_dups``.

        ``max_bucket_size`` truncates each index bucket to its smallest
        ids (``cap_buckets``): each probe still reaches a mass-duplicate
        cluster through the retained members, while its fan-out is
        bounded. Default None = exact (the oracle-paired form).
        ``probe_sigs`` (the ``(id, band, sig)`` frame ``_signatures``
        emits) skips signing ``probe_docs`` again."""
        spark = probe_docs.sparkSession
        if probe_sigs is None:
            probe_sigs = self._signatures(probe_docs)
        probe_sigs = probe_sigs.select(
            F.col(self.id_col).alias("probe_id"), "band", "sig"
        )
        index_sigs = cap_buckets(
            self.read_signatures(spark, version).select(
                F.col(self.id_col).alias("index_id"), "band", "sig"
            ),
            ["band", "sig"],
            "index_id",
            max_bucket_size,
        )
        cand = (
            probe_sigs.join(index_sigs, on=["band", "sig"])
            .select("probe_id", "index_id")
            .distinct()
        )
        if exclude_self:
            cand = cand.filter(F.col("probe_id") != F.col("index_id"))
        return cand

    # -- admission hooks -------------------------------------------------------

    def _contaminated_ids(
        self,
        fresh: DataFrame,
        eval_docs: DataFrame | None = None,
        contamination_threshold: float = 0.1,
        eval_n: int = 8,
        eval_fingerprints: DataFrame | None = None,
    ) -> DataFrame | None:
        if eval_docs is None and eval_fingerprints is None:
            return None
        from cses2humio_spark.operators.dedup import eval_contamination

        idc, txt = self.id_col, self.text_col
        return (
            eval_contamination(
                fresh,
                (
                    eval_docs.select(F.col(idc), F.col(txt))
                    if eval_docs is not None
                    else None
                ),
                idc,
                txt,
                n=eval_n,
                eval_fingerprints=eval_fingerprints,
            )
            .filter(F.col("contamination") >= contamination_threshold)
            .select(idc)
        )

    def _batch_pairs(
        self, sigs: DataFrame, max_bucket_size: int | None
    ) -> DataFrame:
        # the same pairs as minhash_candidate_pairs: both sides carry the
        # same fold, and a 64-bit collision could only ADD a candidate
        idc = self.id_col
        sa = sigs.select(F.col(idc).alias("id_a"), "band", "sig")
        sb = cap_buckets(
            sigs.select(F.col(idc).alias("id_b"), "band", "sig"),
            ["band", "sig"],
            "id_b",
            max_bucket_size,
        )
        return (
            sa.join(sb, on=["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    def _verify_table(self, rows: DataFrame) -> DataFrame:
        # one distinct-shingle set per document: pair verification is a
        # rowwise array_intersect, with no further shuffle of shingle data
        return shingle_set_table(
            rows, self.id_col, self.text_col, n=self.n
        ).select(self.id_col, F.col("__shs").alias("__v"))

    def _verified(self, a: Column, b: Column, threshold: float) -> Column:
        # exact shingle Jaccard. ``n_inter >= 1``: a pair sharing ZERO
        # shingles (only reachable through a 64-bit fold collision) never
        # verifies, even at threshold <= 0
        n_inter = F.size(F.array_intersect(a, b))
        return (n_inter >= 1) & (
            n_inter / (F.size(a) + F.size(b) - n_inter) >= threshold
        )

    def admit_batch(
        self,
        batch_df: DataFrame,
        corpus_docs: DataFrame,
        threshold: float = 0.5,
        version: int | None = None,
        max_bucket_size: int | None = None,
        eval_docs: DataFrame | None = None,
        contamination_threshold: float = 0.1,
        eval_n: int = 8,
        eval_fingerprints: DataFrame | None = None,
    ) -> DataFrame:
        """The crawl-admission decision (``AdmissionIndex``) for text.

        Near-dup = exact shingle Jaccard >= ``threshold``, computed on
        candidate texts only; ``corpus_docs`` supplies the text of index
        partners. ``contaminated`` (with ``eval_docs`` or
        ``eval_fingerprints``): the document's distinct word
        ``eval_n``-gram overlap with the eval suite (``eval_contamination``,
        eval side reduced to broadcast fingerprints) is at or above
        ``contamination_threshold``. A streaming caller should compute the
        static suite's fingerprints once (``eval_fingerprint_table``) and
        pass ``eval_fingerprints`` instead of re-shingling the suite per
        micro-batch."""
        return self._admit(
            batch_df,
            corpus_docs,
            threshold,
            version,
            max_bucket_size,
            eval_docs=eval_docs,
            contamination_threshold=contamination_threshold,
            eval_n=eval_n,
            eval_fingerprints=eval_fingerprints,
        )


class EmbeddingLshIndex(AdmissionIndex):
    """Persisted banded hyperplane-LSH signature index over EMBEDDINGS —
    the vector-space twin of ``MinHashIndex`` (streaming semantic
    dedup): one ``(id, lsh_sig)`` bigint row per vector, ~16 bytes,
    exploded into band entries only at join time. Corpus vectors are
    joined back only for candidate partner ids at exact-cosine
    verification time (the ``corpus_vectors`` argument).

    Signatures use the SAME deterministic hyperplanes and the SAME
    banded layout as the fused ``embedding_near_dup_pairs`` operator
    (``operators/similarity.py``), so the index path returns exactly the
    fused computation's candidates — the split-correctness contract —
    and the DuckDB oracle mirror (``_EMB_NEARDUP_CTES``) applies
    unchanged. Geometry (dim, n_planes, n_bands) is pinned in
    ``_TABLE.json``; n_planes * n_bands <= 62 (bigint signature).
    """

    _missing_payload = "corpus_vectors lacks the vector"

    def __init__(
        self,
        index_dir: str,
        dim: int = 64,
        n_planes: int = 4,
        n_bands: int = 15,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        keep_versions: int = 2,
    ):
        if n_planes < 1 or n_bands < 1:
            raise ValueError(
                f"need n_planes, n_bands >= 1; got {n_planes}, {n_bands}"
            )
        if n_planes * n_bands > 62:
            raise ValueError(
                "n_planes * n_bands must be <= 62 (bigint signature); got "
                f"{n_planes} * {n_bands}"
            )
        self.dim, self.n_planes, self.n_bands = dim, n_planes, n_bands
        self.id_col, self.vec_col = id_col, vec_col
        super().__init__(
            index_dir,
            {"dim": dim, "n_planes": n_planes, "n_bands": n_bands},
            keep_versions,
        )

    @property
    def _payload_col(self) -> str:
        return self.vec_col

    def _signatures(self, vecs: DataFrame) -> DataFrame:
        """One Arrow-batched rowwise projection per vector — no
        aggregation, so legal in streaming append mode and on any probe
        path (the bit-for-bit equality of the Arrow signature with a
        ``dot`` fold per plane and with DuckDB is pinned in
        tests/test_approx.py)."""
        sigs = lsh_signatures(
            vecs, self.dim, self.n_planes * self.n_bands, self.vec_col
        )
        return sigs.select(self.id_col, "lsh_sig")

    def _band_entries(self, sigs: DataFrame, id_alias: str) -> DataFrame:
        """``sigs`` exploded into (id_alias, lsh_sig, band, band_sig)."""
        return lsh_band_entries(
            sigs, self.n_planes, self.n_bands, self.id_col, id_alias
        )

    def query_candidates(
        self,
        probe_vecs: DataFrame,
        version: int | None = None,
        exclude_self: bool = True,
        max_bucket_size: int | None = None,
        *,
        probe_sigs: DataFrame | None = None,
    ) -> DataFrame:
        """Near-dup CANDIDATES for a batch of incoming vectors against
        the standing index: sign the batch rowwise, explode both sides
        into band entries at join time, equi-join on (band, band_sig).
        A pair sharing several bands is emitted ONCE — from its lowest
        matching band (``first_matching_band``'s SWAR zero-field trick,
        pure int64 codegen) — so no DISTINCT shuffle is needed.
        ``max_bucket_size`` is the mass-duplicate guard on index-side
        bucket fan-out, same semantics as MinHashIndex's. ``probe_sigs``
        (``(id, lsh_sig)``) skips signing ``probe_vecs`` again."""
        spark = probe_vecs.sparkSession
        if probe_sigs is None:
            probe_sigs = self._signatures(probe_vecs)
        probe_entries = self._band_entries(
            probe_sigs, "probe_id"
        ).withColumnRenamed("lsh_sig", "__psig")
        index_entries = cap_buckets(
            self._band_entries(
                self.read_signatures(spark, version), "index_id"
            ).withColumnRenamed("lsh_sig", "__isig"),
            ["band", "band_sig"],
            "index_id",
            max_bucket_size,
        )
        cand = (
            probe_entries.join(index_entries, on=["band", "band_sig"])
            .filter(
                first_matching_band(
                    F.col("__psig"),
                    F.col("__isig"),
                    self.n_planes,
                    self.n_bands,
                )
                == F.col("band")
            )
            .select("probe_id", "index_id")
        )
        if exclude_self:
            cand = cand.filter(F.col("probe_id") != F.col("index_id"))
        # the first-matching-band filter already emits each pair once;
        # distinct() would only re-shuffle. A bucket cap can break the
        # lowest-band guarantee for dropped rows, so dedup in that mode.
        if max_bucket_size is not None:
            cand = cand.distinct()
        return cand

    # -- admission hooks -------------------------------------------------------

    def _contaminated_ids(
        self,
        fresh: DataFrame,
        eval_vectors: DataFrame | None = None,
        eval_threshold: float = 0.8,
    ) -> DataFrame | None:
        # The CURATED eval suite is collected once (bounded by policy —
        # eval suites are thousands of vectors) and shipped in a
        # mapInPandas closure; each Arrow batch of fresh vectors computes
        # its full cosine block against the suite matrix in one pass of
        # the vector kernel. A crossJoin would ship batch_rows x
        # suite_rows PAIRS of full vectors through Arrow; this ships each
        # side exactly once. NULL vectors and length mismatches have a
        # NULL cosine and never hit.
        if eval_vectors is None:
            return None
        idc, vc = self.id_col, self.vec_col
        ev_rows = [
            r[0]
            for r in eval_vectors.select(vc).distinct().collect()
            if r[0] is not None
        ]
        if not ev_rows:
            return None
        kernel = make_vector_kernel()
        matrix, cos_block = kernel.matrix, kernel.cos_block
        E = matrix(ev_rows)
        thr = float(eval_threshold)

        def _eval_gate(batches):
            for pdf in batches:
                hit = (cos_block(matrix(pdf[vc]), E)[0] >= thr).any(axis=1)
                if hit.any():
                    yield pdf.loc[hit, [idc]]

        id_sql_type = fresh.schema[idc].dataType.simpleString()
        return fresh.mapInPandas(
            _eval_gate, schema=f"{idc} {id_sql_type}"
        ).distinct()

    def _batch_pairs(
        self, sigs: DataFrame, max_bucket_size: int | None
    ) -> DataFrame:
        return embedding_candidate_pairs(
            sigs,
            self.n_planes,
            self.n_bands,
            self.id_col,
            max_bucket_size=max_bucket_size,
        )

    def _verify_table(self, rows: DataFrame) -> DataFrame:
        # the join formulation: an id-indexed gather against one collected
        # matrix (``cosine_pairs_lookup``) measured slower here — its
        # per-decision construction actions (bound counts, the vector
        # collect, broadcasts) run one after another before the decision
        # and cost more than the pair-side Arrow traffic they save at
        # micro-batch density
        return rows.select(self.id_col, F.col(self.vec_col).alias("__v"))

    def _verified(self, a: Column, b: Column, threshold: float) -> Column:
        from cses2humio_spark.functions.vectors import cosine_pairs

        return cosine_pairs(a, b) >= threshold

    def admit_batch(
        self,
        batch_df: DataFrame,
        corpus_vectors: DataFrame,
        threshold: float = 0.3,
        version: int | None = None,
        max_bucket_size: int | None = None,
        eval_vectors: DataFrame | None = None,
        eval_threshold: float = 0.8,
    ) -> DataFrame:
        """The semantic admission decision (``AdmissionIndex``) for
        embeddings.

        Near-dup = exact cosine >= ``threshold``; ``corpus_vectors``
        supplies the vectors of index partners. ``contaminated`` (with
        ``eval_vectors``): exact cosine >= ``eval_threshold`` against ANY
        eval-suite vector — batch_rows x suite_rows cosines computed
        blockwise over the bounded micro-batch, never touching the
        corpus."""
        return self._admit(
            batch_df,
            corpus_vectors,
            threshold,
            version,
            max_bucket_size,
            eval_vectors=eval_vectors,
            eval_threshold=eval_threshold,
        )
