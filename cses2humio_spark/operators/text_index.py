"""Persisted inverted text index: the build-once / search-many split for
LEXICAL retrieval (Okapi BM25) — the posting-list counterpart of
``operators/ann_index.PQIndex`` (vectors) and
``operators/dedup_index.MinHashIndex`` (near-dup signatures). With this
module every retrieval arm of the engine has a standing-index lifecycle:
ANN searches codes, dedup probes signatures, and BM25 now probes
postings — none of them re-reads corpus payload at query time.

The fused query operator (``queries/llm.bm25_search_top20``) re-tokenizes
the whole corpus inside every run — right for oracle-checkability, wrong
for the production shape of a search service: the corpus is tokenized
ONCE, queries arrive forever, and each query must touch only the posting
lists of its own terms. ``InvertedTextIndex`` persists exactly the
artifact the fused plan computes inline:

- ``seg=<v>``: postings ``(tb, tok, doc_id, tf, dl)`` — one row per
  distinct (document, token), PARTITIONED BY ``tb`` (a stable
  ``xxhash64(tok) mod n_buckets`` token bucket) so a query's term filter
  becomes DIRECTORY pruning at the scan: a 3-term query reads at most 3
  of ``n_buckets`` partitions no matter how large the corpus. The
  document length ``dl`` is DENORMALIZED into the posting row (8 bytes)
  so scoring needs no join against a corpus-sized doc-length table.
- ``dl=<v>``: doc lengths ``(doc_id, dl, ws1)``, one row per document.
  Its write records the segment's doc count and doc-length sum in the
  manifest (``stats``), so a search sums the collection statistics (N,
  avgdl) from metadata. Those sums still count tombstoned documents, so
  under deletes (or for segments written before the entries existed) the
  statistics are the exact aggregate over this tombstone-filtered table
  instead — two scalar aggregates over a narrow table, tiny next to the
  corpus.

At 100 TB of documents the postings are a few TB (they carry token
hashes' worth of text once, not per query), the doc-length table is
~16 B/doc, and a search shuffles only |query terms| posting lists.

Geometry (tokenizer id, bucket count, positional) is pinned in
``_TABLE.json`` — postings built under a different tokenization are
incomparable, so reopening with different parameters is a loud error.

Reference parity note: the reference connector (app.py) has no retrieval
surface; this implements the LLM-pipeline / log-search production
lifecycle for the engine's BM25 operator (SURVEY §2 retrieval family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.functions.text import tokens
from cses2humio_spark.operators.index_store import VersionedSegmentStore

#: Tokenizer contract pinned in the geometry: whitespace split of the
#: trimmed text — EXACTLY the fused bm25/tfidf queries' tokenization, so
#: the split-vs-fused equality contract holds token-for-token.
_TOKENIZER_ID = "ws-split-v1"


class InvertedTextIndex(VersionedSegmentStore):
    """Versioned on-disk BM25 posting-list index over documents.

    Ingest contract — append-only, unique doc ids: a doc_id must be
    indexed at most once across all live segments, within a build's
    input too (the upstream admission dedup is the natural enforcer).
    Re-ingesting a live id double-counts it in tf/df/N/avgdl, breaks
    search_prefix's COUNT(*)-as-distinct-terms identity and
    cross-products the per-term doc_id joins in search_phrase.
    ``guard_duplicates=True`` enforces the contract in-band: each batch
    is anti-joined against the existing segment doc ids (unfiltered by
    tombstones, so a deleted id still reappears only after a compact)
    before tokenization. The guard reads only the narrow doc-length
    artifacts, but at billions of docs that anti-join shuffles a
    corpus-sized id table per micro-batch — it is off by default
    because the admission pipeline already guarantees uniqueness.

    Collection statistics need no maintenance: each segment write
    records its own doc count and doc-length sum, and a delete switches
    search to the exact aggregate over the tombstone-filtered doc
    lengths, so an appended segment or a delete is consistent at once.
    An empty build commits ``segments: []`` (a zero-row partitioned
    write leaves no files) and every read then raises "index is
    empty"."""

    _key_col = "doc_id"
    partition_col = "tb"
    empty_segment_readable = False

    def __init__(
        self,
        index_dir: str,
        n_buckets: int = 64,
        positional: bool = False,
        id_col: str = "doc_id",
        text_col: str = "text",
        keep_versions: int = 2,
        guard_duplicates: bool = False,
    ):
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.n_buckets = n_buckets
        self.positional = positional
        self.guard_duplicates = guard_duplicates
        self.id_col, self.text_col = id_col, text_col
        super().__init__(
            index_dir,
            {
                "tokenizer": _TOKENIZER_ID,
                "n_buckets": n_buckets,
                "positional": positional,
            },
            keep_versions,
        )

    def _live_artifacts(self, manifest: dict) -> dict[str, set[int]]:
        return {
            **super()._live_artifacts(manifest),
            r"dl=(-?\d+)": set(manifest["segments"]),
        }

    def _dl_dir(self, seg: int) -> str:
        return os.path.join(self.index_dir, f"dl={seg}")

    def _token_bucket(self, tok) -> F.Column:
        return F.pmod(F.xxhash64(tok), F.lit(self.n_buckets)).cast("int")

    def _postings(self, docs: DataFrame) -> DataFrame:
        """ONE pass over document text → the posting table.

        Tokenize (the pinned whitespace split), count term frequencies
        per (doc, token) — one shuffle keyed on the pair — then
        denormalize the document length onto each posting row with a
        window over the aggregated postings (``dl = SUM(tf) OVER doc``,
        exactly the token count). The window costs one further shuffle
        of the already-compact postings, but keeps the whole build a
        single lineage: a join against a dl aggregate would re-evaluate
        the explode subtree once per consumer (the token stream is the
        expensive thing at 100 TB — it must be materialized exactly
        once). The separate doc-length artifact is NOT computed here:
        the writers derive it by reading back the just-written postings
        parquet (compact, text-free) instead of re-tokenizing."""
        from pyspark.sql import Window

        # ws1: every INTERNAL separator of this doc is exactly one
        # space (no tabs/newlines, no runs) — the per-doc flag behind
        # the routed-phrase identity (hql.py::_route_free_text_stage):
        # under ws1 the trimmed text IS the tokens joined by single
        # spaces, so a quoted-phrase substring test is answerable from
        # positional postings alone. Computed HERE because this is the
        # one pass that reads the text; it rides each posting row (one
        # RLE-compressed boolean) into the doc-length artifact so no
        # second corpus scan ever recomputes it.
        ws1 = ~F.coalesce(
            F.trim(F.col(self.text_col)).rlike(r"\s\s|[^\S ]"),
            F.lit(False),
        )
        toks = docs.select(
            F.col(self.id_col).alias("doc_id"),
            ws1.alias("ws1"),
            F.posexplode(tokens(F.col(self.text_col))).alias("pos", "tok"),
        )
        if self.positional:
            # positional mode: the posting row also carries the sorted
            # in-document positions (array<int>) — tf is its size, so
            # phrase adjacency is answerable from postings alone.
            tf = toks.groupBy("doc_id", "tok").agg(
                F.count(F.lit(1)).alias("tf"),
                F.min("ws1").alias("ws1"),
                F.sort_array(F.collect_list("pos")).alias("pos"),
            )
            extra = ["pos"]
        else:
            tf = toks.groupBy("doc_id", "tok").agg(
                F.count(F.lit(1)).alias("tf"),
                F.min("ws1").alias("ws1"),
            )
            extra = []
        return tf.select(
            self._token_bucket(F.col("tok")).alias("tb"),
            "tok",
            "doc_id",
            "tf",
            F.sum("tf").over(Window.partitionBy("doc_id")).alias("dl"),
            "ws1",
            *extra,
        )

    def _segment_rows(self, docs: DataFrame, manifest: dict) -> DataFrame:
        """The postings of ``docs``, after the ``guard_duplicates``
        anti-join against the ids of the manifest's live segments."""
        if self.guard_duplicates and manifest["segments"]:
            existing = self._read_dirs(
                docs.sparkSession,
                manifest,
                [f"dl={s}" for s in manifest["segments"]],
            ).select("doc_id")
            docs = docs.join(
                existing, docs[self.id_col] == existing["doc_id"], "left_anti"
            )
        return self._postings(docs)

    def _segment_artifacts(
        self, spark: SparkSession, version: int, manifest: dict, n_rows: int
    ) -> None:
        """Derive segment ``version``'s doc-length artifact FROM its
        written postings (one (doc_id, dl, ws1) row per doc via max/min —
        both are constant within a doc), so corpus text is tokenized once
        per segment, and commit two per-segment entries into the
        manifest, both observed on the dl write (no extra job):

        - ``ws1``: the segment's corpus-wide ``ws1`` AND, so
          ``ws_single_all`` answers from metadata instead of
          re-aggregating a corpus-sized table per routed phrase query;
        - ``stats``: its doc count ``n`` and doc-length sum ``sum_dl``,
          from which ``search`` sums the collection statistics.

        A zero-row segment is unlisted and gets no artifact: reading back
        an empty partitioned dir would fail schema inference. Postings
        from writers that predate the flag carry no ``ws1`` column; their
        docs record NULL, which reads as False."""
        live = {str(s) for s in manifest["segments"]}
        ws1, stats = (
            {k: v for k, v in manifest.get(key, {}).items() if k in live}
            for key in ("ws1", "stats")
        )
        if n_rows:
            written = self._read_dirs(
                spark, manifest, [f"seg={version}"], anchored=True
            )
            doc_ws1 = (
                F.col("ws1")
                if "ws1" in written.columns
                else F.lit(None).cast("boolean")
            )
            dl = written.groupBy("doc_id").agg(
                F.max("dl").alias("dl"), F.min(doc_ws1).alias("ws1")
            )
            obs = Observation()
            self._write_dir(
                dl.observe(
                    obs,
                    F.min(F.coalesce(F.col("ws1"), F.lit(False))).alias("w"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("sum_dl"),
                ),
                self._dl_dir(version),
                manifest,
            )
            seen = obs.get
            ws1[str(version)] = bool(seen["w"])
            stats[str(version)] = {
                "n": int(seen["n"]),
                "sum_dl": int(seen["sum_dl"]),
            }
        manifest["ws1"], manifest["stats"] = ws1, stats

    def read_postings(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The live posting table as of ``version`` (default latest); the
        ``tb`` partition column survives, so a term filter prunes
        directories."""
        return self.read_segments(spark, version)

    def read_doclens(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The live ``(doc_id, dl, ws1)`` table as of ``version``.
        Tombstones filter here too: the collection statistics (N, avgdl)
        must exclude deleted docs."""
        return self.read_segments(spark, version, artifact="dl")

    def ws_single_all(
        self, spark: SparkSession, version: int | None = None
    ) -> bool:
        """True iff EVERY live document's internal separators are single
        spaces (the AND of the per-doc ``ws1`` flags the build recorded)
        — the corpus-wide precondition for routing quoted-phrase
        free-text through the positional postings
        (hql.py::_route_free_text_stage).

        Fast path: the per-segment AND is COMMITTED in the manifest at
        write time, so when every live segment carries an entry this is
        a metadata read — zero scans per routed phrase query (ADVICE
        r12: the previous implementation re-aggregated the corpus-sized
        doc-length table on every phrase stage). All-True over the
        manifest is exact even under tombstones (the live docs are a
        subset of the recorded ones, and an AND over a superset of True
        stays True on any subset); an all-recorded False with NO
        tombstones is exact for the same reason. The one case the
        manifest cannot answer exactly — some segment recorded False
        AND deletes exist (the offending doc may be tombstoned) — falls
        through to the exact aggregate over the tombstone-filtered
        doc-length artifact, as does any segment missing its entry
        (written by pre-flag code).

        The exact fallback coalesces NULL ws1 to False BEFORE the min:
        a mixed-generation index (pre-flag segments appended to by new
        code) reads NULL for the old docs, and ``min([True, NULL])`` is
        True under SQL aggregate NULL-skipping — which would route
        phrases over docs with unrecorded separator shapes (ADVICE r12,
        medium). Unknown must mean False. Indexes built entirely before
        the flag (no ``ws1`` column at all) and empty indexes answer
        False: the caller falls back to the scan path, never to a wrong
        answer."""
        at = self._resolve_version(version)
        man = self._load_manifest(at)
        recorded = man.get("ws1", {})
        segs = man.get("segments", [])
        if segs and all(str(s) in recorded for s in segs):
            if all(bool(recorded[str(s)]) for s in segs):
                return True
            if not man.get("tombstones"):
                return False
        dl = self.read_doclens(spark, at)
        if "ws1" not in dl.columns:
            return False
        row = dl.agg(
            F.min(F.coalesce(F.col("ws1"), F.lit(False))).alias("w")
        ).collect()[0]
        return bool(row["w"]) if row["w"] is not None else False

    def _collection_stats(self, spark: SparkSession, at: int) -> tuple:
        """(N, sum of dl) over the live documents at version ``at``.

        With no tombstones and a ``stats`` entry for every live segment
        the sums come from the manifest — a metadata read, no job.
        Otherwise (deletes, whose docs the per-segment sums still count,
        or segments written before the entries existed) they are the
        exact aggregate over the tombstone-filtered doc-length table. An
        index with no live segment raises "index is empty"."""
        man = self._load_manifest(at)
        segs, stats = man["segments"], man.get("stats", {})
        if segs and not man.get("tombstones") and all(
            str(s) in stats for s in segs
        ):
            return (
                sum(stats[str(s)]["n"] for s in segs),
                sum(stats[str(s)]["sum_dl"] for s in segs),
            )
        return tuple(
            self.read_doclens(spark, at)
            .agg(F.count(F.lit(1)), F.sum("dl"))
            .collect()[0]
        )

    def search(
        self,
        spark: SparkSession,
        terms: list[str],
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
        version: int | None = None,
    ) -> DataFrame:
        """Okapi BM25 top-k over the standing index (k1/b and the Lucene
        +1 IDF exactly as the fused ``bm25_search_top20``): filter the
        postings to the query terms — the ``tb`` predicate folds to
        constants on the partition column, so only |terms| of
        ``n_buckets`` directories are scanned — compute per-term document
        frequencies from the filtered postings (a |terms|-row broadcast),
        score with the denormalized ``dl``, sum per document, TakeOrdered
        k with doc-id tie-break. Collection statistics (N, avgdl) come
        from ``_collection_stats``: on an index with no tombstones,
        building this frame runs no Spark job."""
        if not terms:
            raise ValueError("search needs at least one term")
        at = self._resolve_version(version)
        n_docs, total_dl = self._collection_stats(spark, at)
        if not n_docs:
            raise ValueError(
                f"{self.index_dir}: index is empty at version {at}"
            )
        avgdl = float(total_dl) / float(n_docs)
        post = self.read_postings(spark, at).filter(
            self._bucket_filter(terms) & F.col("tok").isin(list(terms))
        )
        df_ = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        )
        tfpart = (F.col("tf") * (k1 + 1.0)) / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        )
        scored = (
            post.join(F.broadcast(df_), on="tok")
            .groupBy("doc_id")
            .agg(F.sum(idf * tfpart).alias("s"))
        )
        return (
            scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", F.round("s", 6).alias("bm25"))
        )

    def search_prefix(
        self,
        spark: SparkSession,
        prefix: str,
        k: int = 20,
        version: int | None = None,
    ) -> DataFrame:
        """Prefix (wildcard ``prefix*``) term search: top-k documents by
        total occurrences of tokens starting with ``prefix``, with the
        matching-term count — ``(doc_id, tf_sum, n_terms)``.

        Scale shape — and an honest trade the exact-term paths don't
        have: hash token-buckets CANNOT prune a prefix (matching terms
        scatter across all ``n_buckets`` directories), so this reads
        every bucket's metadata. What still protects the scan is
        parquet predicate pushdown: ``startswith(tok, ...)`` reaches the
        scan as a StartsWith pushed filter (pinned in
        tests/test_text_index.py), so row groups whose tok min/max
        range excludes the prefix are skipped on statistics. Document
        text is never read, and the aggregation sees only surviving
        posting rows. A deployment that is prefix-heavy should sort
        postings by ``tok`` within buckets at compact() time to tighten
        those statistics — the layout knob, not a different algorithm."""
        if not prefix:
            raise ValueError("search_prefix needs a non-empty prefix")
        at = self._resolve_version(version)
        post = self.read_postings(spark, at).filter(
            F.col("tok").startswith(prefix)
        )
        # within one segment a (doc, tok) pair is one row, and a doc
        # lives in one segment — COUNT(*) is the distinct-term count
        per_doc = post.groupBy("doc_id").agg(
            F.sum("tf").alias("tf_sum"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        return per_doc.orderBy(
            F.col("tf_sum").desc(), F.col("doc_id").asc()
        ).limit(k)

    def search_phrase(
        self,
        spark: SparkSession,
        terms: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """Exact phrase search over a POSITIONAL index: documents where
        ``terms`` occur at strictly consecutive token positions, with the
        occurrence count — ``(doc_id, n_occ)``, matches only.

        Plan shape: one pruned posting-list frame per phrase term
        (|terms| of ``n_buckets`` directories scanned, document text
        never read), equi-joined on doc_id — a document survives the
        join chain only if it contains EVERY term, so the adjacency
        check runs on the already-small intersection. Adjacency itself
        is pure-codegen array HOFs on the positional payload: an
        occurrence is a position p of terms[0] with terms[i] at p+i for
        every i (``filter`` over the first term's positions probing the
        others via ``array_contains``). No explode, no per-position
        shuffle — positions ride inside their posting row end to end."""
        if len(terms) < 2:
            raise ValueError(
                f"phrase search needs >= 2 terms, got {len(terms)}"
            )
        if not self.positional:
            raise ValueError(
                f"{self.index_dir}: phrase search needs a positional "
                "index — rebuild with positional=True (geometry is "
                "pinned; a flat index stores no positions)"
            )
        at = self._resolve_version(version)
        post = self.read_postings(spark, at).filter(self._bucket_filter(terms))
        joined = None
        for i, t in enumerate(terms):
            side = post.filter(F.col("tok") == t).select(
                "doc_id", F.col("pos").alias(f"pos_{i}")
            )
            joined = side if joined is None else joined.join(
                side, on="doc_id"
            )
        return (
            joined.select(
                "doc_id",
                F.size(
                    F.expr(self._phrase_filter_expr(len(terms)))
                ).alias("n_occ"),
            )
            .filter(F.col("n_occ") > 0)
        )

    @staticmethod
    def _phrase_filter_expr(k: int) -> str:
        """SQL-expression spelling of the adjacency filter (the Column
        HOF API can't close over the lambda variable inside a prebuilt
        Column list — the classic lambda-arity trap — so the filter is
        built as an expression string: positions of term 0 that have
        term i at offset i for every i in 1..k-1)."""
        conds = " AND ".join(
            f"array_contains(pos_{i}, p + {i})" for i in range(1, k)
        )
        return f"filter(pos_0, p -> {conds})"

    def _bucket_filter(self, terms: list[str]) -> F.Column:
        """The ``tb`` predicate for the query terms' token buckets: the
        SAME JVM xxhash64 the build used (a reimplementation drifting by
        one bit would silently prune the wrong directories) over literal
        terms, which the optimizer folds to constants — a partition
        filter with no job to compute it."""
        return F.col("tb").isin(
            [self._token_bucket(F.lit(t)) for t in terms]
        )
