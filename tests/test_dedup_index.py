"""Persisted MinHash LSH index (operators/dedup_index.py): the
build-once / probe-many split for text near-dup.

The contract under test: (1) probing the persisted index returns
IDENTICAL candidate pairs to the fused signature computation over the
same corpus; (2) streaming ingest is exactly-once under micro-batch
replay and converges to the cold-rebuild state; (3) deletes are visible
immediately and compact() physically drops them without changing probe
results; (4) geometry is pinned; (5) a compact can never shadow a
future stream batch id (the shared-store replay-guard contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cses2humio_spark.operators.dedup import minhash_signatures
from cses2humio_spark.operators.dedup_index import MinHashIndex
from cses2humio_spark.sources.catalog import load_table
from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


@pytest.fixture()
def probes(docs):
    return docs.filter(F.col("doc_id") % 5 == 3)


def _fused_candidates(docs, probes):
    """The fused two-sided computation the index must reproduce."""
    corpus_sigs = minhash_signatures(docs, "doc_id", "text").select(
        F.col("doc_id").alias("index_id"), "band", "sig"
    )
    probe_sigs = minhash_signatures(probes, "doc_id", "text").select(
        F.col("doc_id").alias("probe_id"), "band", "sig"
    )
    return (
        probe_sigs.join(corpus_sigs, on=["band", "sig"])
        .select("probe_id", "index_id")
        .filter(F.col("probe_id") != F.col("index_id"))
        .distinct()
    )


def test_index_probe_equals_fused_computation(spark, docs, probes, tmp_path):
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs)
    assert _rows(idx.query_candidates(probes)) == _rows(
        _fused_candidates(docs, probes)
    )


def test_geometry_pinned(docs, tmp_path):
    idx = MinHashIndex(str(tmp_path / "mh"), n=3, bands=4, rows_per_band=2)
    idx.build(docs.limit(10))
    with pytest.raises(ValueError, match="geometry"):
        MinHashIndex(str(tmp_path / "mh"), n=3, bands=8, rows_per_band=2)


def test_probe_before_build_refused(spark, probes, tmp_path):
    idx = MinHashIndex(str(tmp_path / "mh"))
    with pytest.raises(ValueError, match="no committed version"):
        idx.query_candidates(probes).collect()


def test_streaming_ingest_exactly_once_and_converges(
    spark, docs, probes, tmp_path
):
    """Build on the first slice, ingest the rest in two micro-batches
    with a REPLAYED batch in between: signatures must equal a cold build
    over the full corpus (signatures are deterministic per document, so
    unlike PQ there is no frozen-codebook caveat), and the replay must
    be a no-op."""
    first = docs.filter(F.col("doc_id") % 3 == 0)
    d1 = docs.filter(F.col("doc_id") % 3 == 1)
    d2 = docs.filter(F.col("doc_id") % 3 == 2)
    assert d2.count() > 0

    idx = MinHashIndex(str(tmp_path / "stream"))
    idx.build(first)
    idx(d1, 0)
    idx(d1, 0)  # replayed micro-batch: must be skipped, not re-appended
    idx(d2, 1)
    assert idx.latest_version() == 1

    cold = MinHashIndex(str(tmp_path / "cold"))
    cold.build(docs)
    assert _rows(idx.read_signatures(spark)) == _rows(
        cold.read_signatures(spark)
    )
    assert _rows(idx.query_candidates(probes)) == _rows(
        cold.query_candidates(probes)
    )


def test_empty_batch_advances_replay_guard(spark, docs, tmp_path):
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs.filter(F.col("doc_id") < 50))
    empty = docs.filter(F.lit(False))
    idx(empty, 0)
    n_before = idx.read_signatures(spark).count()
    delta = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    idx(delta, 0)  # same batch id: guard must skip it
    assert idx.read_signatures(spark).count() == n_before
    idx(delta, 1)  # genuine next batch still lands
    assert idx.read_signatures(spark).count() > n_before


def test_compact_does_not_shadow_future_batch_ids(spark, docs, tmp_path):
    """The shared-store contract (round-6 advice, factored into
    VersionedSegmentStore): compact() bumps the artifact VERSION, which
    must never make the replay guard swallow the next genuine batch."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs.filter(F.col("doc_id") < 40))
    idx(docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)), 0)
    idx(docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80)), 1)
    idx.compact(spark)  # version jumps past the last batch id
    before = idx.read_signatures(spark).count()
    idx(docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 90)), 2)
    assert idx.read_signatures(spark).count() > before, (
        "genuine batch after compact() was silently dropped"
    )


def test_delete_visible_immediately_then_compact_drops(
    spark, docs, probes, tmp_path
):
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs)
    # pick an indexed doc that actually appears as a candidate
    some = idx.query_candidates(probes).select("index_id").first()
    victim = some.index_id
    idx.delete(docs.filter(F.col("doc_id") == victim).select("doc_id"))
    # visible immediately: no candidate pair may name the victim
    after = idx.query_candidates(probes)
    assert after.filter(F.col("index_id") == victim).count() == 0
    probe_rows_before = _rows(after)
    # compact physically drops the signatures and clears tombstones
    idx.compact(spark)
    man = idx._load_manifest(idx.latest_version())
    assert man["tombstones"] == []
    assert (
        idx.read_signatures(spark)
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )
    assert _rows(idx.query_candidates(probes)) == probe_rows_before


def test_rebuild_supersedes_and_preserves_replay_guard(spark, docs, tmp_path):
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs.filter(F.col("doc_id") < 40))
    idx(docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)), 5)
    idx.build(docs.filter(F.col("doc_id") < 100))  # rebuild: new truth
    # replay guard carried forward: an old replayed batch is still skipped
    before = idx.read_signatures(spark).count()
    idx(docs.filter(F.col("doc_id") < 10), 5)
    assert idx.read_signatures(spark).count() == before
    # a genuine next batch lands
    idx(docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)), 6)
    assert idx.read_signatures(spark).count() > before


def test_stream_ingest_kill_restart_no_dup_or_missing(
    spark, docs, probes, tmp_path
):
    """The crawl-ingest streaming story end to end: document deltas
    arrive through a REAL checkpointed foreachBatch stream; the process
    crashes AFTER the index committed batch 0 but BEFORE the checkpoint
    did (the at-least-once window), restarts from the checkpoint,
    replays batch 0 (skipped — exactly-once) and continues. Signatures
    must equal a cold rebuild over the full corpus: nothing duplicated,
    nothing missing."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    src = tmp_path / "src"
    src.mkdir()
    staging = tmp_path / "staging"
    base = docs.filter(F.col("doc_id") % 3 == 0)
    for i, rem in enumerate((1, 2)):
        d = docs.filter(F.col("doc_id") % 3 == rem).select("doc_id", "text")
        d.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(
            p for p in staging.iterdir() if p.name.endswith(".parquet")
        )
        dst = src / f"delta_{i}.parquet"
        shutil.move(str(part), str(dst))
        # file source orders batches by mtime — pin strictly increasing
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    shutil.rmtree(staging, ignore_errors=True)

    idx = MinHashIndex(str(tmp_path / "sidx"))
    idx.build(base)

    crash = {"armed": True}

    def sink(batch_df, batch_id):
        idx(batch_df, batch_id)
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after index commit")

    def start():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    q2 = start()  # same checkpoint = process restart; batch 0 replays
    q2.awaitTermination()

    cold = MinHashIndex(str(tmp_path / "scold"))
    cold.build(docs)
    assert _rows(idx.read_signatures(spark)) == _rows(
        cold.read_signatures(spark)
    )
    assert _rows(idx.query_candidates(probes)) == _rows(
        cold.query_candidates(probes)
    )


def test_probe_bucket_cap_bounds_mass_dup_fanout(spark, tmp_path):
    """A boilerplate page indexed 300 times must not fan 300 candidates
    per probe per band when the cap is set: the capped probe returns at
    most max_bucket_size index ids per bucket, always including the
    cluster's minimum id (the representative a dedup decision needs),
    and the uncapped form stays exact."""
    n = 300
    text = "the same boilerplate page body repeated verbatim every time"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    probe = spark.createDataFrame([(9999, text)], "doc_id long, text string")
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus)
    exact = idx.query_candidates(probe).collect()
    assert len(exact) == n  # every copy is a genuine candidate
    capped = idx.query_candidates(probe, max_bucket_size=50).collect()
    assert len(capped) == 50
    assert min(r.index_id for r in capped) == 0  # hub retained


# ---- admission loop (round 9: VERDICT r8 tasks #1/#3/#7) -------------------


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.fixture()
def corpus3(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "quick brown fox jumps over lazy dog"),
        ],
        "doc_id long, text string",
    )


def test_evict_on_gc_self_reference(spark):
    """VERDICT r8 #1: ``evict_on_gc(df, df)`` — the admission loop's
    legitimate shape — used to register a finalize callback that strongly
    referenced its own referent, so the frame was pinned forever and the
    eviction NEVER fired. The fix captures only the JVM handle; the
    self-referencing case must now actually evict on GC."""
    import gc

    from cses2humio_spark.session import evict_on_gc

    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    df = spark.range(100).persist()
    df.count()
    assert not cm.isEmpty()
    out = evict_on_gc(df, df)
    assert out is df
    del df, out
    gc.collect()
    assert cm.isEmpty(), "self-referencing evict_on_gc never fired"


def test_admit_batch_decision_reasons(spark, corpus3, tmp_path):
    """The four decision reasons and their partners, on a batch built to
    hit each branch exactly once (plus the batch-cluster representative),
    with deterministic first-listed-reason-wins precedence."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    batch = spark.createDataFrame(
        [
            (2, "one two three four five six seven"),  # already indexed
            (10, "alpha beta gamma delta epsilon zeta"),  # near-dup of 1
            (11, "new page body with shared tokens here"),  # batch rep
            (12, "new page body with shared tokens here"),  # dup of 11
            (13, "totally unique document nothing shared"),  # admitted
        ],
        "doc_id long, text string",
    )
    dec = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(batch, corpus3).collect()
    }
    assert dec == {
        2: ("already_indexed", 2),
        10: ("corpus_dup", 1),
        11: ("admitted", None),
        12: ("batch_dup", 11),
        13: ("admitted", None),
    }


def test_admit_and_ingest_first_seen_wins_and_replay_guard(
    spark, corpus3, tmp_path
):
    """Across micro-batches the decision is first-seen-wins: a doc
    admitted in batch 0 becomes the corpus partner rejecting its twin in
    batch 1; replaying a committed batch id returns None (decisions must
    not be re-derived against a LATER index state) and leaves the index
    untouched."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    b0 = spark.createDataFrame(
        [(20, "fresh crawl page twenty body text")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(21, "fresh crawl page twenty body text")],
        "doc_id long, text string",
    )
    corpus_all = corpus3.unionByName(b0).unionByName(b1)
    d0 = idx.admit_and_ingest(b0, 0, corpus_all)
    assert {(r.doc_id, r.reason, r.partner) for r in d0.collect()} == {
        (20, "admitted", None)
    }
    d1 = idx.admit_and_ingest(b1, 1, corpus_all)
    assert {(r.doc_id, r.reason, r.partner) for r in d1.collect()} == {
        (21, "corpus_dup", 20)
    }
    n_sigs = idx.read_signatures(spark).count()
    assert idx.admit_and_ingest(b1, 1, corpus_all) is None  # replay
    assert idx.read_signatures(spark).count() == n_sigs
    # post-ingest re-probe: the admitted doc is now already_indexed
    d0_again = idx.admit_and_ingest(b0, 2, corpus_all)
    assert {(r.doc_id, r.reason, r.partner) for r in d0_again.collect()} == {
        (20, "already_indexed", 20)
    }


def _cluster_batch(spark, ids_and_cluster):
    rows = [
        (i, f"cluster {k} shared body alpha{k} beta{k} gamma{k} delta{k}")
        for i, k in ids_and_cluster
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_admit_batches_equal_one_shot_on_closed_clusters(spark, tmp_path):
    """The batch==one-shot pin the r8 docstring cited but never existed
    (VERDICT r8 #2): on transitively-closed clusters (exact duplicates —
    every in-cluster pair verifies), feeding id-ordered micro-batches
    through admit_and_ingest reproduces the one-shot min-id-per-cluster
    decision exactly — same survivor set, same partner mapping (reasons
    differ by arrival: corpus_dup vs batch_dup)."""
    all_docs = [(i, i // 3) for i in range(24)]  # 8 clusters of 3
    seed = spark.createDataFrame(
        [(1000, "seed corpus completely unrelated body text")],
        "doc_id long, text string",
    )
    full = _cluster_batch(spark, all_docs)
    corpus_all = seed.unionByName(full)

    streamed = MinHashIndex(str(tmp_path / "streamed"))
    streamed.build(seed)
    decisions = {}
    for b, lo in enumerate(range(0, 24, 8)):
        batch = _cluster_batch(
            spark, [(i, k) for i, k in all_docs if lo <= i < lo + 8]
        )
        for r in streamed.admit_and_ingest(batch, b, corpus_all).collect():
            decisions[r.doc_id] = r.partner if r.partner is not None else r.doc_id

    oneshot_idx = MinHashIndex(str(tmp_path / "oneshot"))
    oneshot_idx.build(seed)
    oneshot = {
        r.doc_id: (r.partner if r.partner is not None else r.doc_id)
        for r in oneshot_idx.admit_batch(full, corpus_all).collect()
    }
    assert decisions == oneshot
    assert sorted(i for i, p in decisions.items() if p == i) == [
        3 * k for k in range(8)
    ]
    # the streamed index ingested exactly the survivors
    survivors = {
        r.doc_id
        for r in streamed.read_signatures(spark).select("doc_id").distinct().collect()
    }
    assert survivors == {1000} | {3 * k for k in range(8)}


def test_admit_batch_uncovered_partner_raises(spark, corpus3, tmp_path):
    """ADVICE r8 #2 (no-silent-failure): a candidate's index partner
    whose text is missing from corpus_docs cannot be Jaccard-verified;
    the decision row must raise at materialization instead of silently
    admitting a true near-dup."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    stale = corpus3.filter(F.col("doc_id") != 1)  # partner 1's text gone
    with pytest.raises(Exception, match="corpus_docs lacks text"):
        idx.admit_batch(batch, stale).collect()


def test_admit_batch_string_id_partner_type(spark, tmp_path):
    """ADVICE r8 #3: partner was hard-cast to bigint, silently nulling
    every partner under a configurable string id column. It must carry
    the id column's own type."""
    corpus = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta")],
        "doc_id string, text string",
    )
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus)
    batch = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta epsilon zeta"),
            ("y", "brand new body with some shared tokens"),
            ("z", "brand new body with some shared tokens"),
        ],
        "doc_id string, text string",
    )
    dec_df = idx.admit_batch(batch, corpus)
    assert dict(dec_df.dtypes)["partner"] == "string"
    dec = {r.doc_id: (r.reason, r.partner) for r in dec_df.collect()}
    assert dec == {
        "a": ("already_indexed", "a"),
        "y": ("admitted", None),
        "z": ("batch_dup", "y"),
    }


def test_admit_and_ingest_cache_evicted_on_gc(spark, corpus3, tmp_path):
    """VERDICT r8 #1 regression pin, mirroring
    test_bigram_lm_model_cache_evicted_on_gc: a foreachBatch admission
    loop must not accumulate one cache entry per micro-batch for the
    life of the session. Since the r14 lineage truncation the decision
    frame is an eager localCheckpoint (RDD storage, not a Dataset cache)
    and admit_batch's internal helper caches are evicted as soon as
    admit_and_ingest returns (the pre-checkpoint frame is dropped inside
    the call, firing the finalizer) — so the CacheManager must be empty
    by the time the caller holds the frame, and the frame must still be
    readable afterwards (the frozen decisions outlive the caches)."""
    import gc

    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    dec = idx.admit_and_ingest(batch, 0, corpus3)
    gc.collect()
    assert cm.isEmpty(), "admission caches leaked past admit_and_ingest"
    # the frozen decision frame is independent of the evicted caches
    assert dec.collect()[0]["doc_id"] == 10
    del dec
    gc.collect()
    assert cm.isEmpty(), "admission caches leaked past decision-frame GC"


def test_admit_and_ingest_stream_kill_restart(spark, docs, tmp_path):
    """VERDICT r8 task #7: the admission loop under a REAL checkpointed
    foreachBatch stream — crash in the at-least-once window (after the
    index committed batch 0, before the checkpoint did), restart, replay
    (admit_and_ingest returns None — decisions are never re-derived
    against a later index state), continue. Final signatures must equal
    a sequential batch-mode twin's."""
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    staging = tmp_path / "staging"
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    deltas = []
    for i, rem in enumerate((1, 2)):
        d = docs.filter(F.col("doc_id") % 3 == rem).select("doc_id", "text")
        deltas.append(d)
        d.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(
            p for p in staging.iterdir() if p.name.endswith(".parquet")
        )
        dst = src / f"delta_{i}.parquet"
        shutil.move(str(part), str(dst))
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    shutil.rmtree(staging, ignore_errors=True)

    idx = MinHashIndex(str(tmp_path / "sidx"))
    idx.build(seed)
    crash = {"armed": True}
    seen: dict[int, list] = {}

    def sink(batch_df, batch_id):
        d = idx.admit_and_ingest(batch_df, batch_id, docs)
        if d is not None:  # replayed batch: decided + ingested already
            seen[batch_id] = _rows(d)
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after admission commit")

    def start():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    assert sorted(seen) == [0, 1]

    twin = MinHashIndex(str(tmp_path / "twin"))
    twin.build(seed)
    for b, d in enumerate(deltas):
        td = twin.admit_and_ingest(d, b, docs)
        assert _rows(td) == seen[b]
    assert _rows(idx.read_signatures(spark)) == _rows(
        twin.read_signatures(spark)
    )


def test_probe_plan_zero_shuffle_signing_no_corpus_text(
    spark, docs, probes, tmp_path
):
    """VERDICT r8 task #6 (r7 #7): the zero-KEY-shuffle probe claim as a
    plan PIN, not a docstring. (1) The probe-signing subtree
    (``_signatures``) is a projection — no hash/range exchange, no
    aggregate of any kind (the groupBy signature formulation would plan
    one); the only exchange allowed is ``fan_out``'s ROUND-ROBIN
    rebalance of single-split local inputs (load balancing, not data
    movement the algorithm requires — a no-op at scale);
    (2) the full ``query_candidates`` plan's only aggregates are the
    final distinct's partial+final pair — nothing aggregates before the
    (band, sig) join; (3) the index side scans ONLY the signature
    artifacts — no scan in the plan touches the corpus text column from
    the index directory (corpus text is never read on the probe path)."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(docs)

    sig_plan = (
        idx._signatures(probes)._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning" not in sig_plan, sig_plan[:1500]
    assert "rangepartitioning" not in sig_plan, sig_plan[:1500]
    assert "Aggregate" not in sig_plan, sig_plan[:1500]

    full = (
        idx.query_candidates(probes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # only the trailing distinct aggregates (partial + final)
    n_aggs = (
        full.count("HashAggregate")
        + full.count("SortAggregate")
        + full.count("ObjectHashAggregate")
    )
    assert n_aggs == 2, f"unexpected aggregation before the probe join:\n{full[:2000]}"
    # the index-side scans read signatures only — never a text column
    index_scan_lines = [
        ln
        for ln in full.splitlines()
        if "FileScan" in ln and str(tmp_path / "mh") in ln
    ]
    assert index_scan_lines, "no index-artifact scan found in probe plan"
    for ln in index_scan_lines:
        assert "text" not in ln, f"index scan reads corpus text:\n{ln[:500]}"


# ---- EmbeddingLshIndex: streaming semantic dedup (round 9, task #8) --------


from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex  # noqa: E402


def _vec(seed: int, dim: int = 8):
    """Deterministic unit vector per seed (seeded Gaussian — distinct
    seeds are effectively independent directions, far below any 0.9
    cosine threshold; identical seeds are cosine 1.0)."""
    import math
    import random

    rng = random.Random(seed)
    vals = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


@pytest.fixture()
def vec_corpus(spark):
    rows = [(i, _vec(i)) for i in range(1, 4)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _vdf(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_index_geometry_pinned(vec_corpus, tmp_path):
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    with pytest.raises(ValueError, match="geometry"):
        EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=8)
    with pytest.raises(ValueError, match="62"):
        EmbeddingLshIndex(str(tmp_path / "e2"), dim=8, n_planes=8, n_bands=8)


def test_embedding_index_probe_equals_fused_candidates(spark, tmp_path):
    """Split correctness: probing the persisted signature table returns
    exactly the pairs the fused two-sided signature computation
    produces (same hyperplanes, same banding)."""
    from cses2humio_spark.operators.similarity import (
        first_matching_band,
        lsh_signatures,
    )

    corpus = _vdf(spark, [(i, _vec(i)) for i in range(40)])
    probes = _vdf(
        spark, [(100 + i, _vec(i)) for i in range(0, 40, 5)]
    )  # re-uses of corpus vectors -> guaranteed band hits
    w, b = 4, 5
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=w, n_bands=b)
    idx.build(corpus)

    def entries(df, alias):
        sigs = lsh_signatures(df, 8, w * b, "embedding")
        return idx._band_entries(
            sigs.select("vec_id", "lsh_sig"), alias
        ).withColumnRenamed("lsh_sig", f"__{alias}")

    pe, ie = entries(probes, "probe_id"), entries(corpus, "index_id")
    fused = (
        pe.join(ie, on=["band", "band_sig"])
        .select("probe_id", "index_id")
        .filter(F.col("probe_id") != F.col("index_id"))
        .distinct()
    )
    got = idx.query_candidates(probes)
    assert _rows(got.distinct()) == _rows(fused)
    assert got.count() == got.distinct().count(), (
        "first-matching-band emission must not duplicate pairs"
    )


def test_embedding_admit_batch_decision_reasons(spark, vec_corpus, tmp_path):
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    batch = _vdf(
        spark,
        [
            (2, _vec(2)),  # already indexed
            (10, _vec(1)),  # exact vector of corpus id 1 -> corpus_dup
            (11, _vec(50)),  # batch cluster rep
            (12, _vec(50)),  # identical -> batch_dup of 11
            (13, _vec(60)),  # unique -> admitted
        ],
    )
    dec = {
        r.vec_id: (r.reason, r.partner)
        for r in idx.admit_batch(batch, vec_corpus, threshold=0.9).collect()
    }
    assert dec == {
        2: ("already_indexed", 2),
        10: ("corpus_dup", 1),
        11: ("admitted", None),
        12: ("batch_dup", 11),
        13: ("admitted", None),
    }


def test_embedding_admit_uncovered_partner_raises(spark, vec_corpus, tmp_path):
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    batch = _vdf(spark, [(10, _vec(1))])
    stale = vec_corpus.filter(F.col("vec_id") != 1)
    with pytest.raises(Exception, match="corpus_vectors lacks"):
        idx.admit_batch(batch, stale, threshold=0.9).collect()


def test_embedding_admit_wrong_length_vector_raises(
    spark, vec_corpus, tmp_path
):
    """A batch vector whose length is not the index's dim cannot be
    signed: admission fails with a ValueError naming dim and the
    offending length — a longer vector is not signed on its prefix
    (this one's 8-prefix points where corpus vector 1 does), and a
    shorter one does not surface as a numpy broadcast error."""
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    for n in (16, 3):
        batch = _vdf(spark, [(10, _vec(1, dim=n))])
        with pytest.raises(
            Exception, match=f"ValueError: .*length {n} in a signature of dim=8"
        ):
            idx.admit_batch(batch, vec_corpus, threshold=0.9).collect()


def test_embedding_admit_and_ingest_first_seen_replay_and_gc(
    spark, vec_corpus, tmp_path
):
    """First-seen-wins across micro-batches, replay guard, and cache
    eviction on decision-frame GC — the same three contracts as the
    text twin, on the vector side."""
    import gc

    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    b0 = _vdf(spark, [(20, _vec(70))])
    b1 = _vdf(spark, [(21, _vec(70))])
    corpus_all = vec_corpus.unionByName(b0).unionByName(b1)
    d0 = idx.admit_and_ingest(b0, 0, corpus_all, threshold=0.9)
    assert {(r.vec_id, r.reason, r.partner) for r in d0.collect()} == {
        (20, "admitted", None)
    }
    d1 = idx.admit_and_ingest(b1, 1, corpus_all, threshold=0.9)
    assert {(r.vec_id, r.reason, r.partner) for r in d1.collect()} == {
        (21, "corpus_dup", 20)
    }
    n = idx.read_signatures(spark).count()
    assert idx.admit_and_ingest(b1, 1, corpus_all, threshold=0.9) is None
    assert idx.read_signatures(spark).count() == n
    # r14 lineage truncation: the internal admission caches are evicted
    # as soon as admit_and_ingest returns (the pre-checkpoint frame is
    # dropped inside the call) — the frozen decision frames themselves
    # are RDD checkpoints, not Dataset cache entries
    del d0, d1
    gc.collect()
    assert cm.isEmpty(), "vector admission caches leaked past result GC"


def test_embedding_delete_then_compact_drops_signatures(
    spark, vec_corpus, tmp_path
):
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    idx.delete(vec_corpus.filter(F.col("vec_id") == 2).select("vec_id"))
    assert (
        idx.read_signatures(spark).filter(F.col("vec_id") == 2).count() == 0
    )
    # a probe equal to the deleted vector no longer reports it
    probe = _vdf(spark, [(99, _vec(2))])
    assert (
        idx.query_candidates(probe).filter(F.col("index_id") == 2).count()
        == 0
    )
    idx.compact(spark)
    man = idx._load_manifest(idx.latest_version())
    assert man["tombstones"] == []
    assert (
        idx.read_signatures(spark).filter(F.col("vec_id") == 2).count() == 0
    )


def test_embedding_admission_stream_kill_restart(spark, tmp_path):
    """The semantic-dedup streaming story end to end: embedding deltas
    arrive through a REAL checkpointed foreachBatch stream feeding
    admit_and_ingest; crash in the at-least-once window; restart
    replays batch 0 (None — skipped) and continues. Decisions and final
    signatures must equal a sequential batch-mode twin."""
    import os
    import shutil

    all_rows = [(i, _vec(i % 12)) for i in range(36)]  # 12 clusters of 3
    corpus_all = _vdf(spark, all_rows)
    seed = _vdf(spark, [r for r in all_rows if r[0] % 3 == 0])
    deltas = []
    src = tmp_path / "src"
    src.mkdir()
    staging = tmp_path / "staging"
    for i, rem in enumerate((1, 2)):
        d = _vdf(spark, [r for r in all_rows if r[0] % 3 == rem])
        deltas.append(d)
        d.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(
            p for p in staging.iterdir() if p.name.endswith(".parquet")
        )
        dst = src / f"delta_{i}.parquet"
        shutil.move(str(part), str(dst))
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    shutil.rmtree(staging, ignore_errors=True)

    idx = EmbeddingLshIndex(
        str(tmp_path / "sidx"), dim=8, n_planes=4, n_bands=5
    )
    idx.build(seed)
    crash = {"armed": True}
    seen: dict[int, list] = {}

    def sink(batch_df, batch_id):
        d = idx.admit_and_ingest(batch_df, batch_id, corpus_all, threshold=0.9)
        if d is not None:
            seen[batch_id] = _rows(d)
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after admission commit")

    def start():
        return (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    assert sorted(seen) == [0, 1]

    twin = EmbeddingLshIndex(
        str(tmp_path / "twin"), dim=8, n_planes=4, n_bands=5
    )
    twin.build(seed)
    for b, d in enumerate(deltas):
        assert _rows(twin.admit_and_ingest(d, b, corpus_all, threshold=0.9)) == seen[b]
    assert _rows(idx.read_signatures(spark)) == _rows(
        twin.read_signatures(spark)
    )
    # clusters are {k, k+12, k+24} (same vector); all three members share
    # k mod 3, so clusters with k % 3 == 0 are fully seeded and admit
    # nothing, while each unseeded cluster admits exactly its min id k
    expected = sorted(
        set(range(0, 36, 3)) | {k for k in range(12) if k % 3 != 0}
    )
    assert sorted(
        r.vec_id for r in idx.read_signatures(spark).select("vec_id").collect()
    ) == expected


def test_admit_batch_degenerate_batches(spark, corpus3, tmp_path):
    """Edge pins: a batch consisting ONLY of already-indexed ids decides
    without touching the verify machinery's error paths, and an EMPTY
    batch returns an empty decision frame (both shapes occur routinely
    in a long-running admission stream)."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    all_indexed = corpus3.select("doc_id", "text")
    dec = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(all_indexed, corpus3).collect()
    }
    assert dec == {i: ("already_indexed", i) for i in (1, 2, 3)}
    empty = corpus3.filter(F.lit(False)).select("doc_id", "text")
    assert idx.admit_batch(empty, corpus3).collect() == []


def test_embedding_admit_batch_degenerate_batches(spark, vec_corpus, tmp_path):
    """Vector-twin edge pins, same contracts as the text side."""
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    dec = {
        r.vec_id: (r.reason, r.partner)
        for r in idx.admit_batch(vec_corpus, vec_corpus, threshold=0.9).collect()
    }
    assert dec == {i: ("already_indexed", i) for i in (1, 2, 3)}
    empty = vec_corpus.filter(F.lit(False))
    assert idx.admit_batch(empty, vec_corpus, threshold=0.9).collect() == []


def test_admit_batch_capped_mode_within_batch_twins_consistent(
    spark, corpus3, vec_corpus, tmp_path
):
    """Capped-mode within-batch semantics (ADVICE r9 #3): with
    ``max_bucket_size`` set, BOTH twins truncate the id_b side of the
    within-batch candidate stage to the cap smallest ids per bucket — a
    flood of identical documents in one batch is bounded to cap x rows
    candidates instead of rows^2, at the documented recall cost: with
    cap=2, the third identical doc loses its candidate pairs entirely
    and is (wrongly but BOUNDEDLY) admitted. A generous cap must
    reproduce the uncapped decisions exactly. Pinned on both twins so
    they cannot diverge again (the r9 divergence: MinHash capped its
    within-batch stage, the vector twin did not)."""
    # -- text twin: ids 20/21/22 share one identical text ----------------
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    flood = spark.createDataFrame(
        [
            (20, "copied boilerplate page body text here"),
            (21, "copied boilerplate page body text here"),
            (22, "copied boilerplate page body text here"),
        ],
        "doc_id long, text string",
    )
    uncapped = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(flood, corpus3).collect()
    }
    assert uncapped == {
        20: ("admitted", None),
        21: ("batch_dup", 20),
        22: ("batch_dup", 20),
    }
    generous = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(flood, corpus3, max_bucket_size=100).collect()
    }
    assert generous == uncapped
    capped = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(flood, corpus3, max_bucket_size=2).collect()
    }
    assert capped == {
        20: ("admitted", None),
        21: ("batch_dup", 20),
        22: ("admitted", None),  # truncated out of every bucket: the trade
    }

    # -- vector twin: same shape, identical vectors ----------------------
    vidx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    vidx.build(vec_corpus)
    vflood = _vdf(spark, [(20, _vec(50)), (21, _vec(50)), (22, _vec(50))])
    v_uncapped = {
        r.vec_id: (r.reason, r.partner)
        for r in vidx.admit_batch(vflood, vec_corpus, threshold=0.9).collect()
    }
    assert v_uncapped == {
        20: ("admitted", None),
        21: ("batch_dup", 20),
        22: ("batch_dup", 20),
    }
    v_generous = {
        r.vec_id: (r.reason, r.partner)
        for r in vidx.admit_batch(
            vflood, vec_corpus, threshold=0.9, max_bucket_size=100
        ).collect()
    }
    assert v_generous == v_uncapped
    v_capped = {
        r.vec_id: (r.reason, r.partner)
        for r in vidx.admit_batch(
            vflood, vec_corpus, threshold=0.9, max_bucket_size=2
        ).collect()
    }
    assert v_capped == {
        20: ("admitted", None),
        21: ("batch_dup", 20),
        22: ("admitted", None),
    }


@pytest.fixture()
def eval_suite(spark):
    """Eval docs sharing long spans with specific batch texts (8+ token
    texts so the default-shaped 3-gram gate in the tests below has
    matter to match)."""
    return spark.createDataFrame(
        [(900, "leaked benchmark answer text exactly here for sure")],
        "doc_id long, text string",
    )


def test_admit_batch_contaminated_reason_and_precedence(
    spark, corpus3, eval_suite, tmp_path
):
    """VERDICT r9 #6: with eval_docs, an eval-overlapping fresh doc takes
    reason 'contaminated' (partner NULL), decontamination runs BEFORE
    dedup (a contaminated doc is never a within-batch cluster
    representative — its twin is decided against the remaining clean
    set), and already_indexed still wins over contaminated (index
    membership is identity-level)."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    # corpus includes a doc whose text leaks the eval suite — its id is
    # LIVE in the index, so a re-crawl of it must stay already_indexed
    corpus = corpus3.unionByName(
        spark.createDataFrame(
            [(4, "leaked benchmark answer text exactly here for sure")],
            "doc_id long, text string",
        )
    )
    idx.build(corpus)
    batch = spark.createDataFrame(
        [
            (4, "leaked benchmark answer text exactly here for sure"),
            # contaminated AND the min id of a would-be batch cluster:
            (10, "leaked benchmark answer text exactly here for sure"),
            (11, "brand new clean page body words here"),
            (12, "brand new clean page body words here"),
            (13, "totally unique document nothing shared"),
        ],
        "doc_id long, text string",
    )
    dec = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(
            batch,
            corpus,
            eval_docs=eval_suite,
            contamination_threshold=0.5,
            eval_n=3,
        ).collect()
    }
    # 10 would be corpus_dup of 4 (identical text) and the min id of its
    # cluster — but contamination is decided FIRST and excludes it from
    # every dedup stage; 11 stays the representative of {11, 12}
    assert dec == {
        4: ("already_indexed", 4),
        10: ("contaminated", None),
        11: ("admitted", None),
        12: ("batch_dup", 11),
        13: ("admitted", None),
    }
    # without eval_docs the same batch decides on dedup alone — the
    # composed gate changes nothing it shouldn't
    dec_plain = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(batch, corpus).collect()
    }
    assert dec_plain[10] == ("corpus_dup", 4)
    assert dec_plain[12] == ("batch_dup", 11)


def test_admit_and_ingest_contaminated_never_ingested_first_seen_kept(
    spark, corpus3, eval_suite, tmp_path
):
    """The composed streaming loop: contaminated docs are never ingested
    (benchmark text cannot enter the corpus through admission), the
    replay guard still returns None, and first-seen-wins across batches
    is unchanged for clean docs."""
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    b0 = spark.createDataFrame(
        [
            (20, "fresh crawl page twenty body text"),
            (21, "leaked benchmark answer text exactly here for sure"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (22, "fresh crawl page twenty body text"),  # twin of 20
            # identical to the CONTAMINATED 21 — 21 was never ingested,
            # so 23 must be decided on its own merits (contaminated too)
            (23, "leaked benchmark answer text exactly here for sure"),
        ],
        "doc_id long, text string",
    )
    corpus_all = corpus3.unionByName(b0).unionByName(b1)
    kw = dict(eval_docs=eval_suite, contamination_threshold=0.5, eval_n=3)
    d0 = idx.admit_and_ingest(b0, 0, corpus_all, **kw)
    assert {(r.doc_id, r.reason, r.partner) for r in d0.collect()} == {
        (20, "admitted", None),
        (21, "contaminated", None),
    }
    ingested = {
        r.doc_id
        for r in idx.read_signatures(spark).select("doc_id").distinct().collect()
    }
    assert 21 not in ingested and 20 in ingested
    d1 = idx.admit_and_ingest(b1, 1, corpus_all, **kw)
    assert {(r.doc_id, r.reason, r.partner) for r in d1.collect()} == {
        (22, "corpus_dup", 20),  # first-seen-wins: 20 rejects its twin
        (23, "contaminated", None),
    }
    assert idx.admit_and_ingest(b1, 1, corpus_all, **kw) is None  # replay


def test_decontaminating_admission_stream_kill_restart(spark, tmp_path):
    """VERDICT r9 #6 acceptance: the COMPOSED loop under a checkpointed
    foreachBatch stream with an injected crash in the at-least-once
    window — replay returns None, the restarted stream continues, and
    final signatures equal a sequential twin's; contaminated ids are in
    no segment of either."""
    import os
    import shutil

    def batchdf(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    seed = batchdf([(0, "seed corpus completely unrelated body text")])
    eval_suite = batchdf(
        [(900, "leaked benchmark answer text exactly here for sure")]
    )
    deltas = [
        batchdf(
            [
                (10, "first crawl wave page body words"),
                (11, "leaked benchmark answer text exactly here for sure"),
            ]
        ),
        batchdf(
            [
                (20, "first crawl wave page body words"),  # dup of 10
                (21, "second wave genuinely new content words"),
            ]
        ),
    ]
    corpus_all = seed.unionByName(deltas[0]).unionByName(deltas[1])

    src = tmp_path / "src"
    src.mkdir()
    staging = tmp_path / "staging"
    for i, d in enumerate(deltas):
        d.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(
            p for p in staging.iterdir() if p.name.endswith(".parquet")
        )
        dst = src / f"delta_{i}.parquet"
        shutil.move(str(part), str(dst))
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    shutil.rmtree(staging, ignore_errors=True)

    idx = MinHashIndex(str(tmp_path / "sidx"))
    idx.build(seed)
    kw = dict(eval_docs=eval_suite, contamination_threshold=0.5, eval_n=3)
    crash = {"armed": True}
    seen: dict[int, list] = {}

    def sink(batch_df, batch_id):
        d = idx.admit_and_ingest(batch_df, batch_id, corpus_all, **kw)
        if d is not None:
            seen[batch_id] = _rows(d)
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after admission commit")

    def start():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    assert sorted(seen) == [0, 1]
    assert [r[1] for r in seen[0]] == ["admitted", "contaminated"]
    assert [r[1] for r in seen[1]] == ["corpus_dup", "admitted"]

    twin = MinHashIndex(str(tmp_path / "twin"))
    twin.build(seed)
    for b, d in enumerate(deltas):
        assert _rows(twin.admit_and_ingest(d, b, corpus_all, **kw)) == seen[b]
    assert _rows(idx.read_signatures(spark)) == _rows(
        twin.read_signatures(spark)
    )
    live = {
        r.doc_id
        for r in idx.read_signatures(spark).select("doc_id").distinct().collect()
    }
    assert live == {0, 10, 21}  # 11 contaminated, 20 corpus_dup: excluded


def test_embedding_admit_batch_contaminated_reason(
    spark, vec_corpus, tmp_path
):
    """Vector twin of the decontamination gate (r10): a fresh batch
    vector within eval_threshold cosine of ANY eval-suite vector takes
    reason 'contaminated' (partner NULL), is excluded from the dedup
    stages (its identical twin in the batch is decided against the
    remaining clean set), and ingest skips it."""
    idx = EmbeddingLshIndex(str(tmp_path / "e"), dim=8, n_planes=4, n_bands=5)
    idx.build(vec_corpus)
    eval_vectors = _vdf(spark, [(900, _vec(77))])
    batch = _vdf(
        spark,
        [
            (10, _vec(77)),  # exact eval vector -> contaminated
            (11, _vec(50)),  # clean cluster rep
            (12, _vec(50)),  # batch_dup of 11
            (13, _vec(60)),  # admitted
        ],
    )
    kw = dict(
        threshold=0.9, eval_vectors=eval_vectors, eval_threshold=0.9
    )
    dec = {
        r.vec_id: (r.reason, r.partner)
        for r in idx.admit_batch(batch, vec_corpus, **kw).collect()
    }
    assert dec == {
        10: ("contaminated", None),
        11: ("admitted", None),
        12: ("batch_dup", 11),
        13: ("admitted", None),
    }
    # the composed loop never ingests the contaminated vector
    d = idx.admit_and_ingest(batch, 0, vec_corpus, **kw)
    assert {
        (r.vec_id, r.reason) for r in d.collect()
    } == {(10, "contaminated"), (11, "admitted"), (12, "batch_dup"),
          (13, "admitted")}
    live = {
        r.vec_id
        for r in idx.read_signatures(spark).select("vec_id").distinct().collect()
    }
    assert 10 not in live and {11, 13} <= live


def test_admit_batch_precomputed_eval_fingerprints(
    spark, corpus3, eval_suite, tmp_path
):
    """r10: a streaming caller precomputes the STATIC eval suite's
    fingerprint table once (eval_fingerprint_table) instead of
    re-shingling it inside every micro-batch. The fingerprint path must
    produce decisions identical to the eval_docs path; a fingerprint
    table built with a different gram length is refused loudly, as is
    passing both or neither eval argument when one is expected."""
    from cses2humio_spark.operators.dedup import (
        eval_contamination,
        eval_fingerprint_table,
    )

    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.build(corpus3)
    batch = spark.createDataFrame(
        [
            (10, "leaked benchmark answer text exactly here for sure"),
            (11, "brand new clean page body words here"),
        ],
        "doc_id long, text string",
    )
    fps = eval_fingerprint_table(eval_suite, n=3).persist()
    via_docs = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(
            batch, corpus3, eval_docs=eval_suite,
            contamination_threshold=0.5, eval_n=3,
        ).collect()
    }
    via_fps = {
        r.doc_id: (r.reason, r.partner)
        for r in idx.admit_batch(
            batch, corpus3, eval_fingerprints=fps,
            contamination_threshold=0.5, eval_n=3,
        ).collect()
    }
    assert via_docs == via_fps
    assert via_fps[10] == ("contaminated", None)

    # gram-length mismatch is incomparable -> loud refusal
    with pytest.raises(ValueError, match="incomparable"):
        idx.admit_batch(
            batch, corpus3, eval_fingerprints=fps,
            contamination_threshold=0.5, eval_n=8,
        )
    # a frame that did not come from eval_fingerprint_table is refused
    with pytest.raises(ValueError, match="eval_fingerprint_table"):
        eval_contamination(
            batch, None, eval_fingerprints=batch.select(
                F.col("text").alias("__fp")
            )
        )
    # both-or-neither eval sides are caller bugs
    with pytest.raises(ValueError, match="exactly one"):
        eval_contamination(
            batch, eval_suite, eval_fingerprints=fps, n=3
        )
