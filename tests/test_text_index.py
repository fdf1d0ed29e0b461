"""Persisted inverted text index (operators/text_index.py): the BM25
build/search split.

The contract under test: (1) searching the persisted index returns
IDENTICAL rows to the fused oracle-checked ``bm25_search_top20`` over
the same corpus; (2) the search plan never touches document text — the
only corpus-shaped inputs are the pruned posting buckets and the narrow
doc-length table — and the posting scan prunes on the ``tb`` partition
column; (3) streaming ingest is exactly-once under micro-batch replay
and converges to the cold-rebuild state; (4) tombstoned deletes leave
search results AND collection statistics (N, avgdl) exactly as if the
docs had never been indexed, and compaction preserves results while
physically dropping dead postings; (5) geometry is pinned.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cses2humio_spark.operators.text_index import InvertedTextIndex
from cses2humio_spark.sources.catalog import load_table
from tests.conftest import SF_SMALL

TERMS = ["spark", "join", "window"]
K1, B = 1.2, 0.75


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fused_bm25(docs, terms, k=20, k1=K1, b=B):
    """The fused formulation (queries/llm.bm25_search_top20 inlined so
    it can run over an arbitrary document subset, not just a sf dir)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, avgdl = dl.agg(F.count(F.lit(1)), F.avg("dl")).collect()[0]
    tf = (
        toks.filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    tfpart = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(df_), on="tok")
        .join(dl, on="doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * tfpart).alias("s"))
    )
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.round("s", 6).alias("bm25"))
    )


@pytest.fixture()
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def test_index_search_equals_fused_bm25(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "ti"), n_buckets=16)
    assert idx.build(docs) == -1
    got = idx.search(spark, TERMS, k=20)
    want = _fused_bm25(docs, TERMS, k=20)
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 20


def test_search_plan_prunes_buckets_and_never_reads_text(
    spark, docs, tmp_path
):
    """The whole point of the split: a search must not re-tokenize the
    corpus. No scan in the plan may carry the text column, and the
    posting scan must prune on the tb partition column."""
    idx = InvertedTextIndex(str(tmp_path / "tplan"), n_buckets=16)
    idx.build(docs)
    plan = (
        idx.search(spark, TERMS, k=20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "text" not in plan, plan[:2000]
    assert "explode" not in plan.lower(), plan[:2000]
    assert "tb" in plan and "PartitionFilters" in plan, plan[:2000]
    # the fused twin DOES tokenize — the assertions above discriminate
    fused_plan = (
        _fused_bm25(docs, TERMS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "explode" in fused_plan.lower()


def test_segments_partitioned_by_token_bucket(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tpart"), n_buckets=16)
    v = idx.build(docs)
    seg = tmp_path / "tpart" / f"seg={v}"
    assert any(p.name.startswith("tb=") for p in seg.iterdir()), sorted(
        p.name for p in seg.iterdir()
    )


def test_streaming_ingest_exactly_once_and_converges(spark, docs, tmp_path):
    """Build on the first 300 docs, ingest the rest in two micro-batches
    with a REPLAYED batch in between (crash-after-commit window): search
    must equal a cold build over the full corpus, and the replay must be
    a no-op."""
    first = docs.filter(F.col("doc_id") < 300)
    d1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    d2 = docs.filter(F.col("doc_id") >= 400)

    idx = InvertedTextIndex(str(tmp_path / "ting"), n_buckets=16)
    idx.build(first)
    idx(d1, batch_id=0)
    idx(d1, batch_id=0)  # replayed micro-batch: must be skipped
    idx(d2, batch_id=1)

    cold = InvertedTextIndex(str(tmp_path / "tcold"), n_buckets=16)
    cold.build(docs)

    got = idx.search(spark, TERMS, k=20)
    want = cold.search(spark, TERMS, k=20)
    assert _rows(got) == _rows(want)
    # the replayed batch must not have produced a third delta segment
    import json, os

    man = json.load(
        open(
            os.path.join(
                str(tmp_path / "ting"), f"manifest_v={idx.latest_version()}.json"
            )
        )
    )
    assert len(man["segments"]) == 3  # build + two real deltas


def test_empty_batch_advances_replay_guard(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tempty"), n_buckets=16)
    idx.build(docs)
    before = idx.latest_version()
    idx(docs.filter(F.lit(False)), batch_id=5)
    assert idx.latest_version() == before + 1
    idx(docs.filter(F.col("doc_id") < 0), batch_id=5)  # replay: no-op
    assert idx.latest_version() == before + 1


def test_build_on_empty_corpus_commits_searchable_state(
    spark, docs, tmp_path
):
    """ADVICE r14: build() over an EMPTY corpus must commit an empty
    segment list (the r14 Observation refactor made _write_segment skip
    the doc-length artifact, so registering the version would commit a
    segment whose dl dir never exists — every later search crashed on
    schema inference). Contract now: the build commits cleanly, search
    refuses loudly with the established 'index is empty' error (not a
    parquet UNABLE_TO_INFER_SCHEMA crash), and a subsequent real ingest
    repairs the index in place."""
    idx = InvertedTextIndex(str(tmp_path / "tempty0"), n_buckets=16)
    v = idx.build(docs.filter(F.lit(False)))
    man = idx._load_manifest(v)
    assert man["segments"] == []
    with pytest.raises(ValueError, match="index is empty"):
        idx.search(spark, TERMS, k=5).collect()
    idx(docs, batch_id=0)  # geometry committed: ingest works
    assert idx.search(spark, TERMS, k=3).count() == 3


def test_tombstone_delete_matches_never_indexed(spark, docs, tmp_path):
    """Deleting docs must leave search IDENTICAL to an index that never
    saw them — including the collection statistics N/avgdl, which shift
    every surviving score (the manifest's per-segment sums still count
    the deleted docs, so search must take the exact path here)."""
    top = _fused_bm25(docs, TERMS, k=3).select("doc_id")
    victims = [r["doc_id"] for r in top.collect()]

    idx = InvertedTextIndex(str(tmp_path / "tdel"), n_buckets=16)
    idx.build(docs)
    idx.delete(docs.filter(F.col("doc_id").isin(victims)).select("doc_id"))

    survivors = docs.filter(~F.col("doc_id").isin(victims))
    want = _fused_bm25(survivors, TERMS, k=20)
    got = idx.search(spark, TERMS, k=20)
    assert _rows(got) == _rows(want)
    assert not {r[0] for r in _rows(got)} & set(victims)

    # compaction physically drops the dead postings; results unchanged
    v = idx.compact(spark)
    assert _rows(idx.search(spark, TERMS, k=20)) == _rows(want)
    post = idx.read_postings(spark, v)
    assert post.filter(F.col("doc_id").isin(victims)).count() == 0


def test_geometry_pinned(tmp_path):
    InvertedTextIndex(str(tmp_path / "tg"), n_buckets=16)
    with pytest.raises(ValueError, match="geometry"):
        InvertedTextIndex(str(tmp_path / "tg"), n_buckets=32)


def test_search_before_build_refused(spark, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tnb"), n_buckets=16)
    with pytest.raises(ValueError, match="build"):
        idx.search(spark, TERMS)


def test_ingest_before_build_refused(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tni"), n_buckets=16)
    with pytest.raises(ValueError, match="build"):
        idx(docs, 0)


def test_empty_terms_refused(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tterm"), n_buckets=16)
    idx.build(docs)
    with pytest.raises(ValueError, match="term"):
        idx.search(spark, [])


# -- positional / phrase search ------------------------------------------


def _first_principles_phrase(docs, terms):
    """Adjacency recomputed directly on the token arrays (no index):
    count positions i where tokens[i..i+k-1] == terms."""
    k = len(terms)
    conds = " AND ".join(
        f"element_at(tk, i + {j}) = '{t}'" for j, t in enumerate(terms)
    )
    return (
        docs.select(
            "doc_id",
            F.split(F.trim(F.col("text")), r"\s+").alias("tk"),
        )
        .select(
            "doc_id",
            F.size(
                F.expr(
                    f"filter(sequence(1, greatest(size(tk) - {k - 1}, 0)),"
                    f" i -> {conds})"
                )
            ).alias("n_occ"),
        )
        .filter(F.col("n_occ") > 0)
    )


def test_phrase_search_matches_first_principles(spark, docs, tmp_path):
    idx = InvertedTextIndex(
        str(tmp_path / "tpos"), n_buckets=16, positional=True
    )
    idx.build(docs)
    got = idx.search_phrase(spark, ["table", "scan"])
    want = _first_principles_phrase(docs, ["table", "scan"])
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0  # the fixture phrase must actually occur


def test_phrase_three_terms_and_overlapping_counts(spark, tmp_path):
    """k-term generality + occurrence-count semantics: every START
    position counts, including overlapping matches and duplicate terms
    inside the phrase."""
    rows = [
        (1, "x a b c y a b c"),  # "a b c" twice
        (2, "a a a a"),          # "a a" three times (overlapping)
        (3, "a b x c"),          # broken adjacency: no match
        (4, "c b a"),            # wrong order: no match
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = InvertedTextIndex(
        str(tmp_path / "tsyn"), n_buckets=8, positional=True
    )
    idx.build(docs)
    assert _rows(idx.search_phrase(spark, ["a", "b", "c"])) == [(1, 2)]
    assert _rows(idx.search_phrase(spark, ["a", "a"])) == [(2, 3)]


def test_bm25_identical_on_positional_index(spark, docs, tmp_path):
    """Positions are payload, not semantics: ranking over a positional
    index must equal ranking over a flat one (and the fused query)."""
    idx = InvertedTextIndex(
        str(tmp_path / "tposbm"), n_buckets=16, positional=True
    )
    idx.build(docs)
    got = idx.search(spark, TERMS, k=20)
    want = _fused_bm25(docs, TERMS, k=20)
    assert _rows(got) == _rows(want)


def test_phrase_plan_never_reads_text(spark, docs, tmp_path):
    idx = InvertedTextIndex(
        str(tmp_path / "tposplan"), n_buckets=16, positional=True
    )
    idx.build(docs)
    plan = (
        idx.search_phrase(spark, ["table", "scan"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "text" not in plan, plan[:2000]
    assert "PartitionFilters" in plan, plan[:2000]


def test_phrase_requires_positional_geometry(spark, docs, tmp_path):
    flat = InvertedTextIndex(str(tmp_path / "tflat"), n_buckets=16)
    flat.build(docs)
    with pytest.raises(ValueError, match="positional"):
        flat.search_phrase(spark, ["table", "scan"])


def test_phrase_requires_two_terms(spark, docs, tmp_path):
    idx = InvertedTextIndex(
        str(tmp_path / "tone"), n_buckets=16, positional=True
    )
    idx.build(docs)
    with pytest.raises(ValueError, match=">= 2"):
        idx.search_phrase(spark, ["table"])


def test_positional_geometry_pinned(tmp_path):
    InvertedTextIndex(str(tmp_path / "tgp"), n_buckets=16, positional=True)
    with pytest.raises(ValueError, match="geometry"):
        InvertedTextIndex(str(tmp_path / "tgp"), n_buckets=16)


def test_stream_ingest_kill_restart_no_dup_or_missing(spark, docs, tmp_path):
    """The search-service ingest story end to end: document deltas
    arrive through a REAL checkpointed foreachBatch stream; the process
    crashes AFTER the index committed batch 0 but BEFORE the checkpoint
    did (the at-least-once window), restarts from the checkpoint,
    replays batch 0 (skipped — exactly-once) and continues. Search must
    equal a cold rebuild over the full corpus: nothing duplicated
    (inflated tf/df/N), nothing missing."""
    import os
    import shutil

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

    idx = InvertedTextIndex(
        str(tmp_path / "tsidx"), n_buckets=16, positional=True
    )
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
            .option("checkpointLocation", str(tmp_path / "tckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    q2 = start()  # same checkpoint = process restart; batch 0 replays
    q2.awaitTermination()

    cold = InvertedTextIndex(
        str(tmp_path / "tscold"), n_buckets=16, positional=True
    )
    cold.build(docs)
    assert _rows(idx.search(spark, TERMS, k=20)) == _rows(
        cold.search(spark, TERMS, k=20)
    )
    assert _rows(idx.search_phrase(spark, ["table", "scan"])) == _rows(
        cold.search_phrase(spark, ["table", "scan"])
    )


# -- prefix search --------------------------------------------------------


def test_prefix_search_matches_first_principles(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tpre"), n_buckets=16)
    idx.build(docs)
    got = idx.search_prefix(spark, "s", k=20)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok").startswith("s"))
    want = (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf_sum"),
            F.countDistinct("tok").alias("n_terms"),
        )
        .orderBy(F.col("tf_sum").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 20


def test_prefix_filter_reaches_the_posting_scan(spark, docs, tmp_path):
    """The prefix predicate must push to the parquet posting scan
    (StartsWith in PushedFilters) — and text must never be read."""
    idx = InvertedTextIndex(str(tmp_path / "tprep"), n_buckets=16)
    idx.build(docs)
    plan = (
        idx.search_prefix(spark, "s", k=20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StartsWith(tok,s)" in plan.replace(" ", ""), plan[:2000]
    assert "text" not in plan, plan[:2000]


def test_prefix_respects_tombstones(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tpret"), n_buckets=16)
    idx.build(docs)
    top = idx.search_prefix(spark, "s", k=1).collect()[0]["doc_id"]
    idx.delete(docs.filter(F.col("doc_id") == top).select("doc_id"))
    survivors = [r[0] for r in _rows(idx.search_prefix(spark, "s", k=20))]
    assert top not in survivors


def test_prefix_empty_refused(spark, docs, tmp_path):
    idx = InvertedTextIndex(str(tmp_path / "tpree"), n_buckets=16)
    idx.build(docs)
    with pytest.raises(ValueError, match="non-empty"):
        idx.search_prefix(spark, "")


def test_duplicate_guard_drops_reingested_live_ids(spark, docs, tmp_path):
    """ADVICE r10: with guard_duplicates=True, re-ingesting documents
    whose ids are already live is a no-op — search results and the
    collection statistics (via scores) stay byte-identical, instead of
    silently double-counting tf/df/N/avgdl."""
    idx = InvertedTextIndex(
        str(tmp_path / "tguard"), n_buckets=16, guard_duplicates=True
    )
    idx.build(docs.filter(F.col("doc_id") < 400))
    before = _rows(idx.search(spark, TERMS, k=20))
    # batch = 100% duplicates -> guard leaves an empty delta; only the
    # replay pointer advances, no segment lands
    v0 = idx.latest_version()
    idx(docs.filter(F.col("doc_id") < 200), batch_id=1)
    assert idx.latest_version() == v0 + 1
    man_segs = idx._load_manifest(idx.latest_version())["segments"]
    assert man_segs == idx._load_manifest(v0)["segments"]
    assert _rows(idx.search(spark, TERMS, k=20)) == before

    # mixed batch: only the genuinely-new ids are indexed
    idx(docs.filter(F.col("doc_id") < 450), batch_id=2)
    want = _rows(_fused_bm25(docs.filter(F.col("doc_id") < 450), TERMS, 20))
    assert _rows(idx.search(spark, TERMS, k=20)) == want


def test_unguarded_ingest_contract_is_documented(spark, docs, tmp_path):
    """Default ingest is append-only by CONTRACT (no shuffle-per-batch
    guard): re-ingesting a live id inflates statistics, which is why
    the docstring forbids it — pin that the flag default is off so the
    cost/semantics trade stays explicit."""
    idx = InvertedTextIndex(str(tmp_path / "tng"), n_buckets=16)
    assert idx.guard_duplicates is False


def test_compact_with_everything_tombstoned_refuses_loudly(
    spark, docs, tmp_path
):
    """ADVICE r10: compacting an index whose every doc is tombstoned
    must raise the intended 'index is empty' error, not write empty
    parquet that later fails schema inference — and the pre-compact
    version must stay fully live (delete-then-compact is abortable)."""
    idx = InvertedTextIndex(str(tmp_path / "tempty2"), n_buckets=16)
    sub = docs.filter(F.col("doc_id") < 50)
    idx.build(sub)
    v_del = idx.delete(sub.select("doc_id"))
    with pytest.raises(ValueError, match="empty after compaction"):
        idx.compact(spark)
    # aborted compact committed nothing: latest is still the delete
    assert idx.latest_version() == v_del
    with pytest.raises(ValueError, match="index is empty"):
        idx.search(spark, TERMS, k=5)


def test_hybrid_index_plan_reads_neither_text_nor_raw_vectors(
    spark, docs, tmp_path
):
    """Plan contract for rrf_index_hybrid_top10 (VERDICT r10 #2): the
    fused hybrid plan's corpus-shaped inputs are the pruned posting
    buckets, the narrow doc-length table, and the PQ codes — document
    text is never scanned, and the only embeddings read is the single
    pushed-filter probe fetch (vec_id = 0), never a corpus-wide vector
    scan riding a distance shuffle."""
    from cses2humio_spark.operators.ann_index import PQIndex
    from cses2humio_spark.sources.catalog import load_table as _lt
    from pyspark.sql.window import Window as _W

    tidx = InvertedTextIndex(str(tmp_path / "thyb"), n_buckets=16)
    tidx.build(docs)
    emb = _lt(spark, SF_SMALL, "embeddings")
    pidx = PQIndex(str(tmp_path / "phyb"), m=4, k_codes=16, dim=64)
    pidx.build(emb)

    lex60 = tidx.search(spark, TERMS, k=60)
    w_lex = _W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = (
        lex60.withColumn("rl", F.row_number().over(w_lex))
        .filter(F.col("rl") <= 50)
        .select("doc_id", "rl")
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    vec = pidx.search(spark, probe, k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("rv")
    )
    fused = lex.join(vec, on="doc_id", how="full_outer")
    rrf = F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("rv")), F.lit(0.0)
    )
    out = (
        fused.withColumn("__rrf", rrf)
        .orderBy(F.col("__rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # lexical arm: no document text, no corpus tokenize (the only
    # explode in the plan is the PQ arm's 4-subvector probe-table
    # build, which is bounded by the single probe)
    assert "text" not in plan, plan[:3000]
    # posting scan prunes on the tb partition column
    assert "PartitionFilters: [tb" in plan, plan[:3000]
    # ANN arm: every embeddings scan is the probe fetch with the
    # vec_id filter pushed down — no corpus-wide raw-vector scan
    emb_scan_lines = [
        ln for ln in plan.splitlines() if "embeddings.parquet" in ln
    ]
    assert emb_scan_lines, plan[:3000]
    assert all("vec_id" in ln for ln in emb_scan_lines), emb_scan_lines
    # and the fused result is non-degenerate
    assert out.count() == 10


# --- ws1 (single-space separators) lifecycle -------------------------------


def test_ws_single_all_lifecycle(spark, tmp_path):
    """The per-doc ws1 flag behind routed-phrase free-text must track
    the LIVE document set through every index transition: build, ingest
    of a separator-breaking doc, tombstone delete, and compaction — a
    stale True would silently route phrases over a corpus the identity
    no longer covers, a stale False only costs the fallback."""
    idx = InvertedTextIndex(str(tmp_path / "ws1"), n_buckets=4)
    clean = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta beta")],
        "doc_id long, text string",
    )
    idx.build(clean)
    assert idx.ws_single_all(spark) is True

    # streaming ingest of a tab-separated doc flips the corpus flag
    tabby = spark.createDataFrame(
        [(3, "alpha\tbeta")], "doc_id long, text string"
    )
    idx(tabby, batch_id=1)
    assert idx.ws_single_all(spark) is False
    # the pre-ingest version still answers True (version-pinned reads)
    assert idx.ws_single_all(spark, version=-1) is True

    # tombstoning the offender restores the flag (read_doclens filters
    # tombstones, so the min is over LIVE docs only)
    idx.delete(spark.createDataFrame([(3,)], "doc_id long"))
    assert idx.ws_single_all(spark) is True

    # compaction rewrites postings + doclens from the live set — the
    # flag must survive the physical rewrite
    idx.compact(spark)
    assert idx.ws_single_all(spark) is True


def _strip_manifest_ws1(index_dir: str, segs: list[int] | None = None):
    """Doctor an index to look like a pre-flag writer produced it (or
    part of it): remove the committed per-segment ws1 entries from every
    retained manifest — legacy code recorded nothing there."""
    import glob as _glob
    import json as _json

    for mp in _glob.glob(index_dir + "/manifest_v=*.json"):
        with open(mp) as fh:
            man = _json.load(fh)
        if segs is None:
            man.pop("ws1", None)
        else:
            for s in segs:
                man.get("ws1", {}).pop(str(s), None)
        with open(mp, "w") as fh:
            _json.dump(man, fh)


def _strip_dl_ws1(spark, dl_dir: str, tmp: str):
    """Drop the ws1 column from a doclen artifact in place — the on-disk
    shape a pre-flag writer produced."""
    legacy = spark.read.parquet(dl_dir).select("doc_id", "dl")
    legacy.write.mode("overwrite").parquet(tmp)
    import glob as _glob
    import os as _os

    for f in _glob.glob(dl_dir + "/*"):
        if _os.path.isfile(f):
            _os.remove(f)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(dl_dir)


def test_ws_single_all_empty_and_legacy_safe(spark, tmp_path, docs):
    """ws_single_all must answer False — never raise, never True — when
    the evidence is missing: a doclen table without the ws1 column AND
    no manifest entries (the full pre-r12 index layout) routes phrases
    to the scan path instead of wrongly through the identity."""
    idx = InvertedTextIndex(str(tmp_path / "legacy"), n_buckets=4)
    idx.build(docs.limit(5))
    _strip_manifest_ws1(str(tmp_path / "legacy"))
    _strip_dl_ws1(
        spark, str(tmp_path / "legacy" / "dl=-1"), str(tmp_path / "dl_tmp")
    )
    assert idx.ws_single_all(spark) is False


def test_ws_single_all_mixed_generation_null_is_false(spark, tmp_path):
    """ADVICE r12 (medium): a mixed-generation index — a segment written
    by pre-flag code, appended to by new code — reads NULL ws1 for the
    legacy docs. SQL aggregates skip NULLs, so an uncoalesced
    min([True, NULL]) would answer True and route phrases over docs
    whose separator shapes were never recorded. Unknown must mean
    False."""
    d = str(tmp_path / "mixed")
    idx = InvertedTextIndex(d, n_buckets=4)
    idx.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")],
            "doc_id long, text string",
        )
    )
    idx(
        spark.createDataFrame([(3, "epsilon zeta")], "doc_id long, text string"),
        batch_id=1,
    )
    # segment -1 becomes legacy: no parquet column, no manifest entry;
    # segment 0 (new code) keeps its all-True evidence
    _strip_manifest_ws1(d, segs=[-1])
    _strip_dl_ws1(spark, d + "/dl=-1", str(tmp_path / "mixed_tmp"))
    assert idx.ws_single_all(spark) is False


def test_ws_single_all_answers_from_manifest_without_scanning(
    spark, tmp_path
):
    """ADVICE r12: the corpus-wide AND is committed in the manifest at
    write time, so the common cases are METADATA reads — proven by
    physically removing the doclen artifacts: a scan would die, the
    manifest answers. (The one inexact manifest case — a recorded False
    with live tombstones — still scans; the lifecycle test covers it.)"""
    import shutil as _shutil

    d = str(tmp_path / "manifast")
    idx = InvertedTextIndex(d, n_buckets=4)
    idx.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")],
            "doc_id long, text string",
        )
    )
    _shutil.rmtree(d + "/dl=-1")
    assert idx.ws_single_all(spark) is True  # all-recorded-True: exact

    d2 = str(tmp_path / "manifast_false")
    idx2 = InvertedTextIndex(d2, n_buckets=4)
    idx2.build(
        spark.createDataFrame(
            [(1, "alpha\tbeta"), (2, "gamma delta")],
            "doc_id long, text string",
        )
    )
    _shutil.rmtree(d2 + "/dl=-1")
    # recorded False + zero tombstones: the superset IS the live set
    assert idx2.ws_single_all(spark) is False


# --- collection statistics and pinned schemas from the manifest ------------


def _strip_manifest_keys(index_dir: str, seg: int | None = None):
    """Doctor an index to look like a writer that recorded neither the
    per-segment collection statistics nor the artifact schemas — for
    every segment, or only for segment ``seg``."""
    import glob as _glob
    import json as _json

    for mp in _glob.glob(index_dir + "/manifest_v=*.json"):
        with open(mp) as fh:
            man = _json.load(fh)
        if seg is None:
            man.pop("stats", None)
            man.pop("schemas", None)
        else:
            man["stats"].pop(str(seg), None)
            for name in (f"seg={seg}", f"dl={seg}"):
                man["schemas"].pop(name, None)
        with open(mp, "w") as fh:
            _json.dump(man, fh)


def _three_segment_index(docs, index_dir):
    idx = InvertedTextIndex(index_dir, n_buckets=8, positional=True)
    idx.build(docs.filter(F.col("doc_id") < 300))
    idx(docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), 0)
    idx(docs.filter(F.col("doc_id") >= 400), 1)
    return idx


def _jobs_while(spark, group, fn):
    """(fn(), number of Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_builds_without_jobs_on_tombstone_free_index(
    spark, docs, tmp_path
):
    """On a multi-segment index with no tombstones, building a BM25 or a
    phrase search runs no Spark job: bucket pruning is a folded
    predicate, N and avgdl come from the manifest and every segment read
    is schema-pinned. The one action is the caller's."""
    idx = _three_segment_index(docs, str(tmp_path / "nojobs"))
    bm25, n_bm25 = _jobs_while(
        spark, "ti-build-bm25", lambda: idx.search(spark, TERMS, k=20)
    )
    phrase, n_phrase = _jobs_while(
        spark,
        "ti-build-phrase",
        lambda: idx.search_phrase(spark, ["spark", "join"]),
    )
    assert (n_bm25, n_phrase) == (0, 0)
    assert _rows(bm25) == _rows(_fused_bm25(docs, TERMS, k=20))
    assert _rows(phrase) == _rows(
        _first_principles_phrase(docs, ["spark", "join"])
    )


def test_manifest_stats_equal_exact_aggregate(spark, docs, tmp_path):
    """The per-segment (n, sum_dl) the writes record sum to the exact
    aggregate over the live doc-length table after a build, each ingest
    and a compact (which folds a delete away)."""
    idx = InvertedTextIndex(str(tmp_path / "stats"), n_buckets=8)

    def check():
        man = idx._load_manifest(idx.latest_version())
        assert not man["tombstones"]
        stats = man["stats"]
        assert sorted(stats) == sorted(str(s) for s in man["segments"])
        n, sum_dl = idx.read_doclens(spark).agg(
            F.count(F.lit(1)), F.sum("dl")
        ).collect()[0]
        assert sum(s["n"] for s in stats.values()) == n
        assert sum(s["sum_dl"] for s in stats.values()) == sum_dl
        assert idx._collection_stats(spark, idx.latest_version()) == (
            n,
            sum_dl,
        )

    idx.build(docs.filter(F.col("doc_id") < 300))
    check()
    idx(docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), 0)
    check()
    idx(docs.filter(F.col("doc_id") >= 400), 1)
    check()
    idx.delete(docs.filter(F.col("doc_id") < 50).select("doc_id"))
    idx.compact(spark)
    check()
    assert idx._collection_stats(spark, idx.latest_version())[0] == (
        docs.filter(F.col("doc_id") >= 50).count()
    )


def test_search_after_delete_takes_exact_stats_path(
    spark, docs, tmp_path, monkeypatch
):
    """Tombstoned docs are still counted in the per-segment sums, so a
    search under tombstones must aggregate the live doc lengths — and
    its scores then equal the fused BM25 over the surviving docs."""
    idx = _three_segment_index(docs, str(tmp_path / "exact"))
    victims = [r["doc_id"] for r in _fused_bm25(docs, TERMS, k=5).collect()]
    victims.append(350)  # one from an ingested segment too
    idx.delete(docs.filter(F.col("doc_id").isin(victims)).select("doc_id"))

    calls = []
    real = InvertedTextIndex.read_doclens

    def spy(self, *args, **kwargs):
        calls.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(InvertedTextIndex, "read_doclens", spy)
    got = idx.search(spark, TERMS, k=20)
    assert calls, "search under tombstones must read the live doc lengths"
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    assert _rows(got) == _rows(_fused_bm25(survivors, TERMS, k=20))


def test_manifest_without_stats_or_schemas_gives_identical_results(
    spark, docs, tmp_path
):
    """An index whose manifests carry no ``stats`` or ``schemas`` keys
    (written before they existed) answers every search identically via
    the exact aggregate and schema inference."""
    idx = _three_segment_index(docs, str(tmp_path / "legacy_keys"))

    def answers():
        return (
            _rows(idx.search(spark, TERMS, k=20)),
            _rows(idx.search_phrase(spark, ["spark", "join"])),
            _rows(idx.search_prefix(spark, "spa", k=10)),
            idx.read_postings(spark).dtypes,
        )

    recorded = answers()
    # one segment without entries: the others' entries are not enough
    _strip_manifest_keys(str(tmp_path / "legacy_keys"), seg=0)
    assert answers() == recorded
    _strip_manifest_keys(str(tmp_path / "legacy_keys"))
    man = idx._load_manifest(idx.latest_version())
    assert "stats" not in man and "schemas" not in man
    assert answers() == recorded
