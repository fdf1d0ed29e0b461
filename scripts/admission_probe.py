"""Measure the ADMISSION-LOOP scale claims (round 9), mirroring
scripts/index_ingest_probe.py:

A fixed 500-document micro-batch is decided (admit_batch) against a
small index and a 10x index. The claim under test: per-batch decision
cost is a function of the BATCH and its CANDIDATES — the corpus appears
only as (a) the signature-table side of one equi-join and (b) a
text/vector fetch for candidate PARTNER ids — so a 10x corpus must not
cost anywhere near 10x per batch.

Usage: python scripts/admission_probe.py   (prints ADMIT| lines)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.dedup_index import MinHashIndex
    from cses2humio_spark.session import get_spark
    from cses2humio_spark.sources.catalog import load_table

    spark = get_spark("admission-probe")
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    n = docs.count()
    batch = docs.filter(F.col("doc_id") >= n - 500)
    big_dir = "/tmp/sfx10"
    if not os.path.exists(f"{big_dir}/documents.parquet"):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import density_probe as DP

        DP.grow(spark, 10, big_dir)
    # the x10 corpus contains shifted copies of every original id — the
    # probe batch's ids must be EXCLUDED or every batch doc probes as
    # already_indexed and the decision short-circuits
    # exclusions (ADVICE r9 #4 — labeled exactly now): the batch ids
    # [n-500, n) and the tail copies [10n-500, 10n) whose ids collide
    # with nothing but would shift the big corpus's candidate density
    big = spark.read.parquet(f"{big_dir}/documents.parquet").filter(
        (F.col("doc_id") < n - 500)
        | ((F.col("doc_id") >= n) & (F.col("doc_id") < 10 * n - 500))
    )
    scratch = tempfile.mkdtemp(prefix="admit_probe_")
    corpora = (
        ("small", docs.filter(F.col("doc_id") < n - 500)),
        ("big", big),
    )

    def timed(idx, corpus, label, **kw):
        best, rows = None, None
        for _ in range(2):  # min-of-two (suite standard)
            t0 = time.perf_counter()
            dec = idx.admit_batch(batch, corpus, **kw)
            counts = {
                r["reason"]: r["n"]
                for r in dec.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
            rows = counts
            spark.catalog.clearCache()
        print(f"ADMIT| {label} min-wall={best:.2f}s decisions={rows}",
              flush=True)

    indexes: dict[str, MinHashIndex] = {}
    for name, corpus in corpora:
        tag = f"{name}({corpus.count()})"  # measured, not claimed
        d = os.path.join(scratch, name)
        idx = MinHashIndex(d)
        idx.build(corpus)
        indexes[name] = idx
        timed(idx, corpus, f"index={tag}: admit_batch(500 docs)")

    # --- round 11 (VERDICT r10 #6): the COMPOSED decision ------------
    # decontaminating admission = admit_batch + the eval 8-gram gate.
    # Two curves: (a) eval suite FIXED, corpus 10x — the eval broadcast
    # is bounded by the eval side, so the composed decision must stay
    # flat in corpus size like the plain decision; (b) corpus FIXED,
    # eval suite ~10x — the new term's own scaling, expected to grow
    # with eval fingerprint count (distinct-8gram build + broadcast)
    # but never with the corpus.
    eval_small = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < n - 500)
    )
    eval_big = big.filter(F.col("doc_id") % 7 == 0)
    gate = dict(contamination_threshold=0.5, eval_n=8)
    for name, corpus in corpora:
        timed(
            indexes[name], corpus,
            f"composed: corpus={name}({corpus.count()}) "
            f"eval=small({eval_small.count()})",
            eval_docs=eval_small, **gate,
        )
    small_corpus = corpora[0][1]
    timed(
        indexes["small"], small_corpus,
        f"composed: corpus=small eval=big({eval_big.count()})",
        eval_docs=eval_big, **gate,
    )
    # eval=big covers the batch texts (the x10 growth copies every
    # original), so the run above demonstrates the contaminated
    # SHORT-CIRCUIT (everything gated before signing). For the clean
    # eval-size curve, exclude copies of the batch ids so the decision
    # mix matches the eval=small run: shift = max(doc_id)+1 in grow().
    shift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    eval_big_clean = big.filter(
        (F.col("doc_id") % 7 == 0)
        & (F.pmod(F.col("doc_id"), F.lit(shift)) < n - 500)
    )
    timed(
        indexes["small"], small_corpus,
        f"composed: corpus=small eval=big_clean({eval_big_clean.count()})",
        eval_docs=eval_big_clean, **gate,
    )


if __name__ == "__main__":
    main()
