"""``admit``: LLM-data admission against standing indexes.

Set-up signs a seeded corpus into a ``MinHashIndex`` and tokenizes it
into an ``InvertedTextIndex``. Then seeded crawl batches arrive one at a
time; each goes through ``MinHashIndex.admit_and_ingest(...,
eval_docs=...)`` and its admitted rows through
``InvertedTextIndex.__call__``. An op is one such decision.

The same decisions, on a smaller corpus, also run as a probe at the end
of the traced ``search`` run (``Search.final_checks``), so the
``dedup_index`` layer is measured by a workload ``BENCHMARK.json`` lists.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Ctx, Phase, timed
from perfbench.search import Bm25Oracle, hql_module, index_store_metrics

REASONS = ["admitted", "already_indexed", "corpus_dup", "batch_dup", "contaminated"]


class Admit:
    unit = "docs/s"
    aliases = {"op_s_p50": "decision_s_p50", "items_per_s": "docs_per_s"}

    def __init__(self, ctx: Ctx, inputs: dict | None = None):
        self.ctx = ctx
        self.inputs = inputs if inputs is not None else ctx.inputs
        self.next_batch = 0
        self.reasons: Counter = Counter()
        self.last = None  # (batch frame, batch id) of the last decision

    def setup(self, warm: Phase) -> dict:
        from cses2humio_spark.operators.dedup_index import MinHashIndex
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        ctx, inp = self.ctx, self.inputs
        spark = ctx.spark
        t0 = time.perf_counter()
        self.crawl = gen.crawl(
            ctx.seed, inp["corpus_docs"], inp["eval_docs"], inp["max_batches"], inp["batch_size"]
        )
        cr = self.crawl
        self.text = dict(zip(cr.corpus_ids, cr.corpus_texts))
        self.docs_dir = ctx.path("admit", "docs", "")
        pq.write_table(gen.docs_table(cr.corpus_ids, cr.corpus_texts), self.docs_dir + "corpus.parquet")
        eval_path = ctx.path("admit", "eval.parquet")
        pq.write_table(gen.docs_table(cr.eval_ids, cr.eval_texts), eval_path)
        self.batch_paths = []
        for i, b in enumerate(cr.batches):
            p = ctx.path("admit", "batches", f"b{i:04d}.parquet")
            pq.write_table(gen.docs_table(b.ids, b.texts), p)
            self.batch_paths.append(p)
        gen_s = time.perf_counter() - t0

        corpus = spark.read.parquet(self.docs_dir + "corpus.parquet")
        self.eval_df = spark.read.parquet(eval_path)
        self.mh = MinHashIndex(ctx.path("admit", "minhash", ""))
        self.ti = InvertedTextIndex(ctx.path("admit", "tindex", ""))
        _, mh_s = timed(self.mh.build, corpus)
        _, ti_s = timed(self.ti.build, corpus)
        self.build = {"minhash_s": mh_s, "text_s": ti_s}

        t0 = time.perf_counter()
        self.decide(warm)
        return {"generate_s": gen_s, "build_s": mh_s + ti_s, "warmup_s": time.perf_counter() - t0}

    def decide(self, phase: Phase) -> None:
        from pyspark.sql import functions as F

        ctx, inp = self.ctx, self.inputs
        spark = ctx.spark
        if self.next_batch >= len(self.batch_paths):
            raise RuntimeError("admit ran out of pre-generated batches; raise max_batches")
        ctx.probe_host()
        bid = self.next_batch
        self.next_batch += 1
        batch = self.crawl.batches[bid]
        batch_df = spark.read.parquet(self.batch_paths[bid])
        # the document store the admission verifies against: the corpus
        # plus every document admitted so far
        corpus_df = spark.read.parquet(self.docs_dir)
        phase.attempted += 1
        group = f"perfbench-decision-{bid}"
        n_cand = None
        if ctx.jobs is not None:
            n_cand = self.mh.query_candidates(batch_df).count()
            ctx.jobs.start(group)
            ctx.tracer.op = group
        try:
            t0 = time.perf_counter()
            dec = self.mh.admit_and_ingest(
                batch_df, bid, corpus_df, threshold=inp["threshold"], eval_docs=self.eval_df
            )
            rows = dec.collect()
            admitted = batch_df.join(
                dec.filter(F.col("reason") == "admitted").select("doc_id"), "doc_id", "left_semi"
            )
            self.ti(admitted, bid)
            dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed decision is a failed op
            phase.fail(f"batch {bid} raised {exc!r}")
            return
        finally:
            if ctx.tracer is not None:
                ctx.tracer.op = None
        phase.op_s.append(dt)
        phase.units.append((len(batch.ids), dt))
        self.last = (batch_df, bid)
        reasons = Counter(r["reason"] for r in rows)
        self.reasons.update(reasons)
        if ctx.jobs is not None:
            phase.ops.append(
                {
                    **ctx.jobs.finish(group),
                    "n": 1,
                    "op_s": dt,
                    "docs": len(batch.ids),
                    "result_rows": len(rows),
                    "candidates": n_cand,
                    "corpus_dup": reasons["corpus_dup"],
                }
            )
        err = self.check(batch, rows)
        # store the admitted documents: later batches verify against them
        kept = [(r["doc_id"], self.text_of(batch, r["doc_id"])) for r in rows if r["reason"] == "admitted"]
        if kept:
            ids, texts = zip(*kept)
            pq.write_table(gen.docs_table(list(ids), list(texts)), self.docs_dir + f"b{bid:04d}.parquet")
            self.text.update(kept)
            self.last_admitted = kept[-1][0]
        if err:
            phase.fail(f"batch {bid}: {err}")

    @staticmethod
    def text_of(batch: gen.Batch, doc_id: int) -> str:
        return batch.texts[batch.ids.index(doc_id)]

    def check(self, batch: gen.Batch, rows) -> str | None:
        ids = sorted(r["doc_id"] for r in rows)
        if ids != sorted(batch.ids):
            return f"{len(ids)} decisions for {len(batch.ids)} rows"
        threshold, n = self.inputs["threshold"], self.mh.n
        for r in rows:
            d, reason, partner = r["doc_id"], r["reason"], r["partner"]
            label = batch.labels[d]
            if label == "recrawl" and reason != "already_indexed":
                return f"re-crawl {d} decided {reason}"
            if label == "contaminated" and reason != "contaminated":
                return f"contaminated {d} decided {reason}"
            if reason in ("corpus_dup", "batch_dup"):
                other = self.text.get(partner) if reason == "corpus_dup" else self.text_of(batch, partner)
                if other is None:
                    return f"{d} has unknown partner {partner}"
                j = gen.jaccard(self.text_of(batch, d), other, n)
                if j < threshold:
                    return f"{reason} pair ({d}, {partner}) has Jaccard {j:.3f} < {threshold}"
        return None

    def measure(self, phase: Phase) -> None:
        deadline = time.perf_counter() + self.ctx.seconds
        while time.perf_counter() < deadline:
            self.decide(phase)

    def install_tracing(self, read_side: bool = True) -> None:
        from cses2humio_spark.operators.dedup_index import MinHashIndex
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        t = self.ctx.tracer
        t.wrap(MinHashIndex, "admit_and_ingest", "dedup_index.admit_and_ingest")
        t.wrap(MinHashIndex, "__call__", "dedup_index.ingest")
        t.wrap(InvertedTextIndex, "__call__", "text_index.ingest")
        if read_side:
            t.wrap(hql_module(), "parse", "hql.parse")
            t.wrap(hql_module(), "hql", "hql.compile")

    def final_checks(self, phase: Phase) -> None:
        if self.ctx.tracer is not None:  # the read side's layer probe
            self.read_back(phase)
        self.replay(phase)

    def read_back(self, phase: Phase) -> None:
        """The write side seen through the read side: an index-routed HQL
        search and a BM25 search over the document store find exactly
        what Python finds in the corpus plus every admitted document."""
        from perfbench.trace import planner_phases

        spark, k = self.ctx.spark, 20
        toks = self.text[self.last_admitted].split()
        word = toks[len(toks) // 2]
        ids, texts = list(self.text), list(self.text.values())
        phase.attempted += 1
        df = hql_module().hql(spark.read.parquet(self.docs_dir), f"{word} | count()", text_index=self.ti)
        got = df.collect()[0]["_count"]
        want = sum(word in t.lower() for t in texts)
        self.readback_phases = planner_phases(df)
        if got != want:
            phase.fail(f"index-routed search for {word!r} counted {got}, expected {want}")
        phase.attempted += 1
        rows, self.bm25_s = timed(lambda: self.ti.search(spark, [word], k=k).collect())
        err = Bm25Oracle(texts, ids).check([word], [tuple(r) for r in rows], k)
        if err:
            phase.fail(f"BM25 search for {word!r}: {err}")

    def replay(self, phase: Phase) -> None:
        """Replaying the last batch id returns None and commits nothing."""
        batch_df, bid = self.last
        phase.attempted += 1
        before = (self.mh.latest_version(), self.ti.latest_version())
        out = self.mh.admit_and_ingest(
            batch_df,
            bid,
            self.ctx.spark.read.parquet(self.docs_dir),
            threshold=self.inputs["threshold"],
            eval_docs=self.eval_df,
        )
        self.ti(batch_df, bid)
        after = (self.mh.latest_version(), self.ti.latest_version())
        if out is not None or after != before:
            phase.fail(f"replay of batch {bid} returned {out!r}, versions {before} -> {after}")

    def decision_metrics(self, ops: list[dict]) -> dict[str, float]:
        """The admission layers, from the traced decisions ``ops``."""
        t = self.ctx.tracer
        cand = sum(op["candidates"] for op in ops)
        out = {
            "dedup_index.decision_ms": 1e3
            * statistics.median(t.durations("dedup_index.admit_and_ingest", ops)),
            "dedup_index.build_s": self.build["minhash_s"],
            "dedup_index.verified_per_candidate": sum(op["corpus_dup"] for op in ops) / max(cand, 1),
            "admit.decision_s_p50": statistics.median(op["op_s"] for op in ops),
            "admit.docs_per_s": sum(op["docs"] for op in ops) / sum(op["op_s"] for op in ops),
            "admit.text_index.ingest_ms": 1e3
            * statistics.median(t.durations("text_index.ingest", ops)),
        }
        total = sum(self.reasons.values())
        for r in REASONS:
            out[f"dedup_index.{r}_share"] = self.reasons[r] / total
        out.update(index_store_metrics(self.ctx.spark, self.mh, "minhash"))
        return out

    def traced_op_sets(self, ops: list[dict]) -> dict[str, list[dict]]:
        return {"admit.": ops}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        t = self.ctx.tracer
        out = self.decision_metrics(ops)
        out["text_index.ingest_ms"] = out["admit.text_index.ingest_ms"]
        out["text_index.build_s"] = self.build["text_s"]
        out.update(index_store_metrics(self.ctx.spark, self.ti, "text"))
        # the read side, from the final read-back searches
        out.update({f"spark_planner.{k}_ms": v for k, v in self.readback_phases.items()})
        out["hql.parse_ms"] = 1e3 * statistics.median(t.durations("hql.parse"))
        out["hql.compile_ms"] = 1e3 * statistics.median(t.durations("hql.compile"))
        out["text_index.search_ms"] = 1e3 * self.bm25_s
        return out
