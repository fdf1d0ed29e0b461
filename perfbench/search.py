"""``search``: one analyst in a closed loop (the next query is sent only
after the previous one has returned).

Queries are drawn from seeded HQL templates with per-query literals, plus
BM25 top-k searches on the standing text index. The text index over the
events' ``message`` column is built in set-up as several incremental
segments, the shape ``admit`` writes. An op is one query, timed from the
call to the end of ``collect()``.
"""

from __future__ import annotations

import importlib
import math
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Ctx, Phase, timed


def hql_module():
    """``cses2humio_spark.hql`` the module (the package re-exports its
    ``hql`` function under the same name)."""
    return importlib.import_module("cses2humio_spark.hql")


def _et(rng) -> str:
    return gen.SEARCH_EVENT_TYPES[int(rng.integers(0, len(gen.SEARCH_EVENT_TYPES)))]


def _span(rng) -> tuple[str, int]:
    return [("15m", 900), ("1h", 3600), ("6h", 21600)][int(rng.integers(0, 3))]


def deal(rng: np.random.Generator, mix: dict[str, int]) -> list[str]:
    """One deck of query kinds: every kind as many times as the mix says,
    in a seeded order. The benchmark sends whole decks, so every run
    sends the mix in the same proportions: the few slow kinds' share of
    the query wall does not drift with where a run happens to stop."""
    cards = [k for k, n in mix.items() for _ in range(n)]
    return [cards[i] for i in rng.permutation(len(cards))]


def draw_query(rng: np.random.Generator, vocab: np.ndarray, kind: str) -> tuple:
    """One query of ``kind``: ``(kind, hql or terms, oracle SQL or None)``.
    Free-text kinds are checked against the scan path instead of SQL."""
    # free-text terms: mid-frequency message words
    words = [str(w) for w in vocab[rng.integers(20, 400, 3)]]
    if kind == "group":
        et = _et(rng)
        return kind, f"#event_type = {et} | groupBy(user_id)", (
            f"SELECT user_id, count(*) AS _count FROM ev WHERE event_type = '{et}' GROUP BY user_id"
        )
    if kind == "timechart":
        et, (span, s) = _et(rng), _span(rng)
        return kind, f"#event_type = {et} | timechart(span={span})", (
            f"SELECT (FLOOR(FLOOR(epoch(ts)) / {s}) * {s})::BIGINT AS bucket_start, "
            f"count(*) AS _count FROM ev WHERE event_type = '{et}' GROUP BY 1"
        )
    if kind == "kv":
        region = gen.SEARCH_REGIONS[int(rng.integers(0, len(gen.SEARCH_REGIONS)))]
        return kind, f"kvParse(props, keys=[code, region]) | region = {region} | groupBy(code)", (
            "SELECT regexp_extract(props, 'code=([^ ]*)', 1) AS code, count(*) AS _count "
            f"FROM ev WHERE regexp_extract(props, 'region=([^ ]*)', 1) = '{region}' GROUP BY 1"
        )
    if kind == "regex":
        et = _et(rng)
        return kind, (
            f'#event_type = {et} | regex("method=(?<method>[A-Z]+)", field=props) | groupBy(method)'
        ), (
            "SELECT regexp_extract(props, 'method=([A-Z]+)', 1) AS method, count(*) AS _count "
            f"FROM ev WHERE event_type = '{et}' AND regexp_matches(props, 'method=([A-Z]+)') "
            "GROUP BY 1"
        )
    if kind == "join":
        et1, et2 = _et(rng), _et(rng)
        return kind, (
            f"#event_type = {et1} | join({{#event_type = {et2} | groupBy(user_id)}}, "
            "field=user_id, mode=semi) | count()"
        ), (
            f"SELECT count(*) AS _count FROM ev WHERE event_type = '{et1}' AND user_id IN "
            f"(SELECT user_id FROM ev WHERE event_type = '{et2}')"
        )
    if kind == "top":
        et = _et(rng)
        return kind, f"#event_type = {et} | top(user_id, limit=10)", (
            f"SELECT user_id, count(*) AS _count FROM ev WHERE event_type = '{et}' "
            "GROUP BY user_id ORDER BY _count DESC, user_id ASC LIMIT 10"
        )
    if kind == "text":
        shape = int(rng.integers(0, 3))
        q = [
            f"{words[0]} | groupBy(event_type)",
            f"{words[0]} {words[1]} | count()",
            f"{words[0]} or {words[1]} | groupBy(event_type)",
        ][shape]
        return kind, q, None
    if kind == "bm25":
        return kind, tuple(words[: int(rng.integers(1, 4))]), None
    raise ValueError(f"unknown query kind {kind!r}")


def normalize(rows) -> list[tuple]:
    """Order-free, type-normalized form of a result for comparison."""
    out = []
    for r in rows:
        out.append(tuple(round(v, 6) if isinstance(v, float) else v for v in r))
    return sorted(out, key=repr)


class Bm25Oracle:
    """Okapi BM25 over the generated messages, in Python (k1=1.2, b=0.75,
    Lucene's +1 idf), for checking ``InvertedTextIndex.search``."""

    def __init__(self, texts: list[str], ids: list[int] | None = None):
        self.ids = ids if ids is not None else range(len(texts))
        self.toks = [m.split() for m in texts]
        self.n = len(self.toks)
        self.dl = {i: len(t) for i, t in zip(self.ids, self.toks)}
        self.avgdl = sum(self.dl.values()) / self.n
        self._postings: dict[str, dict[int, int]] = {}

    def postings(self, term: str) -> dict[int, int]:
        if term not in self._postings:
            self._postings[term] = {
                i: c for i, t in zip(self.ids, self.toks) if (c := t.count(term))
            }
        return self._postings[term]

    def scores(self, terms) -> dict[int, float]:
        out: dict[int, float] = {}
        for t in set(terms):
            post = self.postings(t)
            idf = math.log((self.n - len(post) + 0.5) / (len(post) + 0.5) + 1.0)
            for d, tf in post.items():
                dl = self.dl[d]
                out[d] = out.get(d, 0.0) + idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / self.avgdl))
        return out

    def check(self, terms, rows, k: int) -> str | None:
        """None when ``rows`` (doc_id, bm25) is a correct top-k."""
        sc = self.scores(terms)
        want = min(k, len(sc))
        if len(rows) != want:
            return f"{len(rows)} rows, expected {want}"
        for d, s in rows:
            if d not in sc or abs(sc[d] - s) > 1e-5:
                return f"doc {d} scored {s}, expected {sc.get(d)}"
        floor = min(s for _, s in rows)
        got = {d for d, _ in rows}
        missed = [d for d, s in sc.items() if s > floor + 1e-5 and d not in got]
        return f"top-{k} misses {missed[:3]}" if missed else None


class Search:
    unit = "queries/s"
    aliases = {"op_s_p50": "query_s_p50", "items_per_s": "queries_per_s"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.expected: dict = {}

    def setup(self, warm: Phase) -> dict:
        import duckdb

        from cses2humio_spark.operators.text_index import InvertedTextIndex

        ctx, inp = self.ctx, self.ctx.inputs
        spark = ctx.spark
        t0 = time.perf_counter()
        ev = gen.search_events(ctx.seed, inp["rows"], inp["users"], inp["vocab"])
        self.vocab = ev.vocab
        data = ctx.path("search", "events", "")
        n = ev.table.num_rows
        for i in range(ctx.cpus):  # one scan split per task slot
            lo, hi = n * i // ctx.cpus, n * (i + 1) // ctx.cpus
            pq.write_table(ev.table.slice(lo, hi - lo), os.path.join(data, f"part-{i}.parquet"))
        self.bm25 = Bm25Oracle(ev.table.column("message").to_pylist())
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 1")
        self.db.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{data}*.parquet')")
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.ev = spark.read.parquet(data)
        self.index = InvertedTextIndex(
            ctx.path("search", "tindex", ""), n_buckets=inp["text_index_buckets"], text_col="message"
        )
        bounds = np.linspace(0, n, inp["segments"] + 1).astype(int)
        parts = [
            self.ev.filter(f"doc_id >= {bounds[s]} AND doc_id < {bounds[s + 1]}")
            for s in range(inp["segments"])
        ]
        self.build_s = timed(self.index.build, parts[0])[1]
        self.ingest_s = [timed(self.index, part, b)[1] for b, part in enumerate(parts[1:])]
        build_s = time.perf_counter() - t0

        self.rng = np.random.default_rng([ctx.seed, 4])
        t0 = time.perf_counter()
        for _ in range(inp["warmup_rounds"]):  # every kind, in a fixed order
            ctx.probe_host()
            for kind in inp["mix"]:
                self.run_query(draw_query(self.rng, self.vocab, kind), warm)
        return {"generate_s": gen_s, "build_s": build_s, "warmup_s": time.perf_counter() - t0}

    def run_query(self, q: tuple, phase: Phase) -> float | None:
        """Runs, times and checks one query; returns its latency, or None
        when it raised."""
        ctx = self.ctx
        kind, text, sql = q
        phase.attempted += 1
        group = f"perfbench-query-{phase.attempted}"
        if ctx.jobs is not None:
            ctx.jobs.start(group)
            ctx.tracer.op = group
        try:
            if kind == "bm25":
                t0 = time.perf_counter()
                df = self.index.search(ctx.spark, list(text), k=ctx.inputs["bm25_k"])
                rows = df.collect()
            else:
                t0 = time.perf_counter()
                df = hql_module().hql(self.ev, text, text_index=self.index if kind == "text" else None)
                rows = df.collect()
            dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
            phase.fail(f"{kind} query {text!r} raised {exc!r}")
            return None
        finally:
            if ctx.tracer is not None:
                ctx.tracer.op = None  # the check's own queries are not the op's
        phase.op_s.append(dt)
        phase.kinds.append(kind)
        if ctx.jobs is not None:
            from perfbench.trace import planner_phases

            phase.ops.append(
                {
                    **ctx.jobs.finish(group),
                    "n": 1,
                    "kind": kind,
                    "op_s": dt,
                    "result_rows": len(rows),
                    "phases": planner_phases(df),
                }
            )
        err = self.check(kind, text, sql, rows)
        if err:
            phase.fail(f"{kind} query {text!r}: {err}")
        return dt

    def check(self, kind: str, text, sql: str | None, rows) -> str | None:
        if kind == "bm25":
            return self.bm25.check(text, [tuple(r) for r in rows], self.ctx.inputs["bm25_k"])
        got = normalize(rows)
        key = (kind, text)
        if key not in self.expected:
            if sql is not None:
                self.expected[key] = normalize(self.db.execute(sql).fetchall())
            else:  # index-routed free text must equal the scan path
                self.expected[key] = normalize(hql_module().hql(self.ev, text).collect())
        want = self.expected[key]
        if got != want:
            return f"{len(got)} rows differ from the reference's {len(want)} (first: {got[:1]} vs {want[:1]})"
        return None

    def measure(self, phase: Phase) -> None:
        """Whole decks, until ``--seconds`` have passed. A deck is a unit
        of work: its queries per second of query wall (the checks are
        off the clock)."""
        deadline = time.perf_counter() + self.ctx.seconds
        while time.perf_counter() < deadline:
            self.ctx.probe_host()
            done = [
                self.run_query(draw_query(self.rng, self.vocab, kind), phase)
                for kind in deal(self.rng, self.ctx.inputs["mix"])
            ]
            done = [dt for dt in done if dt is not None]
            if done:
                phase.units.append((len(done), sum(done)))
        print(
            "query_s_p50 by kind: "
            + ", ".join(f"{k} {v:.3f}" for k, v in sorted(phase.kind_medians().items())),
            flush=True,
        )

    def install_tracing(self) -> None:
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        t = self.ctx.tracer
        t.wrap(hql_module(), "parse", "hql.parse")
        t.wrap(hql_module(), "hql", "hql.compile")
        t.wrap(InvertedTextIndex, "search", "text_index.search")

    def final_checks(self, phase: Phase) -> None:
        if self.ctx.tracer is not None:
            self.probe_admission(phase)

    def probe_admission(self, phase: Phase) -> None:
        """The traced run's admission probe: ``admit`` on a smaller seeded
        crawl (standing MinHash and text indexes, one warm-up decision,
        ``decisions`` traced ones, the replay check), so the traced run
        of a listed workload measures the ``dedup_index`` and
        ``index_store`` write layers. Its decisions are not search ops:
        they report under ``dedup_index.*``, ``index_store.minhash_*``
        and ``admit.*``; their checks count toward ``failed``."""
        from perfbench.admit import Admit

        inp = self.ctx.inputs["admit_probe"]
        self.admit = Admit(self.ctx, inp)
        self.admit.install_tracing(read_side=False)
        warm, self.admit_phase = Phase(), Phase()
        t0 = time.perf_counter()
        self.admit.setup(warm)
        for _ in range(inp["decisions"]):
            self.admit.decide(self.admit_phase)
        self.admit.replay(phase)
        print(f"admission probe: {time.perf_counter() - t0:.1f} s", flush=True)
        for p in (warm, self.admit_phase):
            phase.attempted += p.attempted
            phase.failed += p.failed

    def traced_op_sets(self, ops: list[dict]) -> dict[str, list[dict]]:
        return {"admit.": self.admit_phase.ops}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        t = self.ctx.tracer
        bm25 = [op["op_s"] for op in ops if op["kind"] == "bm25"]
        out = {
            "hql.parse_ms": 1e3 * statistics.median(t.durations("hql.parse", ops)),
            "hql.compile_ms": 1e3 * statistics.median(t.durations("hql.compile", ops)),
            "text_index.search_ms": 1e3 * statistics.median(bm25),
            "text_index.build_s": self.build_s,
            "text_index.ingest_ms": 1e3 * statistics.median(self.ingest_s),
        }
        out.update(index_store_metrics(self.ctx.spark, self.index, "text"))
        out.update(self.admit.decision_metrics(self.admit_phase.ops))
        return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def index_store_metrics(spark, index, kind: str) -> dict[str, float]:
    """Segments of the latest version, and index bytes per live doc."""
    man = index._load_manifest(index.latest_version())
    if kind == "text":
        live = index.read_doclens(spark).count()
    else:
        live = index.read_signatures(spark).select(index.id_col).distinct().count()
    return {
        f"index_store.{kind}_segments": float(len(man["segments"])),
        f"index_store.{kind}_bytes_per_doc": dir_bytes(index.index_dir) / max(live, 1),
    }
