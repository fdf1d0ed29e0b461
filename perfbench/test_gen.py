"""Self-tests of the benchmark's input generator (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.harness import SPEC, tail_percentile  # noqa: E402


def _ship_bytes(seed: int) -> bytes:
    b = gen.ship_backlog(seed, 4, 300)
    return "\x00".join(b.files).encode()


def _search_bytes(seed: int) -> bytes:
    buf = io.BytesIO()
    pq.write_table(gen.search_events(seed, 2000).table, buf)
    return buf.getvalue()


def _crawl_bytes(seed: int) -> bytes:
    c = gen.crawl(seed, 200, 5, 3, 40)
    return json.dumps(
        [c.corpus_ids, c.corpus_texts, c.eval_texts]
        + [[b.ids, b.texts, sorted(b.labels.items()), sorted(b.sources.items())] for b in c.batches]
    ).encode()


def test_same_seed_same_bytes_and_different_seed_different_bytes():
    for make in (_ship_bytes, _search_bytes, _crawl_bytes):
        a, b, c = make(7), make(7), make(8)
        assert hashlib.sha256(a).digest() == hashlib.sha256(b).digest(), make.__name__
        assert a != c, make.__name__


def test_ship_truth_matches_the_lines():
    b = gen.ship_backlog(3, 5, 400, akv_share=0.3, malformed_share=0.02, blank_share=0.02)
    lines = [ln for f in b.files for ln in f.split("\n")[:-1]]
    good = bad = 0
    for ln in lines:
        if not ln:
            continue
        try:
            json.loads(ln)
            good += 1
        except json.JSONDecodeError:
            bad += 1
    assert len(lines) == 5 * 400
    assert (good, bad, lines.count("")) == (b.events, b.malformed, b.blank)
    assert b.lines == good + bad
    assert b.malformed > 0 and b.blank > 0
    assert b.akv_repeats > 0  # last-wins is exercised


def test_ship_digest_is_order_independent_and_sees_last_wins():
    from perfbench.digest import DIGEST_MOD, event_digest

    b = gen.ship_backlog(4, 2, 200)
    total = 0
    for ln in reversed([ln for f in b.files for ln in f.split("\n") if ln]):
        try:
            e = json.loads(ln)
        except json.JSONDecodeError:
            continue
        m, ev = e["metadata"], e["event"]
        flat = {k: str(v) for k, v in ev.items() if k != "AuditKeyValues"}
        for kv in ev.get("AuditKeyValues", []):
            flat[kv["Key"]] = kv["ValueString"]
        total += event_digest(ln, m["offset"], m["eventCreationTime"], m["eventType"], flat)
    assert total % DIGEST_MOD == b.digest


def test_crawl_planted_counts_match_the_spec():
    planted = SPEC["workloads"]["admit"]["inputs"]["planted_per_batch"]
    assert planted == {**{k: v for k, v in gen.PLANTED.items() if k != "batch_dup"}, "batch_dup_pairs": gen.PLANTED["batch_dup"]}
    c = gen.crawl(5, 300, 6, 4, 50)
    corpus = dict(zip(c.corpus_ids, c.corpus_texts))
    for b in c.batches:
        assert len(b.ids) == len(set(b.ids)) == 50
        labels = list(b.labels.values())
        for kind, n in gen.PLANTED.items():
            assert labels.count(kind) == n, kind
        for d, label in b.labels.items():
            text = b.texts[b.ids.index(d)]
            if label == "recrawl":
                assert corpus[d] == text
            elif label == "near_dup":
                assert gen.jaccard(text, corpus[b.sources[d]], 3) >= 0.7
            elif label == "batch_dup":
                src = b.sources[d]
                assert src < d and gen.jaccard(text, b.texts[b.ids.index(src)], 3) >= 0.8


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 19)[0] == 50.0
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(40)))[0] == 75.0

