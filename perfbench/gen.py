"""Seeded inputs for the three workloads, and the ground truth the checks
compare against.

Everything here is numpy/pyarrow/stdlib: the inputs never pass through
the engine, so a defect in the engine cannot hide in its own test data.
The same seed gives byte-identical inputs (``test_gen.py`` pins it).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from perfbench.digest import DIGEST_MOD, event_digest

_CONSONANTS = list("bdfgklmnprstvz")
_VOWELS = list("aeiou")


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words of two to four
    consonant-vowel syllables, in a seeded order (rank 0 first)."""
    syll = np.array([c + v for c in _CONSONANTS for v in _VOWELS])
    words: dict[str, None] = {}
    while len(words) < size:
        n_syll = int(rng.integers(2, 5))
        words.setdefault("".join(syll[rng.integers(0, len(syll), n_syll)]), None)
    return np.array(list(words))


def zipf_ranks(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """``size`` draws of ranks in ``[0, n)`` with P(rank r) ~ 1/(r+1)^a."""
    p = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=p / p.sum())


def word_shingles(text: str, n: int) -> set[str]:
    """Word ``n``-gram set of ``text``: the engine's shingling
    (whitespace split of the trimmed text, n-grams joined by one space)."""
    toks = text.strip().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int) -> float:
    sa, sb = word_shingles(a, n), word_shingles(b, n)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if inter else 0.0


# -- ship: a Falcon NDJSON backlog ------------------------------------------

EVENT_TYPES = [
    "DetectionSummaryEvent",
    "AuthActivityAuditEvent",
    "UserActivityAuditEvent",
    "RemoteResponseSessionStartEvent",
]
_AKV_KEYS = ["UserId", "OperationName", "Success", "ServiceName", "UserName"]


@dataclass
class Backlog:
    files: list[str]  # file contents, in delivery order
    events: int  # well-formed events: what must be delivered
    digest: int  # sum of event_digest over them, mod 2**64
    lines: int  # non-blank lines offered to the parser
    malformed: int
    blank: int
    akv_events: int  # events carrying AuditKeyValues
    akv_repeats: int  # events whose AuditKeyValues repeat a key


def ship_backlog(
    seed: int,
    n_files: int,
    events_per_file: int,
    akv_share: float = 0.3,
    malformed_share: float = 0.01,
    blank_share: float = 0.01,
) -> Backlog:
    """Falcon-style NDJSON files: ``metadata`` (offset, eventCreationTime,
    eventType) plus payload keys on every event; ``AuditKeyValues`` on an
    ``akv_share`` of them, often repeating a key or shadowing a payload
    key so last-wins flattening is exercised; truncated (malformed) lines
    and blank keep-alive lines mixed in."""
    rng = np.random.default_rng([seed, 1])
    files: list[str] = []
    n_good = digest = n_lines = n_bad = n_blank = n_akv = n_rep = 0
    offset = 0
    t0 = 1_723_500_000_000
    for _ in range(n_files):
        lines: list[str] = []
        for _ in range(events_per_file):
            if rng.random() < blank_share:
                lines.append("")
                n_blank += 1
                continue
            etype = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
            ts = t0 + offset * 37 + int(rng.integers(0, 1000))
            event: dict = {
                "ComputerName": f"host-{int(rng.integers(0, 200)):03d}",
                "UserName": f"user{int(rng.zipf(1.6)) % 500}",
                "Severity": int(rng.integers(0, 6)),
                "ProcessId": int(rng.integers(1000, 1 << 20)),
                "CommandLine": "cmd.exe /c " + "x" * int(rng.integers(0, 40)),
            }
            expected = {k: str(v) for k, v in event.items()}
            if rng.random() < akv_share:
                keys = [
                    _AKV_KEYS[int(i)]
                    for i in rng.integers(0, len(_AKV_KEYS), int(rng.integers(1, 5)))
                ]
                akv = [
                    {"Key": k, "ValueString": f"v{int(rng.integers(0, 100))}"}
                    for k in keys
                ]
                event["AuditKeyValues"] = akv
                for kv in akv:  # last wins
                    expected[kv["Key"]] = kv["ValueString"]
                n_akv += 1
                n_rep += len(set(keys)) < len(keys)
            raw = json.dumps(
                {
                    "metadata": {
                        "offset": offset,
                        "eventCreationTime": ts,
                        "eventType": etype,
                    },
                    "event": event,
                },
                separators=(",", ":"),
            )
            offset += 1
            n_lines += 1
            if rng.random() < malformed_share:
                # a truncated object is never valid JSON: its closing
                # brace is gone
                lines.append(raw[: int(len(raw) * rng.uniform(0.2, 0.9))])
                n_bad += 1
                continue
            lines.append(raw)
            n_good += 1
            digest = (digest + event_digest(raw, offset - 1, ts, etype, expected)) % DIGEST_MOD
        files.append("\n".join(lines) + "\n")
    return Backlog(files, n_good, digest, n_lines, n_bad, n_blank, n_akv, n_rep)


# -- search: an events table ---------------------------------------------------

SEARCH_EVENT_TYPES = ["login", "logout", "read", "write", "error", "admin"]
_SEARCH_TYPE_P = [0.2, 0.15, 0.3, 0.2, 0.1, 0.05]
SEARCH_REGIONS = [f"r{i}" for i in range(8)]
SEARCH_METHODS = ["GET", "PUT", "POST", "DELETE"]
SEARCH_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
SEARCH_SPAN_S = 3 * 86_400


@dataclass
class EventsTable:
    table: pa.Table
    vocab: np.ndarray


def search_events(seed: int, n_rows: int, users: int = 5000, vocab_size: int = 3000) -> EventsTable:
    """``n_rows`` events: Zipf-distributed ``user_id``, a skewed
    ``event_type`` mix, kv-style ``props`` (``code=… region=… method=…``)
    and a free-text ``message`` of Zipf-ranked words."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, vocab_size)
    ts = SEARCH_T0 + rng.integers(0, SEARCH_SPAN_S, n_rows)
    user = zipf_ranks(rng, users, n_rows, 1.1)
    etype = rng.choice(len(SEARCH_EVENT_TYPES), size=n_rows, p=_SEARCH_TYPE_P)
    code = rng.integers(100, 600, n_rows)
    region = rng.integers(0, len(SEARCH_REGIONS), n_rows)
    method = rng.integers(0, len(SEARCH_METHODS), n_rows)
    lens = rng.integers(5, 16, n_rows)
    words = vocab[zipf_ranks(rng, vocab_size, int(lens.sum()), 1.05)]
    cuts = np.cumsum(lens)[:-1]
    messages = [" ".join(w) for w in np.split(words, cuts)]
    props = [
        f"code={c} region={SEARCH_REGIONS[r]} method={SEARCH_METHODS[m]}"
        for c, r, m in zip(code.tolist(), region.tolist(), method.tolist())
    ]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts * 1_000_000, type=pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([SEARCH_EVENT_TYPES[i] for i in etype.tolist()]),
            "props": pa.array(props),
            "message": pa.array(messages),
        }
    )
    return EventsTable(table, vocab)


# -- admit: a standing corpus and a stream of crawl batches ---------------------

CORPUS_ID0 = 0
EVAL_ID0 = 10_000_000
BATCH_ID0 = 1_000_000
BATCH_ID_STRIDE = 10_000


@dataclass
class Batch:
    ids: list[int]
    texts: list[str]
    labels: dict[int, str]  # id -> recrawl|near_dup|batch_dup|contaminated|fresh
    sources: dict[int, int] = field(default_factory=dict)  # planted dup -> its origin


@dataclass
class Crawl:
    corpus_ids: list[int]
    corpus_texts: list[str]
    eval_ids: list[int]
    eval_texts: list[str]
    batches: list[Batch]


#: planted rows per batch; the rest of each batch is fresh documents
PLANTED = {"recrawl": 3, "near_dup": 4, "batch_dup": 3, "contaminated": 3}


def _doc(rng, vocab, lo=40, hi=80) -> list[str]:
    return list(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi)))])


def _perturb(rng, vocab, words: list[str], k: int) -> str:
    out = list(words)
    for p in rng.choice(np.arange(5, len(out) - 5), size=k, replace=False):
        out[int(p)] = str(vocab[int(rng.integers(0, len(vocab)))])
    return " ".join(out)


def crawl(
    seed: int,
    n_corpus: int,
    n_eval: int,
    n_batches: int,
    batch_size: int,
    vocab_size: int = 20_000,
) -> Crawl:
    """A standing corpus, an eval suite, and ``n_batches`` crawl batches.

    Each batch plants ``PLANTED`` rows: exact re-crawls of corpus
    documents (same id and text), near-duplicates of corpus documents
    (one or two words replaced: 3-shingle Jaccard about 0.8-0.9),
    within-batch near-duplicate pairs (the copy has the larger id),
    and documents that embed a 40-word span of an eval document. The
    remaining rows are fresh random documents, which share no 3-gram
    with anything else except by negligible chance."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng, vocab_size)
    corpus_words = [_doc(rng, vocab) for _ in range(n_corpus)]
    corpus_ids = [CORPUS_ID0 + i for i in range(n_corpus)]
    eval_words = [_doc(rng, vocab, 70, 90) for _ in range(n_eval)]
    eval_ids = [EVAL_ID0 + i for i in range(n_eval)]
    n_fresh = batch_size - sum(PLANTED.values()) - PLANTED["batch_dup"]
    if n_fresh < 0:
        raise ValueError(f"batch_size {batch_size} too small for the planted rows")
    batches = []
    for b in range(n_batches):
        next_id = BATCH_ID0 + b * BATCH_ID_STRIDE
        rows: list[tuple[int, str, str]] = []
        sources: dict[int, int] = {}
        for j in rng.choice(n_corpus, size=PLANTED["recrawl"], replace=False):
            rows.append((corpus_ids[j], " ".join(corpus_words[j]), "recrawl"))
        for j in rng.choice(n_corpus, size=PLANTED["near_dup"], replace=False):
            text = _perturb(rng, vocab, corpus_words[j], int(rng.integers(1, 3)))
            rows.append((next_id, text, "near_dup"))
            sources[next_id] = corpus_ids[j]
            next_id += 1
        for _ in range(PLANTED["batch_dup"]):
            words = _doc(rng, vocab)
            rows.append((next_id, " ".join(words), "fresh"))
            rows.append((next_id + 1, _perturb(rng, vocab, words, 1), "batch_dup"))
            sources[next_id + 1] = next_id
            next_id += 2
        for _ in range(PLANTED["contaminated"]):
            src = eval_words[int(rng.integers(0, n_eval))]
            start = int(rng.integers(0, len(src) - 40))
            words = _doc(rng, vocab, 5, 6) + src[start:start + 40] + _doc(rng, vocab, 5, 6)
            rows.append((next_id, " ".join(words), "contaminated"))
            next_id += 1
        for _ in range(n_fresh):
            rows.append((next_id, " ".join(_doc(rng, vocab)), "fresh"))
            next_id += 1
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        batches.append(
            Batch(
                [r[0] for r in rows],
                [r[1] for r in rows],
                {r[0]: r[2] for r in rows},
                sources,
            )
        )
    return Crawl(
        corpus_ids,
        [" ".join(w) for w in corpus_words],
        eval_ids,
        [" ".join(w) for w in eval_words],
        batches,
    )


def docs_table(ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(texts)}
    )
