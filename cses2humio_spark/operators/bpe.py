"""Byte-pair-encoding subword tokenization (SURVEY.md §2.2 LLM-pipeline
extensions — the one first-class training-data operator the whitespace
token surface lacked; every real corpus pass applies a learned subword
vocabulary before counting/packing).

Split of labor:
- TRAINING (``train_bpe``) is the classic iterative merge-learning loop —
  inherently sequential (merge k+1 depends on the corpus state after
  merge k), run ONCE per corpus on a bounded sample, driver-side pure
  Python. ``sample_texts`` provides a deterministic bounded sample
  (TakeOrdered — never an unbounded collect).
- APPLICATION (``bpe_encode``) is the scale path and stays ENTIRELY in
  Catalyst codegen: each word becomes a separator-joined symbol string,
  and the merge table is folded over it with ``aggregate`` + literal
  ``replace`` — no UDF, no Python worker, engine-portable (the DuckDB
  oracle replays the identical fold), streaming-safe (pure projection).

Why sequential replace is CORRECT BPE application: the reference
algorithm repeatedly merges the lowest-rank pair present in the word.
In a table learned by BPE, any merge's operands were themselves formed
by strictly earlier merges (topological consistency), so applying rules
once each, in rank order, reaches the same fixed point. Within one
rule, ``replace`` must merge exactly the LEFTMOST-non-overlapping
occurrences — which needs the DOUBLE-separator encoding: symbols are
joined with ``SEP+SEP`` and the pattern ``SEP a SEP SEP b SEP``
consumes only the INNER half of each boundary, so consecutive
occurrences (runs of an identical pair) each retain a half-boundary
for their own match and one pass lands precisely on the reference's
leftmost pairing (a single-separator pattern would eat its neighbor's
boundary and skip every other occurrence — pinned in tests with
``"a"*63`` runs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cses2humio_spark.functions.text import tokens

#: symbol separator in the encoded word string — 0x1F (unit separator),
#: stripped from input text before encoding so it can never be a symbol
SEP = "\x1f"
#: end-of-word marker symbol (standard BPE convention)
EOW = "</w>"


# -- training (driver-side, bounded) ---------------------------------------


def train_bpe(
    texts: Sequence[str], num_merges: int
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from ``texts`` (textbook
    algorithm: count adjacent symbol pairs across all words, merge the
    most frequent, repeat). Deterministic: ties break by pair
    lexicographic order. Returns merges in rank order."""
    from collections import Counter

    # word -> frequency, each word as a tuple of symbols (+ EOW)
    words: Counter = Counter()
    for t in texts:
        for w in t.split():
            if w:
                words[tuple(w) + (EOW,)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, freq in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += freq
        if not pairs:
            break
        # deterministic tie-break: highest freq, then lexicographically
        # smallest pair
        top_freq = max(pairs.values())
        best = min(p for p, f in pairs.items() if f == top_freq)
        merges.append(best)
        a, b = best
        merged = a + b
        new_words: Counter = Counter()
        for sym, freq in words.items():
            out = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words[tuple(out)] += freq
        words = new_words
    return merges


def reference_bpe_encode(
    text: str, merges: Sequence[tuple[str, str]]
) -> list[str]:
    """Reference (driver-side) BPE application — the ground truth the
    distributed fold is pinned against in tests. Applies each merge in
    rank order to every word, leftmost-non-overlapping."""
    out: list[str] = []
    for w in text.split():
        if not w:
            continue
        sym = list(w) + [EOW]
        for a, b in merges:
            i, nxt = 0, []
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    nxt.append(a + b)
                    i += 2
                else:
                    nxt.append(sym[i])
                    i += 1
            sym = nxt
        out.extend(sym)
    return out


def sample_texts(
    df: DataFrame, text_col: str, max_docs: int = 10_000
) -> list[str]:
    """Deterministic bounded training sample: the first ``max_docs``
    texts in text order (TakeOrderedAndProject — the collect is bounded
    by construction, never the corpus)."""
    return [
        r[0]
        for r in df.select(text_col)
        .where(F.col(text_col).isNotNull())
        .orderBy(text_col)
        .limit(max_docs)
        .collect()
    ]


# -- application (codegen, distributed) ------------------------------------


def _merge_steps(
    merges: Sequence[tuple[str, str]]
) -> list[tuple[str, str, str]]:
    """(a, b, merged) triples in rank order."""
    return [(a, b, a + b) for a, b in merges]


def bpe_encode(
    text: Column | str, merges: Sequence[tuple[str, str]]
) -> Column:
    """``array<string>`` of BPE subwords for a text column — pure
    Catalyst: whitespace pre-tokenization, per-word DOUBLE-separator
    symbol encoding, merge-table fold via ``aggregate`` over a literal
    struct array with plain ``replace`` (each match consumes only the
    inner boundary halves, so one pass per rule = leftmost
    non-overlapping, identically in Spark and DuckDB), then split back
    to symbols. The merge table rides the plan as a folded constant —
    broadcast-by-literal, no join, no Python worker."""
    col = F.col(text) if isinstance(text, str) else text
    steps = F.array(
        *[
            F.struct(
                F.lit(a).alias("a"), F.lit(b).alias("b"), F.lit(m).alias("m")
            )
            for a, b, m in _merge_steps(merges)
        ]
    )
    toks = F.filter(
        tokens(F.replace(col, F.lit(SEP), F.lit(""))),
        lambda x: x != "",
    )
    bound = SEP + SEP  # symbol boundary: two separators

    def encode_word(t: Column) -> Column:
        s = F.concat(
            F.lit(bound),
            F.array_join(F.split(t, ""), bound),
            F.lit(bound + EOW + bound),
        )
        folded = F.aggregate(
            steps,
            s,
            # pattern ·a··b· consumes the INNER half of each double
            # boundary; replacement ·ab· restores it — neighbors keep
            # their own halves, so runs merge leftmost-greedy in one pass
            lambda acc, st: F.replace(
                acc,
                F.concat(
                    F.lit(SEP), st["a"], F.lit(bound), st["b"], F.lit(SEP)
                ),
                F.concat(F.lit(SEP), st["m"], F.lit(SEP)),
            ),
        )
        return F.filter(F.split(folded, SEP), lambda x: x != "")

    return F.flatten(F.transform(toks, encode_word))


def bpe_encode_sql(
    text_sql: str, merges: Sequence[tuple[str, str]]
) -> str:
    """The DuckDB twin of ``bpe_encode`` for oracle SQL: the identical
    double-separator encode → per-rank replace fold → split-back,
    expressed with list_transform / list_reduce (init via list_prepend,
    the engine's no-init fold) / string_split. Merges travel as
    ``a<RS>b<RS>merged`` strings (list_reduce needs a uniform element
    type with the string accumulator)."""
    sep = "chr(31)"
    bound = f"{sep} || {sep}"
    rs = "chr(30)"
    enc = []
    for a, b, m in _merge_steps(merges):
        for ch in (a, b, m):
            if "\x1e" in ch or "'" in ch:
                raise ValueError(f"symbol {ch!r} collides with the encoding")
        enc.append(f"'{a}\x1e{b}\x1e{m}'")
    steps = "[" + ", ".join(enc) + "]"
    word = "w"
    encoded = (
        f"{bound} || array_to_string(string_split({word}, ''), {bound}) || "
        f"{bound} || '{EOW}' || {bound}"
    )
    fold = (
        f"list_reduce(list_prepend({encoded}, {steps}), "
        f"(acc, st) -> replace(acc, "
        f"{sep} || split_part(st, {rs}, 1) || {bound} || "
        f"split_part(st, {rs}, 2) || {sep}, "
        f"{sep} || split_part(st, {rs}, 3) || {sep}))"
    )
    return (
        f"flatten(list_transform("
        f"list_filter(string_split_regex(trim(replace({text_sql}, chr(31), "
        f"'')), '\\s+'), x -> x <> ''), "
        f"{word} -> list_filter(string_split({fold}, {sep}), x -> x <> '')))"
    )
