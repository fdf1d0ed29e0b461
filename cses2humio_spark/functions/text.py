"""Text-analysis functions for the training-data pipeline surface
(SURVEY.md §2.2): tokenization, language-ID, quality scoring, document
fingerprinting.

Everything is built from JVM-side ``pyspark.sql.functions`` (codegen'd, no
Python in the hot path) and is deterministic, so each has an exact DuckDB
oracle. At 100 TB these run as narrow map-side transforms — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
# language-ID (deliberately small + deterministic; real deployments plug in
# fasttext via a pandas_udf behind the same column contract)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "por"],
    "zh": ["的", "是", "不", "我", "了", "在", "有", "他", "这", "就"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-approximating token count: word-piece regex splits on
    letter/digit/punct boundaries, ~= GPT-style token inflation for plain
    text. Deterministic; oracle-friendly (regexp in both engines)."""
    return F.size(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def stopword_ratio(col: Column, lang: str) -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def language_id(col: Column) -> Column:
    """Heuristic language-ID: argmax of per-language stopword ratios, 'und'
    when nothing matches. Deterministic tie-break by language code order."""
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in sorted(STOPWORDS):  # deterministic iteration order
        score = stopword_ratio(col, lang)
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    0.4 * length-score (saturates at 200 tokens)
    + 0.3 * (1 - punctuation ratio)
    + 0.3 * token diversity (distinct/total).
    Rounded to 6dp for cross-engine float determinism."""
    toks = tokens(col)
    n = F.size(toks).cast("double")
    length_score = F.least(n / F.lit(200.0), F.lit(1.0))
    punct = F.length(F.regexp_replace(col, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    punct_ratio = punct / F.greatest(F.length(col).cast("double"), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.greatest(n, F.lit(1.0))
    return F.round(
        F.lit(0.4) * length_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * diversity,
        6,
    )


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 of the normalized text
    (lowercased, whitespace-collapsed, sorted-token canonical form is NOT
    applied — word order matters for exact dup detection)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


# PII patterns kept in BOTH-engine-compatible regex syntax (Java regex on
# the Spark side, RE2 in the DuckDB oracle: no lookaround, no backrefs).
# Order matters: emails are scrubbed before IPs/phones so their digit runs
# can't be re-matched by the later patterns.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
]


def pii_count(col: Column, kind: str) -> Column:
    """Occurrence count of one PII pattern (codegen ``regexp_count``)."""
    (pattern,) = [p for k, p, _ in PII_PATTERNS if k == kind]
    return F.regexp_count(col, F.lit(pattern))


def pii_scrub(col: Column) -> Column:
    """Redact emails / IPv4s / phone-ish numbers with typed placeholder
    tokens. A chained codegen ``regexp_replace`` — a narrow map-side
    projection with no shuffle at any scale. The placeholders contain no
    digits or '@', so the scrub is idempotent (verified by the
    ``pii_redaction_stats`` oracle's residual-count check)."""
    out = col
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def ngram_strings(col: Column, n: int = 2) -> Column:
    """Token n-grams as ' '-joined strings (array<string>; empty array when
    the document has fewer than ``n`` tokens).

    Built as a fold of ``zip_with`` over SHIFTED SLICES — not
    ``transform(sequence, i -> element_at(toks, i+k))``: per-index
    element_at inside a lambda drops out of whole-stage codegen into
    interpreted per-element eval (measured 5x on the PMI pair explosion,
    docs/SCALING.md); streaming HOFs over the array stay compiled."""
    toks = tokens(col)
    m = F.size(toks)
    width = F.greatest(m - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, width)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + k, width),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return acc


def dup_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Fraction of token n-grams that are repeats of an earlier n-gram —
    the Gopher-style repetition signal for boilerplate/spam filtering.
    0.0 for documents with fewer than ``n`` tokens."""
    grams = ngram_strings(col, n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
            6,
        )
    )


def top_token_fraction(col: Column) -> Column:
    """Share of the single most frequent token — high values flag
    keyword-stuffed or templated text. O(tokens * distinct) per row via
    codegen HOFs; a narrow projection at any scale."""
    toks = tokens(col)
    n = F.size(toks)
    counts = F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t)),
    )
    return F.round(
        F.array_max(counts).cast("double") / F.greatest(n, F.lit(1)).cast("double"), 6
    )


def shannon_entropy(col: Column) -> Column:
    """Per-character Shannon entropy in bits (the Humio ``shannonEntropy``
    analog — the standard signal for DGA domains and encoded payloads in
    security log analytics). Pure codegen higher-order functions: chars ->
    sorted distinct alphabet -> -sum p*log2(p) as a left-to-right fold, so
    the float addition order matches an engine-side list_reduce over the
    same sorted alphabet (oracle-parity). Empty strings score 0.0;
    single-symbol strings fold to IEEE -0.0 on every engine alike.
    Cost is O(len * alphabet) per row — fine for the short tokens/fields
    this targets; it stays a narrow projection at any scale."""
    chars = F.filter(F.split(col, ""), lambda x: x != F.lit(""))
    n = F.size(chars).cast("double")
    alphabet = F.array_sort(F.array_distinct(chars))

    def term(c: Column) -> Column:
        p = F.size(F.filter(chars, lambda x: x == c)) / n
        return p * F.log2(p)

    return F.when(n == 0, F.lit(0.0)).otherwise(
        -F.aggregate(
            F.transform(alphabet, term), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def hashed_linear_score(col: Column, salt: str = "qw:") -> Column:
    """fastText-style LINEAR text-classifier inference, pure codegen:
    the document score is the mean over its whitespace tokens of a
    per-token weight looked up in a HASHED weight space (the hashing
    trick — no vocabulary table, fixed memory, out-of-vocabulary tokens
    impossible by construction). Weight(tok) here is the md5-uniform of
    the salted token mapped to (-1, 1) — a deterministic, oracle-exact
    stand-in for trained weights: a real deployment replaces the hash
    expression with its trained weight array indexed by the same hash
    (still one in-row fold), or broadcast-joins an explicit (token,
    weight) vocabulary; the plan shape — no explode, no shuffle, the
    whole model application rides inside the row projection — is the
    point, because at 100 TB a per-token explode would multiply the
    shuffle volume by the corpus token count.

    The fold is a left-to-right DOUBLE sum (the engine's cross-engine
    float contract; DuckDB mirrors it with list_reduce over
    list_prepend(0.0, ...)), so the raw score is bit-identical across
    engines and the kept/rejected decision (score >= 0) is exact."""
    toks = tokens(col)
    w = lambda t: (  # noqa: E731 — inline weight expression
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 8), 16, 10
        ).cast("bigint")
        / F.lit(4294967296.0)
        * 2.0
        - 1.0
    )
    return F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + w(t)
    ) / F.size(toks)


def vocab_linear_score(
    col: Column,
    vocab_tokens: list[str],
    vocab_weights: list[float],
    oov_weight: float = -1.0,
) -> Column:
    """Linear text-classifier inference with an EXPLICIT (token, weight)
    vocabulary — the TRAINED-WEIGHTS sibling of ``hashed_linear_score``
    (VERDICT r11 #7): a real deployment loads its fitted vocabulary and
    drops it into this call; the plan is IDENTICAL in shape to the
    hashed path — the vocabulary becomes a map LITERAL inside the row
    projection (Spark ships expression literals to executors with the
    task, the closed form of a broadcast), the document score is the
    mean of per-token map lookups with ``oov_weight`` for
    out-of-vocabulary tokens, and the whole model application is still
    ONE in-row fold: no token explode, no join, no shuffle, no UDF.
    Vocabulary size is MODEL-sized (thousands of tokens), never
    corpus-sized — the map literal is the moral equivalent of the
    weight array a fastText binary ships.

    ``try_element_at`` (not ``element_at``): under ANSI mode a plain
    map access on a missing key raises — OOV must yield NULL so the
    coalesce supplies the OOV weight. The fold is the same
    left-to-right DOUBLE sum as the hashed path (DuckDB mirrors it with
    list_reduce over list_prepend(0.0, ...)), so scores are
    bit-identical across engines and the kept/rejected sign test is
    exact."""
    if len(vocab_tokens) != len(vocab_weights):
        raise ValueError(
            f"vocab size mismatch: {len(vocab_tokens)} tokens vs "
            f"{len(vocab_weights)} weights"
        )
    m = F.map_from_arrays(
        F.array(*[F.lit(t) for t in vocab_tokens]),
        F.array(*[F.lit(float(w)) for w in vocab_weights]),
    )
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.try_element_at(m, t), F.lit(float(oov_weight))),
    ) / F.size(toks)
