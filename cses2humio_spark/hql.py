"""HQL — a Humio/LogScale-style pipe query language compiled to DataFrames.

The reference connector's whole purpose is to ship events INTO Humio so
users can query them there (reference README.md:5-8 "maintain, visualize
and alert on Falcon Event Stream data"; SURVEY.md §2.3 — the connector
itself has zero query operators). This module closes that loop inside the
engine: the searches those users write in Humio's pipe syntax run directly
on Spark DataFrames. It is a *subset*, chosen to cover the
filter → extract → aggregate → sort shapes of Humio's own documentation:

    #event_type = error | timechart(span=1h)
    value > 90 | score := value * 2 | sort([score], limit=5)
    timeout | groupBy(event_type)
    event_type = /err.*/ | regex("\\d+", field=props) | count()

Surface:
- Filters: ``field = value`` (with ``*`` globs), ``!=``, ``< <= > >=``
  (numeric when the literal is numeric), ``field = /regex/``, bare-word
  free-text (case-insensitive substring over all string columns — the
  analog of Humio's @rawstring search) including WILDCARD free-text
  (``err*`` / ``*err*`` / ``ab*cd`` — unanchored glob over each string
  column's value; quoted strings keep a literal ``*``) and REGEX
  free-text (bare ``/pattern/`` — case-sensitive unanchored find over
  each string column; ``/pattern/i`` ignores case, and the ``i``/``m``/
  ``s`` flags apply to field regexes too), combined with ``and`` / ``or`` / ``not`` /
  parentheses; adjacent terms are implicit AND (Humio rule).
  ``in(field, values=[...])`` accepts wildcard values (unquoted
  ``err*`` globs the whole value; quoted stays literal). ``#field`` /
  ``@field`` sugar strips to ``field``.
- Aggregates: ``count`` (plain/field/distinct), ``sum/avg/min/max``
  (exact-decimal accumulation), ``stddev`` (exact sufficient
  statistics), ``percentile``, ``collect`` (sorted array).
- Stages: ``groupBy`` (+``limit=`` group cap), ``timechart``
  (tumbling/sliding/gap-filled), ``sort`` (per-field order lists),
  ``head/tail/top`` (+``percent=``), ``select/table/rename/drop/
  default``, ``regex`` named-group extraction, ``parseJson``,
  ``kvParse``, ``parseUrl``, ``parseCsv``, ``parseXml``, ``cidr``
  subnet filtering,
  ``parseTimestamp``, ``replace/concat/format/splitString/split``,
  ``bucket``, ``session``, ``dedup``, ``in`` (+``ignoreCase``),
  ``match`` lookup enrichment, ``join({subquery})``
  (inner/left/semi/anti), ``window`` moving aggregates, ``sample``,
  ``watermark`` (streaming pipes), ``case { sel | f := v ; ... }``
  first-match dispatch, assignment ``name := arithmetic`` (with
  ``if()``, ``formatTime()``, ``shannonEntropy()``, ``md5/sha256``,
  ``geohash(lat, lng)``,
  string/math evals), any filter as a stage, and relative-time
  filters (``ts > -1d`` against the query anchor) — full stage table
  with semantics in docs/HQL.md.

Determinism contract (same as the rest of the engine,
queries/registry.py): ``sum``/``avg`` accumulate in exact
DECIMAL(28,6) and emit double, so results are partition-order
independent; ``top`` breaks count ties by the group value ascending.

Scale: every construct compiles to built-in Catalyst expressions —
filters reach the scan as pushed predicates, aggregations get map-side
partials, ``sort(limit=)`` compiles to TakeOrderedAndProject. Nothing
here is a UDF; a 100 TB HQL search is exactly the DataFrame plan a
hand-written query would produce (pinned in tests/test_hql.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- tokenizer ------------------------------------------------------------

_BASE_TOKens = r"""
    (?P<WS>\s+)
  | (?P<STRING>"(?:[^"\\]|\\.)*")
  | (?P<DURATION>-?\d+[smhdw]\b)
  | (?P<NUMBER>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<ASSIGN>:=)
  | (?P<OP>!=|<=|>=|=|<|>)
  | (?P<PIPE>\|)
  | (?P<LPAREN>\()
  | (?P<RPAREN>\))
  | (?P<LBRACKET>\[)
  | (?P<RBRACKET>\])
  | (?P<LBRACE>\{)
  | (?P<RBRACE>\})
  | (?P<SEMI>;)
  | (?P<COMMA>,)
  | (?P<ARITH>[+\-*/])
  | (?P<IDENT>[#@]?[A-Za-z_][A-Za-z0-9_.]*)
    """

# ``/.../`` regex literals are only recognized immediately after = or !=
# (Humio's position for them) — everywhere else ``/`` is division. Glob
# tokens are recognized after = / != (comparison values) AND in filter
# position (bare ``err*`` free-text — Humio's wildcard @rawstring
# search), but never inside a ``:=`` arithmetic expression, where ``*``
# is multiplication. Three scanners avoid the classic slash/star
# ambiguity: the filter scanner's glob requires at least one word
# character so the bare ``*`` stays ARITH (the case-clause wildcard
# selector and ``:=``-free arithmetic both depend on that).
_TOKEN_RE = re.compile(_BASE_TOKens, re.VERBOSE)
_TOKEN_RE_REGEX = re.compile(
    r"(?P<REGEX>/(?:[^/\\]|\\.)+/[A-Za-z]*)\s*"
    r"|(?P<GLOB>[A-Za-z0-9_.\-]*\*[A-Za-z0-9_.\-*]*)|" + _BASE_TOKens,
    re.VERBOSE,
)
_TOKEN_RE_FILTER = re.compile(
    r"(?P<REGEX>/(?:[^/\\]|\\.)+/[A-Za-z]*)\s*"
    r"|(?P<GLOB>[A-Za-z0-9_.\-]+\*[A-Za-z0-9_.\-*]*"
    r"|\*+[A-Za-z0-9_.\-][A-Za-z0-9_.\-*]*)|" + _BASE_TOKens,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str
    text: str
    pos: int


def tokenize(src: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    # ``:=`` opens an arithmetic expression that runs to the next stage
    # boundary (PIPE / SEMI / brace) — ``*`` is multiplication there, a
    # word-adjacent glob everywhere else. COMMA does NOT reset: commas
    # occur INSIDE arithmetic (``x := if(a=1, 2*3, 4)``).
    in_assign = False
    while pos < len(src):
        after_eq = bool(out) and out[-1].kind == "OP" and out[-1].text in ("=", "!=")
        scanner = (
            _TOKEN_RE_REGEX
            if after_eq
            else (_TOKEN_RE if in_assign else _TOKEN_RE_FILTER)
        )
        m = scanner.match(src, pos)
        if not m:
            raise HqlSyntaxError(f"unexpected character {src[pos]!r} at {pos}")
        kind = m.lastgroup or ""
        if kind != "WS":
            out.append(Tok(kind, m.group().strip() if kind == "REGEX" else m.group(), pos))
            if kind == "ASSIGN":
                in_assign = True
            elif kind in ("PIPE", "SEMI", "LBRACE", "RBRACE"):
                in_assign = False
        pos = m.end()
    return out


class HqlSyntaxError(ValueError):
    pass


# --- AST ------------------------------------------------------------------


@dataclass
class FreeText:
    term: str
    #: unquoted term containing ``*``: a glob over every string column's
    #: full value (Humio's wildcard @rawstring search). Quoted strings
    #: stay literal — the escape hatch for matching a real ``*``.
    glob: bool = False
    #: bare ``/pattern/`` in filter position: Humio's regex @rawstring
    #: search — an unanchored, CASE-SENSITIVE regex find over every
    #: string column (field regexes and free-text regexes share
    #: case-sensitivity, unlike bare-word free-text which lowercases).
    regex: bool = False


class Glob(str):
    """A list/kwarg value parsed from an unquoted glob token (``err*``)
    — a ``str`` that remembers it came from wildcard syntax, so value
    consumers (``in()``) can apply glob semantics while QUOTED values
    with a literal ``*`` stay exact matches. Behaves as its raw text
    everywhere else."""


@dataclass
class Cmp:
    field: str
    op: str
    value: str | float
    is_regex: bool = False
    is_glob: bool = False
    is_duration: bool = False  # unquoted -7d/1h literal -> relative time


@dataclass
class And:
    parts: list


@dataclass
class Or:
    parts: list


@dataclass
class Not:
    inner: object


@dataclass
class Assign:
    name: str
    expr: object  # arithmetic AST: ('num', x) | ('field', f) | ('op', op, l, r)


@dataclass
class Call:
    name: str
    args: list = dc_field(default_factory=list)       # positional values
    kwargs: dict = dc_field(default_factory=dict)     # keyword values


@dataclass
class Subquery:
    """``{ stage | stage | … }`` — an embedded pipeline, used as the
    first argument of ``join()``. Runs against the pipeline's ROOT frame
    (LogScale: a join subquery is an independent search over the same
    repository) or a named table via ``table=``."""

    stages: list


@dataclass
class CaseExpr:
    """``case { selector | assignments ; ... }`` — LogScale's conditional
    dispatch. Each clause is (filter-AST-or-None-for-``*``, [Assign, ...]);
    an event takes the FIRST matching clause's assignments; events matching
    no clause are DROPPED (LogScale semantics — add ``* | ...`` to keep
    them)."""

    clauses: list  # list[tuple[object | None, list[Assign]]]


# --- parser ---------------------------------------------------------------


class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise HqlSyntaxError("unexpected end of query")
        self.i += 1
        return t

    def expect(self, kind: str) -> Tok:
        t = self.next()
        if t.kind != kind:
            raise HqlSyntaxError(f"expected {kind}, got {t.kind} {t.text!r} at {t.pos}")
        return t

    # query := stage ('|' stage)*
    def parse(self) -> list:
        stages = []
        if self.peek() is not None and self.peek().kind != "PIPE":
            stages.append(self.stage())
        while self.peek() is not None:
            self.expect("PIPE")
            stages.append(self.stage())
        return stages

    def stage(self):
        t = self.peek()
        if t is None:
            raise HqlSyntaxError("empty stage")
        # case { selector | assignments ; ... }
        if (
            t.kind == "IDENT"
            and t.text == "case"
            and self.peek(1) is not None
            and self.peek(1).kind == "LBRACE"
        ):
            return self.case_expr()
        # assignment:  ident := arith
        if (
            t.kind == "IDENT"
            and self.peek(1) is not None
            and self.peek(1).kind == "ASSIGN"
        ):
            name = self.next().text
            self.expect("ASSIGN")
            return Assign(_strip_sigil(name), self.arith())
        # function call: ident '(' — at stage head an unknown function is
        # a loud error, not a silent free-text term
        if (
            t.kind == "IDENT"
            and t.text.lower() not in ("not", "and", "or")
            and self.peek(1) is not None
            and self.peek(1).kind == "LPAREN"
        ):
            if t.text not in _STAGE_FUNCS:
                raise HqlSyntaxError(
                    f"unknown stage function {t.text!r} at {t.pos} "
                    f"(supported: {', '.join(sorted(_STAGE_FUNCS))})"
                )
            return self.call()
        return self.or_expr()

    def case_expr(self) -> CaseExpr:
        """``case { sel | a := v [| b := w] ; sel2 | ... ; * | ... }`` —
        selector is any filter expression or the bare wildcard ``*``
        (ARITH token in this position); each clause's pipeline is one or
        more assignments (the supported subset)."""
        self.next()  # 'case'
        self.expect("LBRACE")
        clauses: list = []
        while self.peek() is not None and self.peek().kind != "RBRACE":
            t = self.peek()
            if t.kind == "ARITH" and t.text == "*":
                self.next()
                sel = None
            else:
                sel = self.or_expr()
            assigns: list[Assign] = []
            while self.peek() is not None and self.peek().kind == "PIPE":
                self.next()
                name_t = self.expect("IDENT")
                self.expect("ASSIGN")
                assigns.append(
                    Assign(_strip_sigil(name_t.text), self.arith())
                )
            if not assigns:
                raise HqlSyntaxError(
                    "case clause needs at least one '| field := expr' "
                    f"(at {t.pos})"
                )
            clauses.append((sel, assigns))
            if self.peek() is not None and self.peek().kind == "SEMI":
                self.next()
        self.expect("RBRACE")
        if not clauses:
            raise HqlSyntaxError("case { } needs at least one clause")
        return CaseExpr(clauses)

    def call(self) -> Call:
        name = self.expect("IDENT").text
        self.expect("LPAREN")
        call = Call(name)
        while self.peek() is not None and self.peek().kind != "RPAREN":
            # keyword?
            if (
                self.peek().kind == "IDENT"
                and self.peek(1) is not None
                and self.peek(1).kind == "OP"
                and self.peek(1).text == "="
            ):
                key = self.next().text
                self.next()  # '='
                call.kwargs[key] = self.value_or_list()
            else:
                call.args.append(self.value_or_list())
            if self.peek() is not None and self.peek().kind == "COMMA":
                self.next()
        self.expect("RPAREN")
        return call

    def value_or_list(self):
        t = self.peek()
        if t.kind == "LBRACE":
            # embedded pipeline: { stage | stage | ... }
            self.next()
            stages = [self.stage()]
            while self.peek() is not None and self.peek().kind == "PIPE":
                self.next()
                stages.append(self.stage())
            self.expect("RBRACE")
            return Subquery(stages)
        if t.kind == "LBRACKET":
            self.next()
            items = []
            while self.peek() is not None and self.peek().kind != "RBRACKET":
                items.append(self.value_or_list())
                if self.peek() is not None and self.peek().kind == "COMMA":
                    self.next()
            self.expect("RBRACKET")
            return items
        if t.kind == "IDENT" and self.peek(1) is not None and self.peek(1).kind == "LPAREN":
            return self.call()  # nested agg call, e.g. function=[count(), avg(x)]
        t = self.next()
        if t.kind == "NUMBER":
            try:
                return int(t.text)
            except ValueError:  # decimal point or exponent
                return float(t.text)
        if t.kind == "DURATION":
            return t.text
        if t.kind == "STRING":
            return _unquote(t.text)
        if t.kind == "IDENT":
            return _strip_sigil(t.text)
        if t.kind == "GLOB":
            # unquoted wildcard value (``values=[err*]``): tagged so
            # consumers with glob semantics (in()) can tell it from a
            # QUOTED literal star, which parses as a plain str above
            return Glob(t.text)
        raise HqlSyntaxError(f"unexpected {t.kind} {t.text!r} at {t.pos}")

    # filters ------------------------------------------------------------
    def or_expr(self):
        parts = [self.and_expr()]
        while self._is_kw("or"):
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Or(parts)

    def and_expr(self):
        parts = [self.not_expr()]
        while True:
            if self._is_kw("and"):
                self.next()
                parts.append(self.not_expr())
                continue
            # implicit AND: next token starts another term (Humio rule)
            t = self.peek()
            if t is not None and t.kind in ("IDENT", "STRING", "LPAREN", "NUMBER") and not self._is_kw("or"):
                parts.append(self.not_expr())
                continue
            break
        return parts[0] if len(parts) == 1 else And(parts)

    def not_expr(self):
        if self._is_kw("not"):
            self.next()
            return Not(self.not_expr())
        return self.primary()

    def primary(self):
        t = self.peek()
        if t is None:
            raise HqlSyntaxError("unexpected end of query in filter")
        if t.kind == "LPAREN":
            self.next()
            inner = self.or_expr()
            self.expect("RPAREN")
            return inner
        if t.kind == "STRING":
            return FreeText(_unquote(self.next().text))
        if t.kind in ("NUMBER", "DURATION"):
            return FreeText(self.next().text)
        if t.kind == "IDENT":
            nxt = self.peek(1)
            if nxt is not None and nxt.kind == "OP":
                fieldname = _strip_sigil(self.next().text)
                op = self.next().text
                v = self.next()
                if v.kind == "REGEX":
                    if op not in ("=", "!="):
                        raise HqlSyntaxError("regex match supports = / != only")
                    return Cmp(fieldname, op, _regex_pattern(v), is_regex=True)
                if v.kind == "NUMBER":
                    num = float(v.text)
                    return Cmp(fieldname, op, num)
                if v.kind == "STRING":
                    # QUOTED values are always literal (Humio's escape
                    # hatch for matching a literal '*'); only unquoted
                    # values glob
                    return Cmp(fieldname, op, _unquote(v.text))
                if v.kind in ("IDENT", "GLOB", "DURATION"):
                    return Cmp(
                        fieldname,
                        op,
                        v.text,
                        is_glob="*" in v.text,
                        is_duration=v.kind == "DURATION",
                    )
                raise HqlSyntaxError(f"bad comparison value {v.text!r} at {v.pos}")
            return FreeText(self.next().text)
        if t.kind == "GLOB":
            # bare wildcard free-text (``err*``): Humio's glob over
            # @rawstring — here, over every string column's full value.
            # Quoted strings remain the literal-`*` escape hatch.
            return FreeText(self.next().text, glob=True)
        if t.kind == "REGEX":
            # bare ``/pattern/`` free-text: Humio's regex search over
            # @rawstring — an unanchored case-sensitive find over every
            # string column
            return FreeText(_regex_pattern(self.next()), regex=True)
        raise HqlSyntaxError(f"unexpected {t.kind} {t.text!r} at {t.pos}")

    # arithmetic for := --------------------------------------------------
    def arith(self):
        node = self.term()
        while self.peek() is not None and self.peek().kind == "ARITH" and self.peek().text in "+-":
            op = self.next().text
            node = ("op", op, node, self.term())
        return node

    def term(self):
        node = self.factor()
        while self.peek() is not None and self.peek().kind == "ARITH" and self.peek().text in "*/":
            op = self.next().text
            node = ("op", op, node, self.factor())
        return node

    def factor(self):
        t = self.next()
        if t.kind == "NUMBER":
            return ("num", float(t.text))
        if t.kind == "STRING":
            return ("str", _unquote(t.text))
        if t.kind == "IDENT":
            # if(cond, then, else): the condition is a FILTER expression,
            # not arithmetic — parse it with the filter grammar
            if (
                t.text == "if"
                and self.peek() is not None
                and self.peek().kind == "LPAREN"
            ):
                self.next()  # '('
                cond = self.or_expr()
                self.expect("COMMA")
                then = self.arith()
                self.expect("COMMA")
                els = self.arith()
                self.expect("RPAREN")
                return ("if", cond, then, els)
            # scalar function call inside := expressions
            if self.peek() is not None and self.peek().kind == "LPAREN":
                if t.text not in _EVAL_FUNCS:
                    raise HqlSyntaxError(
                        f"unknown eval function {t.text!r} at {t.pos} "
                        f"(supported: {', '.join(sorted(_EVAL_FUNCS))})"
                    )
                self.next()  # '('
                args = []
                while self.peek() is not None and self.peek().kind != "RPAREN":
                    args.append(self.arith())
                    if self.peek() is not None and self.peek().kind == "COMMA":
                        self.next()
                self.expect("RPAREN")
                return ("call", t.text, args)
            return ("field", _strip_sigil(t.text))
        if t.kind == "LPAREN":
            node = self.arith()
            self.expect("RPAREN")
            return node
        raise HqlSyntaxError(f"unexpected {t.kind} {t.text!r} in expression at {t.pos}")

    def _is_kw(self, kw: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "IDENT" and t.text.lower() == kw


def _strip_sigil(name: str) -> str:
    return name.lstrip("#@")


def _unquote(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s[1:-1])


#: ``/pattern/flags`` flags -> the Java inline flag with the same meaning
_REGEX_FLAGS = {"i": "i", "m": "m", "s": "s"}


def _regex_pattern(tok: Tok) -> str:
    """The pattern of a REGEX token ``/pattern/flags``, with the flags
    folded in as an inline group (``/abc/i`` -> ``(?i)abc``)."""
    end = tok.text.rindex("/")
    flags = tok.text[end + 1 :]
    bad = sorted(set(flags) - set(_REGEX_FLAGS))
    if bad:
        raise HqlSyntaxError(
            f"unknown regex flag(s) {''.join(bad)!r} at {tok.pos} "
            f"(supported: {''.join(_REGEX_FLAGS)})"
        )
    prefix = "".join(sorted({_REGEX_FLAGS[f] for f in flags}))
    return (f"(?{prefix})" if prefix else "") + tok.text[1:end]


def parse(src: str) -> list:
    return _Parser(tokenize(src)).parse()


# --- compiler -------------------------------------------------------------

_STAGE_FUNCS = {
    "count", "sum", "avg", "min", "max", "groupBy", "timechart", "sort",
    "head", "top", "rare", "transpose", "fieldSummary", "select", "table", "regex", "parseJson", "session",
    "dedup", "in", "match", "percentile", "approxPercentile",
    "approxDistinct", "watermark", "sample",
    "default", "rename", "drop", "replace", "concat", "format",
    "splitString", "split", "stddev", "bucket", "join", "window", "tail",
    "collect", "parseTimestamp", "kvParse", "parseUrl", "parseCsv",
    "parseXml", "cidr", "parseCef", "parseLeef", "selfJoinFilter",
    "series",
}

_SPANS = {"s": "second", "m": "minute", "h": "hour", "d": "day", "w": "week"}


_SPAN_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _span_to_interval(span: str) -> str:
    m = re.fullmatch(r"(\d+)([smhdw])", str(span))
    if not m:
        raise HqlSyntaxError(f"bad span {span!r} (expected e.g. 1h, 30m)")
    n, unit = m.groups()
    return f"{n} {_SPANS[unit]}"


def _span_to_seconds(span: str) -> int:
    m = re.fullmatch(r"(\d+)([smhdw])", str(span))
    if not m:
        raise HqlSyntaxError(f"bad span {span!r} (expected e.g. 30m)")
    n, unit = m.groups()
    return int(n) * _SPAN_SECONDS[unit]


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def _glob_to_regex(pat: str) -> str:
    parts = [re.escape(p) for p in pat.split("*")]
    return "^" + ".*".join(parts) + "$"


def _capture_group_numbers(pat: str) -> dict[str, int]:
    """Map each NAMED capture group to its actual group NUMBER, counting
    unnamed capture groups too — ``(foo|bar) (?<code>\\d+)`` puts ``code``
    at group 2, not 1. Non-capturing constructs ``(?:`` ``(?=`` ``(?!``
    ``(?<=`` ``(?<!`` don't advance the numbering."""
    out: dict[str, int] = {}
    n = 0
    i = 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "[":  # '(' inside a character class is literal
            j = i + 1
            while j < len(pat) and pat[j] != "]":
                j += 2 if pat[j] == "\\" else 1
            i = j + 1
            continue
        if ch == "(":
            m = re.match(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", pat[i:])
            if m:
                n += 1
                out[m.group(1)] = n
            elif not pat.startswith("(?", i):
                n += 1  # plain unnamed capture group
            # every other (?...) construct — (?: (?= (?! (?<= (?<! inline
            # flags (?i) / (?i:...) atomic (?>...) — is non-capturing in
            # Java regex and must not advance the numbering
        i += 1
    return out


def _now_column(now) -> Column:
    """The anchor for relative-time filters: a pinned literal when the
    caller supplies one (reproducible pipelines, oracle checks), else the
    engine's query-start ``now()`` (Humio's live semantics — constant
    within one query execution, unlike per-row clocks)."""
    if now is None:
        return F.expr("now()")
    return F.lit(now).cast("timestamp")


class _FtxContext:
    """Free-text index routing context: ``markers`` maps a
    ``(lowercased term, is_glob)`` key to the boolean marker column its
    candidate semi-join produced (the glob flag is part of the key —
    the same spelling can be both a quoted literal and a bare glob);
    ``text_col`` is the indexed column the markers replace.
    ``null_col`` (set only when the filter NEGATES a free-text term) is
    a column that is non-null exactly for documents the index ingested —
    i.e. documents whose text was non-null — so the marker can
    reproduce the scan path's 3-valued logic: ``lower(NULL text)
    contains term`` is NULL, and ``not term`` must DROP that row, not
    keep it (ADVICE r11)."""

    def __init__(
        self,
        text_col: str,
        markers: dict[tuple[str, bool], str],
        null_col: str | None = None,
    ):
        self.text_col = text_col
        self.markers = markers
        self.null_col = null_col


def _free_text_terms(node, out: set) -> None:
    """Collect ``(lowercased term, is_glob, is_regex)`` triples — the
    glob flag is part of the marker key because the same spelling can
    be BOTH a quoted literal (``"err*"`` — match a real star) and a
    bare glob (``err*``) in one stage, with different semantics. Regex
    terms keep their ORIGINAL case (the pattern is case-sensitive);
    they are collected only so the router can refuse the stage."""
    if isinstance(node, FreeText):
        if node.regex:
            out.add((node.term, False, True))
        else:
            out.add((node.term.lower(), node.glob, False))
    elif isinstance(node, (And, Or)):
        for p in node.parts:
            _free_text_terms(p, out)
    elif isinstance(node, Not):
        _free_text_terms(node.inner, out)


def _has_negated_free_text(node, under_not: bool = False) -> bool:
    """True iff some free-text term sits under a ``not`` — the one
    filter shape where NULL and FALSE diverge (``~NULL`` drops the row,
    ``~false`` keeps it), so the routed path must preserve NULL for
    unindexed (NULL-text) documents instead of coalescing to FALSE."""
    if isinstance(node, FreeText):
        return under_not
    if isinstance(node, (And, Or)):
        return any(_has_negated_free_text(p, under_not) for p in node.parts)
    if isinstance(node, Not):
        return _has_negated_free_text(node.inner, True)
    return False


#: routable quoted phrase: words separated by SINGLE spaces, no other
#: whitespace — the only shape the single-space-corpus identity covers
_PHRASE_RE = re.compile(r"\S+( \S+)+\Z")


#: stages that can never create, reassign, or remove a column — routing
#: stays armed across them (filters, ordering, row selection)
_FTX_SAFE_CALLS = frozenset(
    {"in", "sort", "head", "tail", "sample", "dedup", "watermark"}
)


def _stage_preserves_text_col(
    node, text_col: str, id_col: str | None = None
) -> bool:
    """True iff the stage provably leaves the indexed text column's —
    AND the index id column's — VALUES intact: the invariant free-text
    routing rests on. The index markers reflect the INGESTED corpus
    text; a stage that reassigns or derives the text column
    (``eval(text := lower(text))``) makes later routed stages diverge
    from scan semantics, one that DROPS it changes which columns a
    free-text scan searches, and one that rewrites the ID column
    (``doc_id := doc_id + 1``) makes the marker semi-join attach index
    answers to the WRONG rows (ADVICE r13 — the r12 guard checked only
    the text column). Once a pipeline stage fails this check, ``hql()``
    disarms routing for every later stage (passes ``text_index=None``)
    and the scan path — always correct — takes over. Column-creating
    calls whose output names are data-dependent (``kvParse``,
    ``parseJson``, …) conservatively disarm: a shadowing write cannot
    be ruled out statically, and the only cost of a false negative is a
    slower, still-correct plan."""
    protected = {text_col} if id_col is None else {text_col, id_col}
    if isinstance(node, (And, Or, Not, FreeText, Cmp)):
        return True
    if isinstance(node, Assign):
        return node.name not in protected
    if isinstance(node, CaseExpr):
        return all(
            a.name not in protected
            for _sel, assigns in node.clauses
            for a in assigns
        )
    if isinstance(node, Call):
        if node.name in _FTX_SAFE_CALLS:
            return True
        if node.name in ("select", "table"):
            fields = _as_list(node.args[0]) if node.args else []
            return protected.issubset(set(fields))
        if node.name == "drop":
            fields = _as_list(node.args[0]) if node.args else []
            return not (protected & set(fields))
        if node.name == "default":
            return node.kwargs.get("field") not in protected
        if node.name == "rename":
            return not (
                protected
                & {node.kwargs.get("field"), node.kwargs.get("as")}
            )
        if node.name == "join":
            # subquery-created columns never shadow primary-side names
            # (the keep/include logic drops or rejects collisions), and
            # semi/anti keep only primary columns
            return True
        return False
    return False


def _route_free_text_stage(
    df: DataFrame, node, index, now=None, strict: bool = True
) -> DataFrame | None:
    """Compile a filter stage with its free-text terms answered by the
    standing ``InvertedTextIndex`` instead of a text-column scan.

    Correctness is an identity, not a heuristic. BARE terms: the index
    tokenizes on whitespace, so a substring occurrence of a
    WHITESPACE-FREE term lies entirely inside one token (the occurrence
    contains no whitespace and tokens are maximal non-whitespace runs)
    — hence ``lower(text) contains term`` ⟺ some posting token of that
    doc contains the term. QUOTED PHRASES (words separated by single
    spaces): when every indexed document's internal separators are
    single spaces (the per-doc ``ws1`` flag the build records, AND-ed
    over the doc-length artifact) the trimmed text IS the tokens joined
    by single spaces, so ``lower(text) contains "w0 w1 … wk"`` ⟺ some
    token at position p ENDS with w0, tokens p+1..p+k-1 EQUAL the
    middle words, and token p+k STARTS with wk — answerable from the
    POSITIONAL postings alone. Phrases route only when the index is
    positional and the corpus-wide ws1 flag holds; any term the
    identity cannot cover (other whitespace shapes, flat index,
    mixed-separator corpus) makes the whole stage fall back to the scan
    path (returns None).

    Plan shape — ONE postings scan, ONE aggregation, ONE join, however
    many terms/phrases the stage carries: the postings are filtered on
    the union of all term/word-slot predicates (token text is a few
    bytes/row versus the document corpus, and the doc-text column is
    NEVER read), the surviving rows collapse per doc — a boolean flag
    per bare term (map-side-partial max), a position array per phrase
    word-slot (the phrase marker is then a pure-codegen ``exists`` over
    those arrays) — and that candidate frame, |matching docs| rows,
    never corpus-sized, LEFT-joins onto the frame once. The markers
    compose with and/or/not exactly like the scan predicate; other
    string columns keep their substring scan (free-text searches EVERY
    string column; the index only stands in for the indexed one); when
    the filter NEGATES a free-text term, the narrow doc-length table
    joins in so NULL-text documents keep the scan path's 3-valued
    semantics (see ``_FtxContext.null_col``). The markers are restored
    away via ``select(*df.columns)``, so downstream stages see the
    original schema in the original column order."""
    terms: set = set()
    _free_text_terms(node, terms)
    if not terms or any(not t for (t, _g, _r) in terms):
        return None
    if any(r for (_t, _g, r) in terms):
        # an arbitrary regex can match across token boundaries and is
        # case-sensitive — postings cannot answer it: scan path
        return None
    bare: list = []
    phrases: list = []
    globs: list = []
    for t, g, _r in sorted(terms):
        if g:
            # EDGE-star globs reduce exactly to the bare-term identity:
            # stars at the edges match anything including nothing, so
            # ``err*`` / ``*err`` / ``*err*`` ⟺ lower(text) contains
            # 'err' ⟺ some token contains 'err' (glob tokens never
            # carry whitespace by construction). A middle star can span
            # token boundaries (``ab*cd`` matches "ab cd"), which
            # token-local postings cannot answer: scan path.
            core = t.strip("*")
            if not core or "*" in core:
                return None
            globs.append((t, core))
        elif re.search(r"\s", t):
            phrases.append(t)
        else:
            bare.append(t)
    if any(not _PHRASE_RE.fullmatch(p) for p in phrases):
        return None  # tabs / doubled spaces / edge whitespace: scan path
    if phrases and not getattr(index, "positional", False):
        return None  # a flat index stores no positions: scan path
    if index.id_col not in df.columns:
        if not strict:
            # subquery context: a stage downstream of an aggregation has
            # legitimately lost the id column — scan path, not an error
            return None
        raise HqlSyntaxError(
            f"text_index routing needs the frame to carry the index id "
            f"column {index.id_col!r} (have: {', '.join(df.columns)})"
        )
    spark = df.sparkSession
    # pin ONE index version for the whole stage: the ws-single check,
    # the postings scan, and the doc-length join must see the same
    # committed state, or a concurrent ingest landing between the reads
    # could pair a new segment's postings with a stale doclen table
    at = index.latest_version()
    if at is None:
        # no committed version yet (a concurrent first build may land
        # mid-stage): scan path — threading None through the reads would
        # re-resolve 'latest' per read and break the one-version pin
        return None
    if phrases and not index.ws_single_all(spark, at):
        return None  # some doc has non-single-space separators: scan path
    post = index.read_postings(spark, at)
    ltk = F.lower(F.col("tok"))
    any_hit = None
    flags = []
    markers: dict[tuple[str, bool], str] = {}
    for i, t in enumerate(bare):
        hit = ltk.contains(t)
        any_hit = hit if any_hit is None else (any_hit | hit)
        mk = f"__hql_ftx{i}"
        flags.append(F.max(F.when(hit, F.lit(True))).alias(mk))
        markers[(t, False)] = mk
    for i, (t, core) in enumerate(globs):
        hit = ltk.contains(core)
        any_hit = hit if any_hit is None else (any_hit | hit)
        mk = f"__hql_ftxg{i}"
        flags.append(F.max(F.when(hit, F.lit(True))).alias(mk))
        markers[(t, True)] = mk
    phrase_slots: list[tuple[str, list[str]]] = []
    for j, p in enumerate(phrases):
        words = p.split(" ")
        slots = []
        for i, w in enumerate(words):
            if i == 0:
                hit = ltk.endswith(w)
            elif i == len(words) - 1:
                hit = ltk.startswith(w)
            else:
                hit = ltk == w
            any_hit = hit if any_hit is None else (any_hit | hit)
            sc = f"__hql_ftxp{j}_{i}"
            slots.append(sc)
            flags.append(
                F.flatten(
                    F.coalesce(
                        F.collect_list(F.when(hit, F.col("pos"))),
                        F.array().cast("array<array<int>>"),
                    )
                ).alias(sc)
            )
        phrase_slots.append((p, slots))
    cand = post.filter(any_hit).groupBy("doc_id").agg(*flags)

    def _adjacency(slots: list[str]):
        # factory, not an inline lambda with a default arg: PySpark's
        # HOF bridge dispatches on the lambda's PARAMETER COUNT (a
        # 2-arg lambda becomes (element, index)), so the slot list must
        # ride a closure — the same arity trap text_index.py documents
        def occ_at(pos):
            return reduce(
                lambda a, b: a & b,
                [
                    F.array_contains(F.col(s), pos + i)
                    for i, s in enumerate(slots[1:], start=1)
                ],
            )

        return occ_at

    for j, (p, slots) in enumerate(phrase_slots):
        mk = f"__hql_ftxP{j}"
        occ = F.exists(F.col(slots[0]), _adjacency(slots))
        cand = cand.withColumn(mk, occ).drop(*slots)
        markers[(p, False)] = mk
    cand = cand.withColumnRenamed("doc_id", index.id_col)
    out = df.join(cand, on=index.id_col, how="left")
    null_col = None
    if _has_negated_free_text(node):
        # narrow (doc_id, …) artifact: non-null after the left join ⟺
        # the doc was ingested ⟺ its text was non-null (NULL text
        # tokenizes to no postings and no doc-length row)
        null_col = "__hql_ftx_indexed"
        ingested = (
            index.read_doclens(spark, at)
            .select(
                F.col("doc_id").alias(index.id_col),
                F.lit(True).alias(null_col),
            )
        )
        out = out.join(ingested, on=index.id_col, how="left")
    ctx = _FtxContext(index.text_col, markers, null_col=null_col)
    out = out.filter(_compile_filter(out, node, now, ftx=ctx))
    return out.select(*df.columns)


def _compile_filter(df: DataFrame, node, now=None, ftx=None) -> Column:
    if isinstance(node, And):
        col = _compile_filter(df, node.parts[0], now, ftx)
        for p in node.parts[1:]:
            col = col & _compile_filter(df, p, now, ftx)
        return col
    if isinstance(node, Or):
        col = _compile_filter(df, node.parts[0], now, ftx)
        for p in node.parts[1:]:
            col = col | _compile_filter(df, p, now, ftx)
        return col
    if isinstance(node, Not):
        return ~_compile_filter(df, node.inner, now, ftx)
    if isinstance(node, FreeText):
        if node.regex:
            # case-sensitive unanchored find, matching the field-regex
            # arm's semantics (rlike); NULL stays NULL (3-valued)
            cols = _string_cols(df)
            if not cols:
                return F.lit(False)
            cond = F.lit(False)
            for c in cols:
                cond = cond | F.col(c).rlike(node.term)
            return cond
        term = node.term.lower()
        if node.glob:
            # Humio's wildcard @rawstring search: ``*`` matches any run
            # (including empty), the match is substring-anchored like
            # plain free-text — an unanchored regex of the escaped
            # literal parts joined by ``.*``. NULL stays NULL (3-valued),
            # exactly as ``contains``.
            pat = ".*".join(re.escape(p) for p in term.split("*"))

            def _hit(c: Column) -> Column:
                return F.lower(c).rlike(pat)

        else:

            def _hit(c: Column) -> Column:
                return F.lower(c).contains(term)

        if ftx is not None and (term, node.glob) in ftx.markers:
            cond = F.coalesce(
                F.col(ftx.markers[(term, node.glob)]), F.lit(False)
            )
            if ftx.null_col is not None:
                # scan semantics on NULL text is NULL (3-valued), not
                # FALSE — ``not term`` must drop the row either way
                cond = F.when(
                    F.col(ftx.null_col).isNull(),
                    F.lit(None).cast("boolean"),
                ).otherwise(cond)
            for c in _string_cols(df):
                if c != ftx.text_col:
                    cond = cond | _hit(F.col(c))
            return cond
        cols = _string_cols(df)
        if not cols:
            return F.lit(False)
        cond = F.lit(False)
        for c in cols:
            cond = cond | _hit(F.col(c))
        return cond
    if isinstance(node, Cmp):
        c = F.col(node.field)
        if node.is_regex:
            hit = c.rlike(node.value)
            return hit if node.op == "=" else ~hit
        if isinstance(node.value, float):
            # try_cast, not cast: under ANSI mode a plain cast on a string
            # field with non-numeric values would crash the whole query;
            # Humio's semantics are "non-numeric never matches" (null
            # comparison → filtered out)
            num = c.try_cast("double")
            return {
                "=": num == node.value,
                "!=": num != node.value,
                "<": num < node.value,
                "<=": num <= node.value,
                ">": num > node.value,
                ">=": num >= node.value,
            }[node.op]
        if node.is_glob:
            hit = c.rlike(_glob_to_regex(node.value))
            if node.op not in ("=", "!="):
                raise HqlSyntaxError("glob match supports = / != only")
            return hit if node.op == "=" else ~hit
        if node.is_duration:
            # relative-time filter (Humio: `@timestamp > -1d` = "within
            # the last day"): the UNQUOTED duration literal is an offset
            # from the query anchor — negative into the past, positive
            # into the future. Quoted values stay literal strings (the
            # usual escape hatch). Compiles to a constant-foldable
            # timestamp comparison, so it pushes to the scan as a plain
            # range predicate — at 100 TB this is what makes "last hour
            # over a year of data" a partition-pruned read.
            neg = node.value.startswith("-")
            secs = _span_to_seconds(node.value.lstrip("-"))
            anchor = _now_column(now) + F.expr(
                f"INTERVAL {'-' if neg else ''}{secs} SECONDS"
            )
            return {
                "=": c == anchor,
                "!=": c != anchor,
                "<": c < anchor,
                "<=": c <= anchor,
                ">": c > anchor,
                ">=": c >= anchor,
            }[node.op]
        return {
            "=": c == node.value,
            "!=": c != node.value,
            "<": c < node.value,
            "<=": c <= node.value,
            ">": c > node.value,
            ">=": c >= node.value,
        }[node.op]
    raise HqlSyntaxError(f"cannot compile filter node {node!r}")


#: scalar functions allowed inside ``:=`` expressions — all JVM built-ins
_EVAL_FUNCS = {
    "length": lambda a: F.length(a[0]),
    "lower": lambda a: F.lower(a[0]),
    "upper": lambda a: F.upper(a[0]),
    "abs": lambda a: F.abs(a[0]),
    "round": lambda a: F.round(a[0], 0),  # 2-arg round is special-cased
    "floor": lambda a: F.floor(a[0]),
    "ceil": lambda a: F.ceil(a[0]),
    "sqrt": lambda a: F.sqrt(a[0]),
    "exp": lambda a: F.exp(a[0]),
    "log": lambda a: F.log(a[0]),
    "pow": lambda a: F.pow(a[0], a[1]),
    "coalesce": lambda a: F.coalesce(*a),
    # LogScale parseInt/number coercion: non-numeric -> null, never a crash
    "toNumber": lambda a: a[0].try_cast("double"),
    # Humio shannonEntropy(): the DGA/encoded-payload signal — pure
    # codegen HOF fold (functions/text.py), oracle-parity addition order
    "shannonEntropy": lambda a: __import__(
        "cses2humio_spark.functions.text", fromlist=["shannon_entropy"]
    ).shannon_entropy(a[0]),
    # IOC hashing (hash a field, match against indicator lists)
    "md5": lambda a: F.md5(a[0].cast("string")),
    "sha256": lambda a: F.sha2(a[0].cast("string"), 256),
    # worldMap cell key (LogScale geography surface): standard geohash
    # at precision 8, pure-codegen bit arithmetic (functions/geo.py)
    "geohash": lambda a: __import__(
        "cses2humio_spark.functions.geo", fromlist=["geohash_encode"]
    ).geohash_encode(a[0], a[1], 8),
    # registered for the parser's known-function check; the compiler
    # special-cases them (literal arguments)
    "formatTime": None,
    "substring": None,
}


def _compile_arith(node, df: DataFrame | None = None, now=None) -> Column:
    kind = node[0]
    if kind == "num":
        return F.lit(node[1])
    if kind == "str":
        return F.lit(node[1])
    if kind == "field":
        return F.col(node[1])
    if kind == "if":
        # if(cond, then, else): cond is a filter expression compiled with
        # the filter grammar — one CASE WHEN in codegen
        _, cond, then, els = node
        return F.when(
            _compile_filter(df, cond, now),
            _compile_arith(then, df, now),
        ).otherwise(_compile_arith(els, df, now))
    if kind == "call":
        _, name, arg_nodes = node
        args = [_compile_arith(a, df, now) for a in arg_nodes]
        if name == "round" and len(arg_nodes) > 1:
            if arg_nodes[1][0] != "num":
                raise HqlSyntaxError("round() scale must be a literal number")
            return F.round(args[0], int(arg_nodes[1][1]))
        if name == "substring":
            # substring(field, start, len) — 1-indexed, literal bounds
            if (
                len(arg_nodes) != 3
                or arg_nodes[1][0] != "num"
                or arg_nodes[2][0] != "num"
            ):
                raise HqlSyntaxError(
                    "substring(field, start, len) needs literal start/len"
                )
            return F.substring(
                args[0], int(arg_nodes[1][1]), int(arg_nodes[2][1])
            )
        if name == "formatTime":
            # formatTime("yyyy-MM-dd", field) — the pattern must be a
            # literal (it parameterizes the codegen'd date_format)
            if len(arg_nodes) != 2 or arg_nodes[0][0] != "str":
                raise HqlSyntaxError(
                    'formatTime("pattern", field) needs a literal pattern '
                    "and a field"
                )
            return F.date_format(args[1], arg_nodes[0][1])
        return _EVAL_FUNCS[name](args)
    _, op, left, right = node
    lc, rc = _compile_arith(left, df, now), _compile_arith(right, df, now)
    return {"+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc}[op]


def _approx_percentile_p(call: Call) -> float:
    """Validate approxPercentile's p= (percent units, exclusive 0..100);
    shared by the batch compiler and the materialized-search maintainer
    so both paths refuse the same misuse identically."""
    if "p" not in call.kwargs:
        raise HqlSyntaxError(
            "approxPercentile(field, p=...) needs an explicit percentile "
            "(percent units, e.g. p=95)"
        )
    p = float(call.kwargs["p"])
    if not 0.0 < p < 100.0:
        raise HqlSyntaxError(
            f"approxPercentile p must be in (0, 100), got {p}"
        )
    return p


def _agg_columns(call: Call) -> list[Column]:
    """One aggregate Call → named Columns (deterministic-float policy:
    sum/avg through exact DECIMAL(28,6); percentile exact-interpolated,
    rounded to 4 — one output column per requested percentile)."""
    name = call.name
    alias = call.kwargs.get("as")
    if name == "count":
        distinct = str(call.kwargs.get("distinct", "false")).lower() == "true"
        if distinct:
            if not call.args:
                raise HqlSyntaxError("count(distinct=true) needs a field")
            col = F.count_distinct(F.col(call.args[0]))
        else:
            col = (
                F.count(F.col(call.args[0]))
                if call.args
                else F.count(F.lit(1))
            )
        return [col.alias(alias or "_count")]
    if not call.args:
        raise HqlSyntaxError(f"{name}() needs a field argument")
    field = call.args[0]
    if name == "collect":
        # LogScale collect(): gather the group's values into one field.
        # Deliberate determinism deviation: the array is SORTED (and
        # distinct with distinct=true) — collect_list order is
        # partitioning-dependent, which would flake any reproducible
        # pipeline built on it.
        col = F.collect_list(F.col(field))
        if str(call.kwargs.get("distinct", "false")).lower() == "true":
            col = F.collect_set(F.col(field))
        return [F.array_sort(col).alias(alias or "_collect")]
    if name == "approxDistinct":
        # mergeable DataSketches HLL estimate — the same sketch the
        # materialized-search path maintains across micro-batches, so a
        # batch recompute and a maintained live table agree exactly
        return [
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(field).cast("string"))
            )
            .cast("bigint")
            .alias(alias or "_approxdistinct")
        ]
    if name == "percentile":
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", str(field)):
            raise HqlSyntaxError(f"bad percentile field {field!r}")
        ps = _as_list(call.kwargs.get("percentiles", [50]))
        # alias from the FULL value ('.'→'_'): percentiles=[99, 99.9] must
        # yield _p99 and _p99_9, not two colliding _p99 columns
        return [
            F.round(F.expr(f"percentile({field}, {float(p) / 100})"), 4)
            .alias("_p" + format(float(p), "g").replace(".", "_"))
            for p in ps
        ]
    if name == "approxPercentile":
        # mergeable DataSketches KLL estimate (percent units, like the
        # percentile() sibling) — the same sketch the materialized-search
        # path maintains across micro-batches, so a batch recompute and a
        # maintained live table agree exactly while the sketch stays in
        # exact mode (and within its ~1.65% rank error bound beyond)
        p = _approx_percentile_p(call)
        return [
            F.round(
                F.kll_sketch_get_quantile_double(
                    F.kll_sketch_agg_double(F.col(field).cast("double")),
                    F.lit(p / 100.0),
                ),
                4,
            ).alias(alias or "_ap" + format(p, "g").replace(".", "_"))
        ]
    target = F.col(field)
    if name == "sum":
        col = F.sum(target.cast("decimal(28,6)")).cast("double")
    elif name == "avg":
        col = F.sum(target.cast("decimal(28,6)")).cast("double") / F.count(
            target
        )
    elif name == "min":
        col = F.min(target)
    elif name == "max":
        col = F.max(target)
    elif name == "stddev":
        # sample stddev (LogScale stdDev) from EXACT decimal sufficient
        # statistics (engine determinism contract — F.stddev's merge
        # order is partitioning-dependent; sum/sum-of-squares over
        # DECIMAL(18,6) are integer-exact under any partitioning),
        # rounded to 4 as a second-moment statistic
        v = target.cast("decimal(18,6)")
        cnt = F.count(target)
        sv = F.sum(v).cast("double")
        svv = F.sum(v * v).cast("double")
        col = F.round(
            F.sqrt((svv - sv * sv / cnt) / (cnt - F.lit(1))), 4
        )
    else:
        raise HqlSyntaxError(f"unknown aggregate {name!r}")
    return [col.alias(alias or f"_{name}")]


def _agg_column(call: Call) -> Column:
    [col] = _agg_columns(call)
    return col


def _additive_agg_aliases(funcs: list[Call]) -> set[str]:
    """Output column names whose aggregate is ADDITIVE (count/sum): an
    empty bucket legitimately reads 0 for those. avg/min/max/stddev/
    percentile/collect have no value over zero rows — fabricating a 0
    observation there would be a wrong answer, so fills leave them NULL."""
    out: set[str] = set()
    for c in funcs:
        if c.name in ("count", "sum"):
            out.add(c.kwargs.get("as") or f"_{c.name}")
    return out


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _compile_case(df: DataFrame, node: CaseExpr, now=None) -> DataFrame:
    """First-match-wins conditional dispatch, pure codegen: per assigned
    field one CASE WHEN chain keyed on first-match conditions; events
    matching no clause are dropped (add ``* | ...`` to keep them)."""
    conds: list[Column] = []
    prior: Column = F.lit(False)
    has_wildcard = False
    for sel, _assigns in node.clauses:
        if sel is None:
            c = F.lit(True)
            has_wildcard = True
        else:
            # Coerce SQL three-valued logic to two-valued: a selector that
            # evaluates to NULL (e.g. `value > 90` on a NULL value) must
            # count as non-matching, not poison `prior` so later clauses
            # (including the `*` wildcard) evaluate to NULL too.
            c = F.coalesce(_compile_filter(df, sel, now), F.lit(False))
        conds.append(c & ~prior)  # first match wins
        prior = prior | c
    # assigned fields in first-seen order -> deterministic output schema
    fields: list[str] = []
    for _sel, assigns in node.clauses:
        for a in assigns:
            if a.name not in fields:
                fields.append(a.name)
    out_cols: dict[str, Column] = {}
    for f_name in fields:
        chain: Column | None = None
        for i, (_sel, assigns) in enumerate(node.clauses):
            expr = next(
                (_compile_arith(a.expr, df, now) for a in assigns if a.name == f_name),
                None,
            )
            if expr is None:
                continue
            chain = (
                F.when(conds[i], expr)
                if chain is None
                else chain.when(conds[i], expr)
            )
        # rows taken by a clause that does NOT assign this field keep the
        # pre-existing column value (or null if the field is new)
        if f_name in df.columns:
            chain = chain.otherwise(F.col(f_name))
        out_cols[f_name] = chain.alias(f_name)
    out = df
    for f_name, col in out_cols.items():
        out = out.withColumn(f_name, col)
    if not has_wildcard:
        out = out.filter(prior)
    return out


def _compile_stage(
    df: DataFrame,
    node,
    tables: dict[str, DataFrame] | None = None,
    now=None,
    root: DataFrame | None = None,
    text_index=None,
    ftx_strict: bool = True,
) -> DataFrame:
    tables = tables or {}
    if isinstance(node, (And, Or, Not, FreeText, Cmp)):
        if text_index is not None:
            routed = _route_free_text_stage(
                df, node, text_index, now, strict=ftx_strict
            )
            if routed is not None:
                return routed
        return df.filter(_compile_filter(df, node, now))
    if isinstance(node, Assign):
        return df.withColumn(node.name, _compile_arith(node.expr, df, now))
    if isinstance(node, CaseExpr):
        return _compile_case(df, node, now)
    if not isinstance(node, Call):
        raise HqlSyntaxError(f"cannot compile stage {node!r}")

    name = node.name
    if name in (
        "count", "sum", "avg", "min", "max", "stddev", "percentile",
        "approxPercentile", "approxDistinct", "collect",
    ):
        return df.agg(*_agg_columns(node))
    if name == "in":
        # LogScale in(): exact membership, plus WILDCARD values — an
        # UNQUOTED ``err*`` in the list (parsed as a tagged ``Glob``)
        # matches the whole field value with ``*`` as any-run, exactly
        # the ``field = err*`` comparison's anchored-glob semantics;
        # QUOTED values keep a literal star. ignoreCase= applies to
        # both arms (lowered value, lowered pattern parts).
        field = node.args[0] if node.args else node.kwargs.get("field")
        values = _as_list(node.kwargs.get("values", []))
        if field is None or not values:
            raise HqlSyntaxError("in(field, values=[...]) requires both")
        ic = str(node.kwargs.get("ignoreCase", "false")).lower() == "true"
        globs = [str(v) for v in values if isinstance(v, Glob)]
        exact = [v for v in values if not isinstance(v, Glob)]
        col = F.col(field)
        conds = []
        if exact:
            if ic:
                conds.append(
                    F.lower(col.cast("string")).isin(
                        *[str(v).lower() for v in exact]
                    )
                )
            else:
                conds.append(col.isin(*exact))
        for g in globs:
            pat = _glob_to_regex(g.lower() if ic else g)
            target = (
                F.lower(col.cast("string")) if ic else col.cast("string")
            )
            conds.append(target.rlike(pat))
        return df.filter(reduce(lambda a, b: a | b, conds))
    if name == "match":
        # Humio's match()/lookup enrichment: broadcast-join a named lookup
        # table on field=key; non-matching rows are DROPPED (strict
        # semantics, Humio default). The lookup side is broadcast — at
        # 100 TB this is the map-side dimension-enrichment shape.
        tname = node.args[0] if node.args else node.kwargs.get("table")
        field = node.kwargs.get("field")
        key = node.kwargs.get("key", field)
        if tname not in tables:
            raise HqlSyntaxError(
                f"match(): unknown table {tname!r} (available: "
                f"{', '.join(sorted(tables)) or 'none'})"
            )
        if field is None:
            raise HqlSyntaxError("match(table, field=...) requires field=")
        lk = tables[tname]
        return df.join(
            F.broadcast(lk), df[field] == lk[key], "inner"
        ).drop(lk[key])
    if name == "groupBy":
        fields = _as_list(node.args[0]) if node.args else []
        funcs = _as_list(node.kwargs.get("function", Call("count")))
        aggs = [col for c in funcs for col in _agg_columns(c)]
        out = df.groupBy(*[F.col(f) for f in fields]).agg(*aggs)
        if "limit" in node.kwargs:
            # LogScale's group cap (default 20k there; explicit here).
            # Deterministic selection: the FIRST N groups in group-key
            # order — TakeOrderedAndProject, so the cap also bounds the
            # result collection, not just the display. An unbounded
            # groupBy on a high-cardinality field at 100 TB is a
            # result-set explosion; the cap is the guardrail.
            lim = int(node.kwargs["limit"])
            if lim <= 0:
                raise HqlSyntaxError(f"groupBy limit must be > 0, got {lim}")
            out = out.orderBy(*[F.col(f).asc() for f in fields]).limit(lim)
        return out
    if name == "timechart":
        from cses2humio_spark.operators.aggregates import timechart

        span = _span_to_interval(node.kwargs.get("span", "1h"))
        # slide= -> sliding windows (each event lands in span/slide
        # buckets, expanded map-side); omitted -> tumbling
        slide = (
            _span_to_interval(node.kwargs["slide"])
            if "slide" in node.kwargs
            else None
        )
        dims = _as_list(node.kwargs["by"]) if "by" in node.kwargs else []
        funcs = _as_list(node.kwargs.get("function", Call("count")))
        aggs = [col for c in funcs for col in _agg_columns(c)]
        ts_col = node.kwargs.get("timefield", "ts")
        out = timechart(
            df, ts_col=ts_col, span=span, aggs=aggs, dims=dims, slide=slide
        )
        if str(node.kwargs.get("fill", "false")).lower() == "true":
            # Humio renders EMPTY buckets as zero; a bare GROUP BY drops
            # them. The spine is one sequence over the result's own
            # bucket bounds (tiny — one row per span of retention), the
            # aggregates left-join onto it and ZERO-fill. Dimensioned or
            # sliding fills are refused (a spine x dims cross product /
            # overlapping-window fill need explicit modeling, not a
            # silent guess).
            if dims or slide:
                raise HqlSyntaxError(
                    "timechart(fill=true) supports undimensioned tumbling "
                    "charts only"
                )
            step = _span_to_seconds(node.kwargs.get("span", "1h"))
            spine = out.agg(
                F.min("bucket_start").alias("__lo"),
                F.max("bucket_start").alias("__hi"),
            ).select(
                F.explode(
                    F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))
                ).alias("bucket_start")
            )
            agg_cols = [c for c in out.columns if c != "bucket_start"]
            # zero-fill ONLY additive aggregates; an empty bucket has no
            # average/min/percentile, so non-additive columns stay NULL
            additive = _additive_agg_aliases(funcs)
            out = spine.join(out, "bucket_start", "left").select(
                "bucket_start",
                *[
                    F.coalesce(F.col(c), F.lit(0)).alias(c)
                    if c in additive
                    else F.col(c)
                    for c in agg_cols
                ],
            )
        return out
    if name == "sort":
        fields = _as_list(node.args[0]) if node.args else []
        if not fields:
            raise HqlSyntaxError("sort(...) requires at least one field")
        # order= accepts one direction for all fields, or a per-field
        # list (LogScale: sort([a, b], order=[asc, desc]))
        orders = _as_list(node.kwargs.get("order", "desc"))
        if len(orders) == 1:
            orders = orders * len(fields)
        if len(orders) != len(fields):
            raise HqlSyntaxError(
                f"sort(): {len(fields)} fields but {len(orders)} order "
                "entries — give one direction, or one per field"
            )
        cols = []
        for f, o in zip(fields, orders):
            o = str(o).lower()
            if o not in ("asc", "desc"):
                raise HqlSyntaxError(f"sort order must be asc|desc, got {o!r}")
            cols.append(F.col(f).asc() if o == "asc" else F.col(f).desc())
        out = df.orderBy(*cols)
        if "limit" in node.kwargs:
            out = out.limit(int(node.kwargs["limit"]))
        return out
    if name == "head":
        n = int(node.args[0]) if node.args else int(node.kwargs.get("limit", 200))
        if "by" in node.kwargs:
            # grouped head (engine extension): the first N rows PER KEY
            # under order= — "latest 3 events per user". Compiles to a
            # rank window that Spark executes as WindowGroupLimit
            # (per-partition top-N heaps — never materializes a full
            # per-key sort at scale); include a unique tiebreak in
            # order= for determinism.
            by = _as_list(node.kwargs["by"])
            order = _as_list(node.kwargs.get("order", ["ts"]))
            direction = str(node.kwargs.get("dir", "desc")).lower()
            if direction not in ("asc", "desc"):
                raise HqlSyntaxError(f"head dir must be asc|desc, got {direction!r}")
            from pyspark.sql.window import Window as _W

            cols = [
                F.col(o).desc() if direction == "desc" else F.col(o).asc()
                for o in order
            ]
            w = _W.partitionBy(*[F.col(k) for k in by]).orderBy(*cols)
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= n)
                .drop("__rn")
            )
        return df.limit(n)
    if name == "top":
        fields = _as_list(node.args[0]) if node.args else []
        limit = int(node.kwargs.get("limit", 10))
        if "sum" in node.kwargs:
            metric = _agg_column(Call("sum", [node.kwargs["sum"]]))
            mname = "_sum"
        else:
            metric = _agg_column(Call("count"))
            mname = "_count"
        grouped = df.groupBy(*[F.col(f) for f in fields]).agg(metric)
        if str(node.kwargs.get("percent", "false")).lower() == "true":
            # Humio's top(percent=true): share of the TOTAL (all groups,
            # computed before the limit cut). The total is one broadcast
            # scalar row — never a single-partition global window, which
            # would serialize a high-cardinality group set at scale.
            total = grouped.agg(F.sum(mname).alias("__tot"))
            grouped = (
                grouped.crossJoin(F.broadcast(total))
                .withColumn(
                    "_percent",
                    F.round(F.col(mname) / F.col("__tot") * 100, 4),
                )
                .drop("__tot")
            )
        order = [F.col(mname).desc()] + [F.col(f).asc() for f in fields]
        return grouped.orderBy(*order).limit(limit)
    if name == "rare":
        # LogScale rare(): the ascending twin of top() — the LEAST
        # common values (anomaly hunting: what almost never happens).
        # Same TakeOrderedAndProject shape, inverted metric order; ties
        # break by group value ascending (determinism contract).
        fields = _as_list(node.args[0]) if node.args else []
        if not fields:
            raise HqlSyntaxError("rare(field | [f1, f2]) requires a field")
        limit = int(node.kwargs.get("limit", 10))
        grouped = df.groupBy(*[F.col(f) for f in fields]).agg(
            _agg_column(Call("count"))
        )
        order = [F.col("_count").asc()] + [F.col(f).asc() for f in fields]
        return grouped.orderBy(*order).limit(limit)
    if name == "fieldSummary":
        # LogScale fieldstats() analog: one profile row per column of
        # the CURRENT result — non-null count, exact distinct count,
        # min/max (rendered as strings so mixed types share the schema).
        # ONE aggregation job: every per-column stat is an aggregate in
        # a single global agg, unpivoted afterwards with stack (a free
        # narrow projection). limit= caps which columns are profiled.
        fields = _as_list(node.args[0]) if node.args else list(df.columns)
        missing = [f for f in fields if f not in df.columns]
        if missing:
            raise HqlSyntaxError(f"fieldSummary: unknown fields {missing}")
        aggs = []
        for i, f_name in enumerate(fields):
            c = F.col(f_name)
            aggs.append(F.count(c).alias(f"__n_{i}"))
            aggs.append(F.count_distinct(c).alias(f"__d_{i}"))
            aggs.append(F.min(c).cast("string").alias(f"__mn_{i}"))
            aggs.append(F.max(c).cast("string").alias(f"__mx_{i}"))
        one = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{f_name}', __n_{i}, __d_{i}, __mn_{i}, __mx_{i}"
            for i, f_name in enumerate(fields)
        )
        return one.selectExpr(
            f"stack({len(fields)}, {stack_args}) AS "
            "(field, n_nonnull, n_distinct, min_value, max_value)"
        )
    if name == "transpose":
        # LogScale transpose(): swap a SMALL result table's rows and
        # columns for dashboard rendering — each distinct value of
        # header= becomes a column; every other input column becomes one
        # output row (named in `field`). Cells are strings (mixed source
        # types share columns). EAGER by necessity: the output SCHEMA is
        # the header's value set, so the distinct headers are collected
        # at compile — bounded by limit= (default 20), refused loudly
        # beyond it. Intended for post-aggregate tables, mirroring
        # LogScale's own result-table cap; duplicate headers take the
        # MIN cell (never a partitioning-dependent first).
        header = node.kwargs.get("header")
        if header is None:
            raise HqlSyntaxError("transpose(header=field) requires header=")
        if header not in df.columns:
            raise HqlSyntaxError(
                f"transpose header {header!r} not in columns {df.columns}"
            )
        limit = int(node.kwargs.get("limit", 20))
        hdr_rows = (
            df.select(F.col(header).cast("string"))
            .distinct()
            .limit(limit + 1)
            .collect()
        )
        if len(hdr_rows) > limit:
            raise HqlSyntaxError(
                f"transpose: more than limit={limit} distinct values in "
                f"{header!r} — transpose is for small result tables; "
                "aggregate or raise limit="
            )
        hdr_vals = sorted(r[0] for r in hdr_rows if r[0] is not None)
        others = [c for c in df.columns if c != header]
        if not others:
            raise HqlSyntaxError("transpose: no columns besides the header")
        melted = None
        for c in others:
            part = df.select(
                F.lit(c).alias("field"),
                F.col(header).cast("string").alias("__h"),
                F.col(c).cast("string").alias("__v"),
            )
            melted = part if melted is None else melted.unionByName(part)
        return (
            melted.groupBy("field")
            .pivot("__h", hdr_vals)
            .agg(F.min("__v"))
            .orderBy("field")
        )
    if name in ("select", "table"):
        fields = _as_list(node.args[0]) if node.args else []
        return df.select(*[F.col(f) for f in fields])
    if name == "default":
        # Humio's default(): fill nulls of a field with a constant
        field = node.kwargs.get("field")
        if field is None or "value" not in node.kwargs:
            raise HqlSyntaxError("default(field=..., value=...) requires both")
        return df.withColumn(
            field, F.coalesce(F.col(field), F.lit(node.kwargs["value"]))
        )
    if name == "rename":
        field = node.kwargs.get("field")
        new = node.kwargs.get("as")
        if field is None or new is None:
            raise HqlSyntaxError("rename(field=..., as=...) requires both")
        return df.withColumnRenamed(field, new)
    if name == "drop":
        fields = _as_list(node.args[0]) if node.args else []
        if not fields:
            raise HqlSyntaxError("drop([...]) requires field names")
        return df.drop(*fields)
    if name == "watermark":
        # streaming event-time watermark: makes an HQL timechart runnable
        # in APPEND mode on a stream (bounded state, late data dropped
        # after the delay). A no-op semantic on batch frames.
        field = node.kwargs.get("field", "ts")
        delay = _span_to_seconds(node.kwargs.get("delay", "1h"))
        return df.withWatermark(field, f"{delay} seconds")
    if name == "sample":
        # DETERMINISTIC hash sample (deliberate deviation from Humio's
        # random sample()): keep a row iff the md5 bucket of its key
        # falls under the fraction — reproducible across runs/engines,
        # so sampled pipelines stay oracle-checkable. ``by`` names the
        # key column (sampling is then consistent per key).
        frac = float(node.args[0]) if node.args else float(
            node.kwargs.get("fraction", 0.1)
        )
        by = node.kwargs.get("by")
        if by is None:
            raise HqlSyntaxError("sample(fraction, by=key) requires by=")
        if not 0 < frac <= 1:
            raise HqlSyntaxError(f"sample fraction must be in (0, 1], got {frac}")
        buckets = 10_000
        keep = round(frac * buckets)
        if keep == 0:
            raise HqlSyntaxError(
                f"sample fraction {frac} is below the 1/{buckets} bucket "
                "resolution — it would silently keep zero rows"
            )
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.col(by).cast("string")), 1, 8), 16, 10)
            .cast("bigint"),
            F.lit(buckets),
        )
        return df.filter(bucket < keep)
    if name == "session":
        # Humio's session(): gap-based sessionization. Compiles to the
        # batch sessionize operator (lag + cumulative sum, one shuffle on
        # the series key). ``by`` is required here (the engine has no
        # implicit host/stream identity column).
        from cses2humio_spark.operators.windows import sessionize

        gap = _span_to_seconds(node.kwargs.get("maxpause", "15m"))
        by = _as_list(node.kwargs.get("by", []))
        if not by:
            raise HqlSyntaxError("session(...) requires by=<series key>")
        ts_col = node.kwargs.get("timefield", "ts")
        return sessionize(df, by, ts_col, gap)
    if name == "selfJoinFilter":
        # LogScale selfJoinFilter(): the two-pass same-field correlation
        # filter — keep every event whose join-key value has at least
        # one event matching EACH where clause ("emails with both a
        # from=peter event and a to=anders event"). LogScale documents
        # it as multiple passes over the data; the Spark shape is ONE
        # aggregation pass computing per-key match flags (map-side
        # partial aggs — a clause match collapses to one bit per key
        # before the shuffle) plus a semi-join of the frame against the
        # qualified keys: at 100 TB this shuffles (key, flags) rows
        # once, never a second corpus scan per clause. Null keys never
        # qualify (equi-semi-join semantics — same as LogScale's
        # field-must-exist rule).
        fields = _as_list(node.kwargs.get("field", []))
        wheres = _as_list(node.kwargs.get("where", []))
        if not fields or not wheres:
            raise HqlSyntaxError(
                "selfJoinFilter(field=[...], where=[{...}, ...]) "
                "requires both field= and where="
            )
        conds = []
        for sub in wheres:
            if not isinstance(sub, Subquery):
                raise HqlSyntaxError(
                    "selfJoinFilter where= entries must be {filter} "
                    "clauses"
                )
            c = None
            for st in sub.stages:
                if not isinstance(st, (And, Or, Not, FreeText, Cmp)):
                    raise HqlSyntaxError(
                        "selfJoinFilter where clauses must be pure "
                        "filters (aggregating stages cannot define a "
                        "per-event match)"
                    )
                cc = _compile_filter(df, st, now)
                c = cc if c is None else c & cc
            conds.append(c)
        flags = [
            F.max(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(
                f"__sjf{i}"
            )
            for i, c in enumerate(conds)
        ]
        qualified = df.groupBy(*[F.col(f) for f in fields]).agg(*flags)
        keep = F.lit(True)
        for i in range(len(conds)):
            keep = keep & (F.col(f"__sjf{i}") == 1)
        qualified = qualified.filter(keep).select(*fields)
        return df.join(qualified, on=fields, how="left_semi")
    if name == "series":
        # LogScale series(): the gap-tolerant per-key sequence builder —
        # split each series key's events into runs wherever the gap to
        # the previous event exceeds maxpause, then collect the selected
        # fields' values in event-time order into ONE row per run
        # (key, _run, _start, _end, _events, <field sequences>).
        # Run assignment is the same lag+cumsum shape as session();
        # sequences are sort_array(collect_list(struct(ts, value)))
        # folded to a separator-joined string — pure codegen, one
        # shuffle on the series key, and the shuffle carries only the
        # selected fields, never whole events. Determinism under tied
        # timestamps: the struct sort tie-breaks on the value itself,
        # and tied rows always land in the same run (their gap is 0
        # regardless of tie order). _start/_end are epoch seconds
        # (bigint) — the engine-wide cross-engine timestamp contract.
        fields = _as_list(node.args[0]) if node.args else []
        by = _as_list(node.kwargs.get("by", []))
        if not fields or not by:
            raise HqlSyntaxError(
                "series([fields], by=[keys], maxpause=...) requires "
                "the collected fields and by="
            )
        gap = _span_to_seconds(node.kwargs.get("maxpause", "15m"))
        ts_col = node.kwargs.get("timefield", "ts")
        sep = str(node.kwargs.get("separator", ";"))
        from pyspark.sql.window import Window as _W

        w = _W.partitionBy(*[F.col(k) for k in by]).orderBy(
            F.col(ts_col).asc()
        )
        tsec = F.col(ts_col).cast("timestamp").cast("long")
        prev = F.lag(tsec).over(w)
        newrun = F.when(
            prev.isNull() | ((tsec - prev) > F.lit(gap)), F.lit(1)
        ).otherwise(F.lit(0))
        runs = df.withColumn("__sr_new", newrun).withColumn(
            "__sr_id",
            F.sum("__sr_new").over(
                w.rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
        seqs = [
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(f).cast("string").alias("v"),
                            )
                        )
                    ),
                    lambda x: x["v"],
                ),
                sep,
            ).alias(f)
            for f in fields
        ]
        return (
            runs.groupBy(*[F.col(k) for k in by], F.col("__sr_id"))
            .agg(
                F.count(F.lit(1)).alias("_events"),
                F.min(tsec).alias("_start"),
                F.max(tsec).alias("_end"),
                *seqs,
            )
            .withColumn("_run", F.col("__sr_id").cast("int"))
            .drop("__sr_id")
        )
    if name == "dedup":
        # LogScale-style dedup: keep one row per key combo, chosen by the
        # ``order`` columns (default: latest by ts) — row_number window,
        # one shuffle on the dedup keys. Pass a unique tiebreak column in
        # order=[...] for a deterministic survivor.
        fields = _as_list(node.args[0]) if node.args else []
        if not fields:
            raise HqlSyntaxError("dedup(...) requires the key field(s)")
        order = _as_list(node.kwargs.get("order", ["ts"]))
        keep = str(node.kwargs.get("keep", "last")).lower()
        from cses2humio_spark.operators.dedup import dedup_exact_by_key

        cols = [
            F.col(f).desc() if keep == "last" else F.col(f).asc()
            for f in order
        ]
        return dedup_exact_by_key(df, fields, cols)
    if name == "parseJson":
        # Deliberate deviation from Humio: keys are EXPLICIT. Humio infers
        # the shape per event; at 100 TB schema inference is a full extra
        # scan, and get_json_object on named paths stays in codegen.
        target = node.args[0] if node.args else node.kwargs.get("field")
        keys = _as_list(node.kwargs.get("keys", []))
        if target is None or not keys:
            raise HqlSyntaxError("parseJson(field, keys=[...]) requires both")
        out = df
        for k in keys:
            out = out.withColumn(
                k.split(".")[-1], F.get_json_object(F.col(target), f"$.{k}")
            )
        return out
    if name == "kvParse":
        # LogScale kvParse(): split a raw `k=v k=v` line into fields.
        # Same deliberate deviation as parseJson: extracted KEYS are
        # EXPLICIT — inferring the key set per event at 100 TB is a full
        # extra scan, while element_at on named keys of one str_to_map
        # stays in codegen (common-subexpression eliminated across keys).
        target = node.args[0] if node.args else node.kwargs.get("field")
        keys = _as_list(node.kwargs.get("keys", []))
        if target is None or not keys:
            raise HqlSyntaxError("kvParse(field, keys=[...]) requires both")
        sep = str(node.kwargs.get("sep", " "))
        kvsep = str(node.kwargs.get("kvsep", "="))
        m = F.str_to_map(F.col(target), F.lit(sep), F.lit(kvsep))
        out = df
        for k in keys:
            out = out.withColumn(str(k), F.element_at(m, str(k)))
        return out
    if name == "parseUrl":
        # LogScale parseUrl(): decompose a URL column into component
        # fields via the JVM parse_url expression. parts= picks the
        # components (default scheme/host/path/query); param=[k, ...]
        # additionally extracts named query parameters as fields.
        target = node.args[0] if node.args else node.kwargs.get("field")
        if target is None:
            raise HqlSyntaxError("parseUrl(field) requires a field")
        part_of = {
            "scheme": "PROTOCOL", "host": "HOST", "path": "PATH",
            "query": "QUERY", "file": "FILE", "authority": "AUTHORITY",
            "fragment": "REF",
        }
        parts = [
            str(p)
            for p in _as_list(
                node.kwargs.get("parts", ["scheme", "host", "path", "query"])
            )
        ]
        bad = [p for p in parts if p not in part_of]
        if bad:
            raise HqlSyntaxError(
                f"parseUrl parts must be among {sorted(part_of)}, got {bad}"
            )
        out = df
        for p in parts:
            out = out.withColumn(
                p, F.parse_url(F.col(target), F.lit(part_of[p]))
            )
        for k in _as_list(node.kwargs.get("param", [])):
            out = out.withColumn(
                str(k),
                F.parse_url(F.col(target), F.lit("QUERY"), F.lit(str(k))),
            )
        return out
    if name == "parseCsv":
        # LogScale parseCsv(columns=[...]): recover positional fields
        # from a delimited line. Compiles to the JVM from_csv expression
        # (real CSV quoting, not split-and-pray); fields land as STRINGS,
        # matching LogScale — aggregates cast on use.
        target = node.args[0] if node.args else node.kwargs.get("field")
        columns = [str(c) for c in _as_list(node.kwargs.get("columns", []))]
        if target is None or not columns:
            raise HqlSyntaxError("parseCsv(field, columns=[...]) requires both")
        for c in columns:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c):
                raise HqlSyntaxError(f"bad parseCsv column name {c!r}")
        schema = ", ".join(f"{c} STRING" for c in columns)
        opts = {}
        if "sep" in node.kwargs:
            opts["sep"] = str(node.kwargs["sep"])
        parsed = F.from_csv(F.col(target), F.lit(schema), opts)
        out = df.withColumn("__csv", parsed)
        for c in columns:
            out = out.withColumn(c, F.col(f"__csv.{c}"))
        return out.drop("__csv")
    if name == "parseXml":
        # LogScale parseXml(): extract element text from an XML payload.
        # Explicit dotted element paths (same rationale as parseJson) —
        # each `a.b.c` compiles to xpath_string('/a/b/c/text()'), the
        # field name is the last segment. Elements only; attribute
        # extraction needs the typed from_xml surface (queries/logs.py).
        target = node.args[0] if node.args else node.kwargs.get("field")
        keys = [str(k) for k in _as_list(node.kwargs.get("keys", []))]
        if target is None or not keys:
            raise HqlSyntaxError("parseXml(field, keys=[...]) requires both")
        out = df
        for k in keys:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", k):
                raise HqlSyntaxError(f"bad parseXml path {k!r}")
            xpath = "/" + k.replace(".", "/") + "/text()"
            out = out.withColumn(
                k.split(".")[-1], F.xpath_string(F.col(target), F.lit(xpath))
            )
        return out
    if name == "parseCef":
        # ArcSight CEF — the SIEM interchange format the reference's
        # event domain lives in: `CEF:0|vendor|product|version|sigid|
        # name|severity|key=value key=value...`. Header fields become
        # cef_* columns (split on |, positions fixed by the spec); the
        # extension's keys are EXPLICIT (ext=[...], same rationale as
        # kvParse/parseJson). Pure codegen: one split + element_at
        # projections + one str_to_map for the extension.
        target = node.args[0] if node.args else node.kwargs.get("field")
        if target is None:
            raise HqlSyntaxError("parseCef(field) requires a field")
        ext_keys = [str(k) for k in _as_list(node.kwargs.get("ext", []))]
        parts = F.split(F.col(target), r"\|")
        out = df
        header = [
            ("cef_version", F.regexp_replace(parts[0], "^CEF:", "")),
            ("cef_vendor", parts[1]),
            ("cef_product", parts[2]),
            ("cef_device_version", parts[3]),
            ("cef_sig_id", parts[4]),
            ("cef_name", parts[5]),
            ("cef_severity", parts[6]),
        ]
        for cname, expr in header:
            out = out.withColumn(cname, expr)
        if ext_keys:
            ext = F.element_at(parts, 8)
            m = F.str_to_map(ext, F.lit(" "), F.lit("="))
            for k in ext_keys:
                out = out.withColumn(k, F.element_at(m, k))
        return out
    if name == "parseLeef":
        # IBM QRadar LEEF — CEF's sibling SIEM interchange format:
        # `LEEF:2.0|vendor|product|version|event_id|key=value<TAB>...`.
        # Header positions fixed by the spec; extension keys EXPLICIT
        # (tab-delimited k=v via str_to_map). Pure codegen.
        target = node.args[0] if node.args else node.kwargs.get("field")
        if target is None:
            raise HqlSyntaxError("parseLeef(field) requires a field")
        ext_keys = [str(k) for k in _as_list(node.kwargs.get("ext", []))]
        parts = F.split(F.col(target), r"\|")
        out = df
        for cname, expr in [
            ("leef_version", F.regexp_replace(parts[0], "^LEEF:", "")),
            ("leef_vendor", parts[1]),
            ("leef_product", parts[2]),
            ("leef_device_version", parts[3]),
            ("leef_event_id", parts[4]),
        ]:
            out = out.withColumn(cname, expr)
        if ext_keys:
            m = F.str_to_map(
                F.element_at(parts, 6), F.lit("\t"), F.lit("=")
            )
            for k in ext_keys:
                out = out.withColumn(k, F.element_at(m, k))
        return out
    if name == "cidr":
        # LogScale cidr(): FILTER events whose IPv4 field falls inside
        # any of the given subnets (negate=true inverts). Compiles to
        # the codegen'd prefix-compare in functions/net.py — no UDF, the
        # predicate pushes like any other filter.
        from cses2humio_spark.functions.net import cidr_match

        target = node.args[0] if node.args else node.kwargs.get("field")
        subnets = [str(s) for s in _as_list(node.kwargs.get("subnet", []))]
        if target is None or not subnets:
            raise HqlSyntaxError("cidr(field, subnet=...) requires both")
        cond = None
        for s in subnets:
            try:
                c = cidr_match(F.col(target), s)
            except ValueError as exc:
                raise HqlSyntaxError(str(exc)) from exc
            cond = c if cond is None else (cond | c)
        cond = F.coalesce(cond, F.lit(False))
        if str(node.kwargs.get("negate", "false")).lower() == "true":
            cond = ~cond
        return df.filter(cond)
    if name == "join":
        # LogScale join({subquery}, field=..., key=..., [mode=inner|left],
        # [table=name], [broadcast=true]): the subquery is an independent
        # pipeline over the ROOT frame (or a named table), joined on
        # field=key; the key column is dropped from the result (match()
        # convention). mode=left keeps unmatched primary rows with nulls.
        # The join stays a plain equi-join — Catalyst/AQE picks the
        # strategy; broadcast=true forces the hint for subqueries the
        # caller KNOWS are small (LogScale caps subquery results; an
        # unbounded subquery at 100 TB should shuffle, not broadcast).
        sub = node.args[0] if node.args else None
        if not isinstance(sub, Subquery):
            raise HqlSyntaxError(
                "join({subquery}, field=..., key=...) needs an embedded "
                "{ ... } pipeline as its first argument"
            )
        field = node.kwargs.get("field")
        key = node.kwargs.get("key", field)
        if field is None:
            raise HqlSyntaxError("join(...) requires field=")
        mode = str(node.kwargs.get("mode", "inner")).lower()
        if mode not in ("inner", "left", "anti", "semi"):
            raise HqlSyntaxError(
                f"join mode must be inner/left/semi/anti, got {mode!r}"
            )
        # LogScale's negated join (!join / "events with NO match in the
        # subquery") and its filter-only positive twin: semi/anti joins
        # keep only primary columns, so the key-rename/drop is moot
        if mode in ("anti", "semi"):
            mode = f"left_{mode}"
        tname = node.kwargs.get("table")
        if tname is not None:
            if tname not in tables:
                raise HqlSyntaxError(
                    f"join(): unknown table {tname!r} (available: "
                    f"{', '.join(sorted(tables)) or 'none'})"
                )
            sub_df = tables[tname]
        else:
            if root is None:
                raise HqlSyntaxError(
                    "join() subquery needs the pipeline root frame"
                )
            sub_df = root
        # the subquery over the ROOT frame is covered by the same
        # standing index (same rows, same id column), so its free-text
        # stages route too — non-strict, because a stage downstream of
        # an aggregation loses the id column and must fall back to the
        # scan rather than error. Named-table subqueries are NOT covered
        # by the index: never route. The subquery tracks its OWN disarm
        # flag (it runs over the pristine root frame): once one of its
        # stages rewrites the text column, its later stages fall back to
        # the scan path independently of the outer pipeline (ADVICE
        # r12). An outer-stage rewrite BEFORE the join disarms the whole
        # join stage including the subquery — conservative, since the
        # subquery's root is untouched, but a slower-correct plan.
        sub_idx = text_index if tname is None else None
        for st in sub.stages:
            sub_df = _compile_stage(
                sub_df, st, tables, now=now, root=root,
                text_index=sub_idx,
                ftx_strict=False,
            )
            if sub_idx is not None and not _stage_preserves_text_col(
                st, sub_idx.text_col, sub_idx.id_col
            ):
                sub_idx = None
        # the subquery usually shares lineage with the primary side (both
        # derive from the root frame) — rename its key to a fresh
        # attribute so the equi-condition is never an ambiguous self-join
        sub_df = sub_df.withColumnRenamed(key, "__hql_jk")
        if mode in ("inner", "left"):
            # LogScale include= picks which subquery fields ride along;
            # without it, keep only columns the subquery CREATED — a
            # non-aggregating subquery retains every root column, and
            # carrying duplicates of primary-side names would make every
            # downstream reference AMBIGUOUS_REFERENCE (or silently
            # resolve to one side).
            include = _as_list(node.kwargs.get("include", []))
            if include:
                missing = [c for c in include if c not in sub_df.columns]
                if missing:
                    raise HqlSyntaxError(
                        f"join include= fields not in subquery output: "
                        f"{missing}"
                    )
                clash = [c for c in include if c in df.columns and c != key]
                if clash:
                    raise HqlSyntaxError(
                        f"join include= fields {clash} collide with "
                        "primary-side columns; rename them in the "
                        "subquery (field := expr) first"
                    )
                sub_df = sub_df.select("__hql_jk", *include)
            else:
                keep = [
                    c for c in sub_df.columns
                    if c == "__hql_jk" or c not in df.columns
                ]
                sub_df = sub_df.select(*keep)
        if str(node.kwargs.get("broadcast", "false")).lower() == "true":
            sub_df = F.broadcast(sub_df)
        return df.join(
            sub_df, df[field] == sub_df["__hql_jk"], mode
        ).drop("__hql_jk")
    if name == "window":
        # LogScale window(): MOVING aggregate over the trailing n events
        # per series — batch semantics of the live sliding window. One
        # shuffle on the series key; the frame is rows-based, so the
        # order columns must include a unique tiebreak for determinism
        # (default [timefield, event_id]-style: pass order=[...]).
        from pyspark.sql.window import Window as _W

        funcs = _as_list(node.kwargs.get("function", []))
        by = _as_list(node.kwargs.get("by", []))
        if not funcs or not by:
            raise HqlSyntaxError(
                "window(function=[agg(field)], n=N | span=DUR, by=key) "
                "requires function= and by="
            )
        span = node.kwargs.get("span")
        if span is not None and "n" in node.kwargs:
            raise HqlSyntaxError(
                "window(): pass n= (trailing rows) OR span= (trailing "
                "time), not both"
            )
        if span is not None:
            # LogScale's default window mode: the trailing time span per
            # series. RANGE frame over epoch seconds [t-span+1, t] — a
            # range frame includes EVERY row tied on the order value, so
            # no tiebreak column is needed (strictly more deterministic
            # than the rows frame); one shuffle on the series key.
            secs = _span_to_seconds(str(span))
            tfield = node.kwargs.get("timefield", "ts")
            w = (
                _W.partitionBy(*[F.col(k) for k in by])
                .orderBy(
                    F.col(tfield).cast("timestamp").cast("long").asc()
                )
                .rangeBetween(-(secs - 1), 0)
            )
        else:
            n_rows = int(node.kwargs.get("n", 10))
            if n_rows < 1:
                raise HqlSyntaxError(
                    f"window n must be >= 1, got {n_rows}"
                )
            order = _as_list(node.kwargs.get("order", ["ts"]))
            w = (
                _W.partitionBy(*[F.col(k) for k in by])
                .orderBy(*[F.col(o).asc() for o in order])
                .rowsBetween(-(n_rows - 1), 0)
            )
        out = df
        for c in funcs:
            if not isinstance(c, Call):
                raise HqlSyntaxError("window function= entries must be aggs")
            fld = c.args[0] if c.args else None
            alias = c.kwargs.get("as") or f"_{c.name}"
            if c.name == "count":
                col = (
                    F.count(F.col(fld)) if fld else F.count(F.lit(1))
                ).over(w)
            elif fld is None:
                raise HqlSyntaxError(f"window {c.name}() needs a field")
            elif c.name == "sum":
                col = (
                    F.sum(F.col(fld).cast("decimal(28,6)"))
                    .over(w)
                    .cast("double")
                )
            elif c.name == "avg":
                col = F.sum(F.col(fld).cast("decimal(28,6)")).over(w).cast(
                    "double"
                ) / F.count(F.col(fld)).over(w)
            elif c.name == "min":
                col = F.min(F.col(fld)).over(w)
            elif c.name == "max":
                col = F.max(F.col(fld)).over(w)
            else:
                raise HqlSyntaxError(
                    f"window supports count/sum/avg/min/max, got {c.name!r}"
                )
            out = out.withColumn(alias, col)
        return out
    if name == "tail":
        # LogScale tail(): the LAST N events by event time. Deterministic
        # under ties via order=[...] (include a unique tiebreak);
        # compiles to TakeOrdered on the reversed order — no full sort.
        n_rows = (
            int(node.args[0]) if node.args else int(node.kwargs.get("limit", 200))
        )
        order = _as_list(node.kwargs.get("order", ["ts"]))
        picked = df.orderBy(*[F.col(o).desc() for o in order]).limit(n_rows)
        # emit ascending (LogScale presents tail in time order); the
        # final sort runs on <= n_rows rows
        return picked.orderBy(*[F.col(o).asc() for o in order])
    if name == "parseTimestamp":
        # LogScale parseTimestamp(): parse a string field into an event
        # timestamp with an explicit pattern (explicit, like parseJson —
        # inference would be a schema scan). try_to_timestamp semantics:
        # unparseable values -> null, never a crashed query.
        field = node.args[0] if node.args else node.kwargs.get("field")
        fmt = node.kwargs.get("format")
        if field is None or fmt is None:
            raise HqlSyntaxError(
                'parseTimestamp(field, format="...") requires both'
            )
        out_name = node.kwargs.get("as", field)
        return df.withColumn(
            out_name,
            F.try_to_timestamp(F.col(field), F.lit(str(fmt))),
        )
    if name == "bucket":
        # LogScale bucket(): discretize a field into fixed-width buckets,
        # adding ``_bucket``. A NUMBER span buckets numerically
        # (floor(v/span)*span); a DURATION span buckets a timestamp field
        # into epoch-second bucket starts (the timechart grid without the
        # aggregation). Pure codegen projection — no shuffle.
        field = node.kwargs.get("field", "ts")
        span = node.kwargs.get("span")
        if span is None:
            raise HqlSyntaxError("bucket(field=..., span=...) requires span=")
        if isinstance(span, (int, float)):
            if span <= 0:
                raise HqlSyntaxError(f"bucket span must be > 0, got {span}")
            b = F.floor(F.col(field) / F.lit(float(span))) * F.lit(float(span))
            return df.withColumn("_bucket", b)
        secs = _span_to_seconds(span)
        b = (
            F.floor(F.unix_timestamp(F.col(field)) / F.lit(secs)) * F.lit(secs)
        ).cast("bigint")
        return df.withColumn("_bucket", b)
    if name == "replace":
        # LogScale replace(regex, with=..., field=..., [as=...]) —
        # regexp_replace with $1-style backrefs, pure codegen
        pat = node.args[0] if node.args else node.kwargs.get("regex")
        repl = node.kwargs.get("with")
        field = node.kwargs.get("field")
        if pat is None or repl is None or field is None:
            raise HqlSyntaxError(
                "replace(regex, with=..., field=...) requires all three"
            )
        out_name = node.kwargs.get("as", field)
        return df.withColumn(
            out_name, F.regexp_replace(F.col(field), str(pat), str(repl))
        )
    if name == "concat":
        # LogScale concat([f1, f2], as=out): null/missing values
        # contribute the empty string (concat_ws semantics — matches
        # DuckDB concat(), so it stays oracle-checkable)
        fields = _as_list(node.args[0]) if node.args else []
        out_name = node.kwargs.get("as")
        if not fields or out_name is None:
            raise HqlSyntaxError("concat([fields], as=out) requires both")
        return df.withColumn(
            out_name, F.concat_ws("", *[F.col(f).cast("string") for f in fields])
        )
    if name == "format":
        # LogScale format("%s:%s", field=[a, b], as=out) — printf-style,
        # compiles to format_string (JVM codegen)
        fmt = node.args[0] if node.args else node.kwargs.get("format")
        fields = _as_list(node.kwargs.get("field", []))
        out_name = node.kwargs.get("as")
        if fmt is None or not fields or out_name is None:
            raise HqlSyntaxError(
                'format("fmt", field=[...], as=out) requires all three'
            )
        return df.withColumn(
            out_name, F.format_string(str(fmt), *[F.col(f) for f in fields])
        )
    if name == "splitString":
        # splitString(field=f, by=regex, [as=out]) -> array<string>
        field = node.args[0] if node.args else node.kwargs.get("field")
        by = node.kwargs.get("by")
        if field is None or by is None:
            raise HqlSyntaxError("splitString(field=..., by=...) requires both")
        out_name = node.kwargs.get("as", field)
        return df.withColumn(out_name, F.split(F.col(field), str(by)))
    if name == "split":
        # LogScale split(field): fan one event out to one event per array
        # element — element replaces the field, its position lands in
        # ``_index``. posexplode stays a narrow codegen stage (no shuffle);
        # at 100 TB the expansion cost is the output size, nothing else.
        field = node.args[0] if node.args else node.kwargs.get("field")
        if field is None:
            raise HqlSyntaxError("split(field) requires the array field")
        others = [c for c in df.columns if c != field]
        return df.select(
            *others,
            F.posexplode(F.col(field)).alias("_index", field),
        )
    if name == "regex":
        pat = node.args[0]
        target = node.kwargs.get("field")
        if target is None:
            raise HqlSyntaxError("regex(...) requires field=")
        # Spark's Java regex uses (?<name>...); normalize Python spelling
        jpat = pat.replace("(?P<", "(?<")
        out = df.filter(F.col(target).rlike(jpat))
        for g, i in _capture_group_numbers(jpat).items():
            out = out.withColumn(g, F.regexp_extract(F.col(target), jpat, i))
        return out
    raise HqlSyntaxError(f"unknown stage function {name!r}")


#: evals whose per-row CPU dominates the scan (per-character HOF folds,
#: cryptographic hashing) — a pipe containing one gets the same fan_out
#: treatment the Python-API operators apply before heavy map phases
_EXPENSIVE_EVALS = {"shannonEntropy", "md5", "sha256"}


def _arith_call_names(node, out: set) -> None:
    if not isinstance(node, tuple):
        return
    kind = node[0]
    if kind in ("num", "str", "field"):
        return
    if kind == "call":
        out.add(node[1])
        for a in node[2]:
            _arith_call_names(a, out)
        return
    if kind == "if":
        _arith_call_names(node[2], out)
        _arith_call_names(node[3], out)
        return
    if len(node) == 4:  # binary op
        _arith_call_names(node[2], out)
        _arith_call_names(node[3], out)


def _uses_expensive_eval(stages) -> bool:
    names: set[str] = set()

    def walk(st) -> None:
        if isinstance(st, Assign):
            _arith_call_names(st.expr, names)
        elif isinstance(st, CaseExpr):
            for _sel, assigns in st.clauses:
                for a in assigns:
                    _arith_call_names(a.expr, names)
        elif isinstance(st, Call):
            for v in list(st.args) + list(st.kwargs.values()):
                for x in (v if isinstance(v, list) else [v]):
                    if isinstance(x, Subquery):
                        for s2 in x.stages:
                            walk(s2)

    for st in stages:
        walk(st)
    return bool(names & _EXPENSIVE_EVALS)


def hql(
    df: DataFrame,
    query: str,
    tables: dict[str, DataFrame] | None = None,
    now: str | None = None,
    text_index: object | None = None,
) -> DataFrame:
    """Compile and apply an HQL pipe query to ``df``; returns the result
    DataFrame (lazily — nothing executes until an action). ``tables``
    names the lookup DataFrames the ``match(...)`` stage may reference.
    ``now`` pins the anchor for relative-time filters (``ts > -1d``) to a
    fixed timestamp string — pass it for reproducible pipelines and
    oracle checks; default is the engine's query-start clock.

    Pipes containing a CPU-expensive eval (``shannonEntropy``, ``md5``,
    ``sha256``) route the input through ``sources.catalog.fan_out``
    first: a small single-row-group file scans as ONE task locally,
    which would serialize the per-row fold on one core; at cluster
    scale the input already has enough splits and fan_out is a no-op.
    Filters still push — Catalyst moves predicates through the
    round-robin repartition.

    ``text_index`` (an ``operators.text_index.InvertedTextIndex`` whose
    postings cover ``df``'s rows by the index's id column) routes bare
    free-text terms through the STANDING index instead of substring-
    scanning the text column — Humio's production promise that a search
    hits an index, not the raw corpus (reference README.md:5-8). Output
    is row-identical to the scan path by construction (see
    ``_route_free_text_stage``). Quoted phrases route too when the
    index is positional and the corpus satisfies the single-space
    separator precondition the build records. Free-text inside
    ``join({...})`` subqueries over the ROOT frame routes through the
    same index (non-strict: a subquery stage that has lost the id
    column to an aggregation falls back to the scan instead of
    erroring); named-table subqueries and terms the index cannot
    answer fall back to the scan transparently. Routing DISARMS for
    every stage after one that reassigns, derives, or drops the indexed
    text column (``text := …``, ``select`` without it): the markers
    reflect the ingested corpus text, so a rewritten column must be
    substring-scanned, not index-answered (ADVICE r12)."""
    stages = parse(query)
    if _uses_expensive_eval(stages):
        from cses2humio_spark.sources.catalog import fan_out

        df = fan_out(df)
    out = df
    idx = text_index
    for stage in stages:
        out = _compile_stage(
            out, stage, tables or {}, now=now, root=df,
            text_index=idx,
        )
        if idx is not None and not _stage_preserves_text_col(
            stage, idx.text_col, idx.id_col
        ):
            # the frame's text column no longer matches the ingested
            # corpus text (reassigned/derived/dropped): the index's
            # markers would diverge from scan semantics, so every later
            # stage takes the always-correct scan path (ADVICE r12)
            idx = None
    return out
