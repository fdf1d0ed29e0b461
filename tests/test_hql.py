"""HQL front-end tests: parser units, compile-time equivalence against
hand-written DataFrame queries, Humio-semantics edge cases, and plan
contracts (the DSL must not cost anything — pushdown, partial agg and
TakeOrdered survive compilation). Oracle parity for the registered
hql_* queries runs in test_oracle_parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cses2humio_spark.hql import (
    And,
    Assign,
    Call,
    Cmp,
    FreeText,
    HqlSyntaxError,
    Not,
    Or,
    hql,
    parse,
)
from cses2humio_spark.sources.catalog import load_table
from tests.conftest import SF_ORACLE, SF_SMALL


# --- parser ---------------------------------------------------------------


def test_parse_filter_shapes():
    [f] = parse("event_type = error")
    assert f == Cmp("event_type", "=", "error")
    [f] = parse("#event_type != err*")
    assert f == Cmp("event_type", "!=", "err*", is_glob=True)
    [f] = parse("value >= 10.5")
    assert f == Cmp("value", ">=", 10.5)
    [f] = parse("props = /k.*9/")
    assert f == Cmp("props", "=", "k.*9", is_regex=True)


def test_parse_boolean_structure():
    [f] = parse('a = 1 and (b = 2 or not c = 3)')
    assert isinstance(f, And)
    assert isinstance(f.parts[1], Or)
    assert isinstance(f.parts[1].parts[1], Not)


def test_parse_implicit_and_is_humio_rule():
    [f] = parse("timeout error")
    assert f == And([FreeText("timeout"), FreeText("error")])


def test_parse_pipeline_and_assignment():
    stages = parse("value > 1 | x := value * 2 + 1 | count()")
    assert isinstance(stages[0], Cmp)
    assert isinstance(stages[1], Assign) and stages[1].name == "x"
    assert stages[2] == Call("count")


def test_parse_kwargs_lists_and_nested_calls():
    [c] = parse("groupBy([a, b], function=[count(), avg(v)])")
    assert c.args[0] == ["a", "b"]
    assert c.kwargs["function"][0] == Call("count")
    assert c.kwargs["function"][1] == Call("avg", ["v"])


def test_parse_division_is_not_regex():
    stages = parse("a := b / 2 | c := a / 4")
    assert all(isinstance(s, Assign) for s in stages)


def test_parse_errors_are_loud():
    for bad in ["| count()  |", "groupBy(", "a = ", "value > 1 | frobnicate(2)"]:
        with pytest.raises(HqlSyntaxError):
            parse(bad)


# --- compile equivalence --------------------------------------------------


def test_filter_equivalence(spark):
    ev = load_table(spark, SF_SMALL, "events")
    got = hql(ev, "event_type = error value > 50").count()
    want = ev.filter((F.col("event_type") == "error") & (F.col("value") > 50)).count()
    assert got == want > 0


def test_glob_and_regex_equivalence(spark):
    ev = load_table(spark, SF_SMALL, "events")
    assert (
        hql(ev, "event_type = s*").count()
        == ev.filter(F.col("event_type").startswith("s")).count()
    )
    assert (
        hql(ev, "event_type = /^(error|view)$/").count()
        == ev.filter(F.col("event_type").isin("error", "view")).count()
    )


def test_free_text_searches_all_string_columns(spark):
    ev = load_table(spark, SF_SMALL, "events")
    # '"k": 9' appears only in props — free text must still find it
    got = hql(ev, '"9}"').count()
    want = ev.filter(
        F.lower("event_type").contains("9}") | F.lower("props").contains("9}")
    ).count()
    assert got == want > 0


def test_not_and_or(spark):
    ev = load_table(spark, SF_SMALL, "events")
    got = hql(ev, "not event_type = error").count()
    assert got == ev.filter(F.col("event_type") != "error").count()
    got = hql(ev, "event_type = error or event_type = view").count()
    assert got == ev.filter(F.col("event_type").isin("error", "view")).count()


def test_numeric_comparison_casts(spark):
    ev = load_table(spark, SF_SMALL, "events")
    assert hql(ev, "value <= 10").count() == ev.filter(F.col("value") <= 10).count()


def test_head_and_select(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "head(7)")
    assert out.count() == 7
    out = hql(ev, "select([event_id, value])")
    assert out.columns == ["event_id", "value"]


def test_count_names_match_humio(spark):
    ev = load_table(spark, SF_SMALL, "events")
    assert hql(ev, "count()").columns == ["_count"]
    assert hql(ev, "count(as=hits)").columns == ["hits"]
    assert hql(ev, "groupBy(event_type)").columns == ["event_type", "_count"]


def test_regex_stage_drops_nonmatching_and_extracts(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, 'regex("\\"k\\": (?<knum>\\\\d\\\\d)", field=props)')
    rows = out.select("knum").distinct().collect()
    assert rows and all(len(r["knum"]) == 2 for r in rows)
    # every surviving row matched (two-digit k)
    assert out.filter(~F.col("props").rlike('"k": \\d\\d')).count() == 0


def test_timechart_by_dimension(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "timechart(span=1d, by=event_type)")
    assert set(out.columns) == {"bucket_start", "event_type", "_count"}
    total = out.agg(F.sum("_count")).collect()[0][0]
    assert total == ev.count()


def test_top_with_sum_metric(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "top(event_type, limit=3, sum=value)")
    assert out.columns == ["event_type", "_sum"]
    assert out.count() == 3


# --- plan contracts -------------------------------------------------------


def test_hql_filter_reaches_scan(spark):
    from cses2humio_spark.plans.explain import assert_pushed_filters

    ev = load_table(spark, SF_SMALL, "events")
    df = hql(ev, "#event_type = error | timechart(span=1h)")
    assert_pushed_filters(df, "EqualTo(event_type,error)")


def test_hql_groupby_partial_agg(spark):
    from cses2humio_spark.plans.explain import assert_partial_aggregation

    ev = load_table(spark, SF_SMALL, "events")
    assert_partial_aggregation(hql(ev, "err | groupBy(event_type)"))


def test_hql_sort_limit_is_take_ordered(spark):
    from cses2humio_spark.plans.explain import assert_take_ordered

    ev = load_table(spark, SF_SMALL, "events")
    df = hql(ev, "value > 90 | sort([value, event_id], limit=5)")
    assert_take_ordered(df)


def test_hql_no_udfs_anywhere(spark):
    """Every DSL construct must compile to JVM expressions — a Python UDF
    in the plan means the hot path left codegen."""
    from cses2humio_spark.plans.explain import formatted_plan

    ev = load_table(spark, SF_ORACLE, "events")
    df = hql(
        ev,
        'err | value > 1 | x := value / 3 '
        '| regex("(?<k>\\\\d+)", field=props) '
        "| groupBy([event_type, k], function=[count(), sum(x)])",
    )
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_eval_functions(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "plen := length(props) | lo := lower(event_type) | r := round(value, 1)")
    row = out.select("plen", "lo", "r", "props", "event_type", "value").first()
    assert row["plen"] == len(row["props"])
    assert row["lo"] == row["event_type"].lower()
    assert abs(row["r"] - round(row["value"], 1)) < 1e-9


def test_eval_unknown_function_is_loud():
    with pytest.raises(HqlSyntaxError):
        parse("x := frob(value)")


def test_parsejson_extracts_keys(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "parseJson(props, keys=[k])")
    assert "k" in out.columns
    assert out.filter(F.col("k").isNull()).count() == 0


def test_hql_applies_to_streams(spark, tmp_path):
    """The same HQL string must run on a STREAMING DataFrame — the
    alerting story: a saved search becomes a live windowed aggregation
    with no rewrite. availableNow over the parquet fixture; complete-mode
    memory sink; result must equal the batch run of the same query."""
    import shutil

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src_dir / "part-0.parquet")
    batch_df = spark.read.parquet(str(src_dir))
    sch = batch_df.schema
    stream = spark.readStream.schema(sch).parquet(str(src_dir))
    q_text = "#event_type = error | timechart(span=1d)"

    agg = hql(stream, q_text)
    q = (
        agg.writeStream.format("memory")
        .queryName("hql_stream_tc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["bucket_start"], r["_count"])
        for r in spark.sql("select * from hql_stream_tc").collect()
    }
    want = {
        (r["bucket_start"], r["_count"])
        for r in hql(batch_df, q_text).collect()
    }
    assert got == want and len(got) > 0


def test_session_stage_equals_operator(spark):
    from cses2humio_spark.operators.windows import sessionize

    ev = load_table(spark, SF_SMALL, "events")
    got = hql(ev, "session(maxpause=30m, by=user_id)")
    want = sessionize(ev, ["user_id"], "ts", 1800)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_session_requires_by():
    with pytest.raises(HqlSyntaxError):
        from cses2humio_spark.hql import parse, _compile_stage

        [stage] = parse("session(maxpause=30m)")
        _compile_stage(None, stage)


def test_dedup_keeps_one_per_key(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "dedup(user_id, order=[ts, event_id], keep=last)")
    assert out.count() == ev.select("user_id").distinct().count()
    # survivor is the max-ts row per user
    latest = ev.groupBy("user_id").agg(F.max("ts").alias("ts"))
    joined = out.join(latest, ["user_id", "ts"], "inner")
    assert joined.count() == out.count()


def test_dedup_keep_first(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "dedup(event_type, order=[ts, event_id], keep=first)")
    first = ev.groupBy("event_type").agg(F.min("ts").alias("ts"))
    assert out.join(first, ["event_type", "ts"]).count() == out.count()


def test_numeric_compare_on_nonnumeric_string_never_matches(spark):
    """ANSI-mode survival: a numeric comparison against a string field
    with non-numeric values must silently not-match (Humio semantics),
    not crash the query."""
    df = spark.createDataFrame(
        [("abc",), ("42",), ("7.5",)], ["v"]
    )
    got = {r["v"] for r in hql(df, "v > 10").collect()}
    assert got == {"42"}


def test_in_filter(spark):
    ev = load_table(spark, SF_SMALL, "events")
    got = hql(ev, "in(event_type, values=[error, view]) | count()").collect()
    want = ev.filter(F.col("event_type").isin("error", "view")).count()
    assert got[0]["_count"] == want


def test_match_unknown_table_is_loud(spark):
    ev = load_table(spark, SF_SMALL, "events")
    with pytest.raises(HqlSyntaxError):
        hql(ev, "match(nope, field=user_id)")


def test_match_broadcast_plan(spark):
    from cses2humio_spark.plans.explain import assert_broadcast_join

    orders = load_table(spark, SF_SMALL, "orders")
    customer = load_table(spark, SF_SMALL, "customer")
    df = hql(
        orders,
        "match(customer, field=o_custkey, key=c_custkey) | groupBy(c_mktsegment)",
        tables={"customer": customer},
    )
    assert_broadcast_join(df, at_least=1)


def test_percentile_agg_multi_columns(spark):
    orders = load_table(spark, SF_SMALL, "orders")
    out = hql(orders, "percentile(o_totalprice, percentiles=[25, 50, 75])")
    assert out.columns == ["_p25", "_p50", "_p75"]
    r = out.first()
    assert r["_p25"] <= r["_p50"] <= r["_p75"]


def test_percentile_fractional_aliases_do_not_collide(spark):
    """percentiles=[99, 99.9] must yield _p99 and _p99_9 — not two
    colliding _p99 columns that make downstream select/sort ambiguous."""
    orders = load_table(spark, SF_SMALL, "orders")
    out = hql(orders, "percentile(o_totalprice, percentiles=[99, 99.9])")
    assert out.columns == ["_p99", "_p99_9"]
    r = out.first()
    assert r["_p99"] <= r["_p99_9"]


def test_approx_percentile_tracks_exact_and_validates(spark):
    """approxPercentile (the mergeable KLL spelling the materialized
    search maintains) must track the exact percentile closely on a
    real column — KLL's rank error is ~1.65% at the default k, which on
    orders' price distribution is a small relative value error — and
    refuse a missing or out-of-range p."""
    import pytest as _pytest

    from cses2humio_spark.hql import HqlSyntaxError

    orders = load_table(spark, SF_SMALL, "orders")
    out = hql(
        orders,
        "groupBy(o_orderpriority, function=[approxPercentile(o_totalprice,"
        " p=95, as=ap), percentile(o_totalprice, percentiles=[95])])",
    )
    for r in out.collect():
        assert abs(r["ap"] - r["_p95"]) / r["_p95"] < 0.05, (
            r["o_orderpriority"], r["ap"], r["_p95"]
        )
    assert hql(
        orders, "approxPercentile(o_totalprice, p=99.9)"
    ).columns == ["_ap99_9"]
    with _pytest.raises(HqlSyntaxError, match="explicit percentile"):
        hql(orders, "approxPercentile(o_totalprice)")
    with _pytest.raises(HqlSyntaxError, match="in \\(0, 100\\)"):
        hql(orders, "approxPercentile(o_totalprice, p=0)")


def test_approx_percentile_composes_in_timechart_and_groupby(spark):
    """approxPercentile rides any function= list like its siblings; as a
    non-additive aggregate, dense-fill leaves empty buckets NULL (never
    a fabricated 0)."""
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "timechart(span=6h, function=[count(), "
        "approxPercentile(value, p=90, as=p90)])",
    )
    assert {"_count", "p90"} <= set(out.columns)
    rows = out.collect()
    assert rows
    for r in rows:
        if r["_count"] == 0:
            assert r["p90"] is None
        else:
            assert r["p90"] is not None


# --- parser property tests (hypothesis) -----------------------------------


try:
    from hypothesis import given, settings, strategies as st

    _ident = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True)
    _num = st.integers(min_value=-10_000, max_value=10_000)

    @st.composite
    def _filters(draw, depth=0):
        if depth >= 3 or draw(st.booleans()):
            kind = draw(st.sampled_from(["cmp", "free", "numcmp"]))
            if kind == "cmp":
                return f'{draw(_ident)} = {draw(_ident)}'
            if kind == "numcmp":
                op = draw(st.sampled_from(["<", "<=", ">", ">=", "!=", "="]))
                return f"{draw(_ident)} {op} {draw(_num)}"
            return f'"{draw(_ident)}"'
        a = draw(_filters(depth=depth + 1))
        b = draw(_filters(depth=depth + 1))
        comb = draw(st.sampled_from(["and", "or"]))
        neg = "not " if draw(st.booleans()) else ""
        return f"{neg}({a} {comb} {b})"

    @given(_filters())
    @settings(max_examples=200, deadline=None)
    def test_parser_total_on_generated_filters(q):
        """Any well-formed filter expression parses without hanging or
        crashing, and parsing is deterministic (same AST twice)."""
        assert parse(q) == parse(q)

    @given(
        st.lists(
            st.sampled_from(
                [
                    "count()",
                    "groupBy(a)",
                    "head(5)",
                    "x := y * 2",
                    "sort([a], limit=3)",
                    "f = v",
                    "top(a, limit=2)",
                ]
            ),
            min_size=1,
            max_size=6,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_parser_total_on_generated_pipelines(stages):
        q = " | ".join(stages)
        assert len(parse(q)) == len(stages)

    @given(st.text(max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_parser_never_hangs_on_garbage(s):
        """Arbitrary input either parses or raises HqlSyntaxError — never
        an unhandled exception type, never an infinite loop."""
        try:
            parse(s)
        except HqlSyntaxError:
            pass

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def test_query_cli_end_to_end(spark, capsys):
    """The console search runner: HQL string in, rows out (json format),
    match() lookups available for every catalog table."""
    from cses2humio_spark.query_cli import main

    rc = main(
        [
            "#event_type = error | count()",
            "--table",
            "events",
            "--sf-dir",
            SF_SMALL,
            "--format",
            "json",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    import json as _json

    [row] = [_json.loads(line) for line in out if line.startswith("{")]
    ev = load_table(spark, SF_SMALL, "events")
    assert row["_count"] == ev.filter(F.col("event_type") == "error").count()


def test_query_cli_rejects_bad_query_and_table(capsys):
    from cses2humio_spark.query_cli import main

    assert main(["frobnicate(1)", "--sf-dir", SF_SMALL]) == 2
    assert main(["count()", "--table", "nope", "--sf-dir", SF_SMALL]) == 2


def test_sample_is_deterministic_and_key_consistent(spark):
    ev = load_table(spark, SF_SMALL, "events")
    a = hql(ev, "sample(0.3, by=user_id)").count()
    b = hql(ev, "sample(0.3, by=user_id)").count()
    assert a == b > 0
    # per-key consistency: a user's rows are all in or all out
    kept_users = hql(ev, "sample(0.3, by=user_id)").select("user_id").distinct()
    total_rows_of_kept = ev.join(kept_users, "user_id", "left_semi").count()
    assert total_rows_of_kept == a


def test_watermark_enables_append_mode_stream(spark, tmp_path):
    """An HQL pipeline with a watermark stage runs in APPEND mode on a
    stream — bounded state, the production alerting shape."""
    import shutil

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src_dir / "p.parquet")
    sch = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(sch).parquet(str(src_dir)).withColumn(
        "ts", F.col("ts").cast("timestamp")  # events.ts ships as NTZ
    )
    agg = hql(
        stream,
        "#event_type = error | watermark(field=ts, delay=1h) "
        "| timechart(span=1d)",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hql_stream_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    # append emits only FINALIZED windows (all but the tail day)
    batch = hql(
        spark.read.parquet(str(src_dir)).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ),
        "#event_type = error | timechart(span=1d)",
    )
    n_total = batch.count()
    n_emitted = spark.sql("select * from hql_stream_append").count()
    assert 0 < n_emitted <= n_total


# --- regression tests for review findings ---------------------------------


def test_regex_unnamed_groups_dont_shift_named_extraction(spark):
    """A pattern mixing unnamed and named capture groups must extract the
    NAMED group's actual group number (review finding: positional
    numbering over named groups only silently extracted the wrong
    group)."""
    df = spark.createDataFrame([("foo 42",), ("bar 7",)], ["msg"])
    out = hql(df, 'regex("(foo|bar) (?<code>\\\\d+)", field=msg)')
    got = sorted(r["code"] for r in out.collect())
    assert got == ["42", "7"]


def test_scientific_notation_number():
    """'value > 1e5' is ONE numeric comparison, not (value > 1) AND
    free-text 'e5' (review finding)."""
    [f] = parse("value > 1e5")
    assert f == Cmp("value", ">", 1e5)


def test_quoted_star_is_literal_not_glob(spark):
    """Quoting is the escape hatch for matching a literal '*' (review
    finding: quoted values silently globbed)."""
    df = spark.createDataFrame([("a*b",), ("axxxb",)], ["v"])
    assert hql(df, 'v = "a*b"').count() == 1
    assert hql(df, "v = a*b").count() == 2  # unquoted still globs


class TestGlobFreeText:
    """Bare wildcard free-text (``err*`` with no field) — VERDICT r12 #2:
    previously a loud HqlSyntaxError; now Humio's glob-over-@rawstring
    semantics across every string column."""

    def test_scan_semantics_first_principles(self, spark):
        df = spark.createDataFrame(
            [
                (1, "an error occurred", "x"),
                (2, "errand boy", "x"),
                (3, "clean run", "err"),
                (4, None, "y"),
                (5, "e then r", "z"),
            ],
            "id int, msg string, tag string",
        )
        # edge-star glob == contains of the core, across ALL string cols
        assert {r.id for r in hql(df, "err*").collect()} == {1, 2, 3}
        assert {r.id for r in hql(df, "*err*").collect()} == {1, 2, 3}
        # middle star: ordered parts, the gap may span anything
        assert {r.id for r in hql(df, "e*then*r").collect()} == {5}
        # negation drops NULL rows (3-valued, like bare terms)
        assert {r.id for r in hql(df, "not err*").collect()} == {5}
        # quoted star stays literal — the escape hatch survives
        df2 = spark.createDataFrame([(1, "a*b"), (2, "axxb")], "id int, v string")
        assert {r.id for r in hql(df2, '"a*b"').collect()} == {1}
        assert {r.id for r in hql(df2, "a*b").collect()} == {1, 2}

    def test_glob_mixed_with_terms_and_case_wildcard_still_parse(self, spark):
        df = spark.createDataFrame(
            [(1, "spark shuffle", "en"), (2, "flink join", "de")],
            "id int, text string, lang string",
        )
        assert {r.id for r in hql(df, "spar* and lang = en").collect()} == {1}
        # the bare '*' stays the case-clause wildcard selector
        out = hql(df, "case { spar* | k := 1 ; * | k := 0 }").collect()
        assert {r.id: r.k for r in out} == {1: 1.0, 2: 0.0}

    @pytest.mark.parametrize(
        "q",
        [
            "spar* | groupBy(lang)",
            "*ark* | groupBy(lang)",
            "not spar* | groupBy(lang)",
            "spar* or join | groupBy(lang)",
            'spar* and "table scan" | groupBy(lang)',
            "de* | groupBy(lang)",  # also hits the lang column
        ],
    )
    def test_routed_glob_row_identical_to_scan(self, spark, q):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        idx = getattr(self, "_idx", None)
        if idx is None or idx[0] is not spark:
            import tempfile

            d = tempfile.mkdtemp(prefix="hql_glob_idx")
            ix = InvertedTextIndex(d, n_buckets=16, positional=True)
            ix.build(docs)
            type(self)._idx = (spark, ix)
        ix = type(self)._idx[1]
        routed = sorted(map(tuple, hql(docs, q, text_index=ix).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed

    def test_routed_glob_plan_never_reads_text(self, spark):
        from cses2humio_spark.operators.text_index import InvertedTextIndex
        import tempfile

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        d = tempfile.mkdtemp(prefix="hql_glob_plan")
        ix = InvertedTextIndex(d, n_buckets=16)
        ix.build(docs)
        out = hql(docs, "spar* | groupBy(lang)", text_index=ix)
        plan = out._jdf.queryExecution().executedPlan().toString()
        doc_scans = [
            ln for ln in plan.splitlines() if "documents.parquet" in ln
        ]
        assert doc_scans
        for ln in doc_scans:
            assert "text" not in ln.split("ReadSchema:")[-1], ln
        # a MIDDLE-star glob can span token boundaries: scan path
        out2 = hql(docs, "sp*rk | groupBy(lang)", text_index=ix)
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert any(
            "text" in ln.split("ReadSchema:")[-1]
            for ln in plan2.splitlines()
            if "documents.parquet" in ln
        ), plan2[:2000]
        assert sorted(map(tuple, out2.collect())) == sorted(
            map(tuple, hql(docs, "sp*rk | groupBy(lang)").collect())
        )

    def test_glob_and_quoted_literal_same_spelling_coexist(self, spark):
        """The marker key carries the glob flag: ``a*b`` (glob) and
        ``"a*b"`` (literal star) in ONE stage must compile to different
        predicates."""
        df = spark.createDataFrame(
            [(1, "a*b"), (2, "axxb"), (3, "zzz")], "id int, v string"
        )
        assert {r.id for r in hql(df, 'a*b and "a*b"').collect()} == {1}
        assert {r.id for r in hql(df, 'a*b or "a*b"').collect()} == {1, 2}

    def test_glob_null_negation_routed_matches_scan(self, spark, tmp_path):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = spark.createDataFrame(
            [(1, "alpha beta", "x"), (2, None, "y"), (3, "gamma", "z")],
            "doc_id int, text string, lang string",
        )
        ix = InvertedTextIndex(str(tmp_path / "gnull"), n_buckets=4)
        ix.build(docs)
        for q in ["not alph*", "alph*", "not (alph* or gam*)"]:
            routed = sorted(map(tuple, hql(docs, q, text_index=ix).collect()))
            scanned = sorted(map(tuple, hql(docs, q).collect()))
            assert routed == scanned, (q, routed, scanned)
        kept = hql(docs, "not alph*", text_index=ix).collect()
        assert {r.doc_id for r in kept} == {3}


class TestRegexFreeText:
    """Bare ``/regex/`` in filter position — Humio's regex @rawstring
    search over every string column, case-sensitive like the field-regex
    arm (bare-word free-text lowercases; regex does not)."""

    def test_scan_semantics_first_principles(self, spark):
        df = spark.createDataFrame(
            [
                (1, "an Error occurred", "x"),
                (2, "error again", "x"),
                (3, "clean run", "Err"),
                (4, None, "y"),
            ],
            "id int, msg string, tag string",
        )
        # case-sensitive: only the capitalized occurrences match
        assert {r.id for r in hql(df, "/Err/").collect()} == {1, 3}
        assert {r.id for r in hql(df, "/[Ee]rror/").collect()} == {1, 2}
        # negation drops NULL rows (3-valued)
        assert {r.id for r in hql(df, "not /Err/").collect()} == {2}
        # composes with terms and comparisons
        assert {r.id for r in hql(df, "/rror/ and tag = x").collect()} == {1, 2}

    def test_division_still_parses_in_assign(self, spark):
        df = spark.createDataFrame([(1, 10.0)], "id int, value double")
        out = hql(df, "half := value / 2").collect()
        assert out[0]["half"] == 5.0

    def test_regex_stage_never_routes_through_index(self, spark, tmp_path):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        ix = InvertedTextIndex(str(tmp_path / "rex"), n_buckets=4)
        ix.build(docs)
        q = "/spark/ | groupBy(lang)"
        routed = hql(docs, q, text_index=ix)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "seg=" not in plan, plan[:2000]  # scan path, no postings
        assert sorted(map(tuple, routed.collect())) == sorted(
            map(tuple, hql(docs, q).collect())
        )
        # a stage MIXING a regex with an indexable bare term also falls
        # back whole (markers must not partially answer the stage)
        q2 = "/spark/ or join | groupBy(lang)"
        routed2 = hql(docs, q2, text_index=ix)
        plan2 = routed2._jdf.queryExecution().executedPlan().toString()
        assert "seg=" not in plan2, plan2[:2000]
        assert sorted(map(tuple, routed2.collect())) == sorted(
            map(tuple, hql(docs, q2).collect())
        )


class TestRegexFlags:
    """``/pattern/flags``: the flags tail belongs to the regex literal and
    folds into an inline group (``i`` -> ``(?i)``), in field position and
    in free-text position alike."""

    def test_parse(self):
        [f] = parse("msg = /abc/i")
        assert f == Cmp("msg", "=", "(?i)abc", is_regex=True)
        [f] = parse("/abc/i")
        assert f == FreeText("(?i)abc", regex=True)
        [f] = parse("msg != /a.c/ms and x = 1")
        assert f.parts[0] == Cmp("msg", "!=", "(?ms)a.c", is_regex=True)
        # a space ends the literal: the next word is its own term
        [f] = parse("/abc/ i")
        assert f == And([FreeText("abc", regex=True), FreeText("i")])
        with pytest.raises(HqlSyntaxError, match="regex flag"):
            parse("msg = /abc/q")

    def test_case_insensitive_scan(self, spark):
        df = spark.createDataFrame(
            [(1, "an Error occurred"), (2, "ERROR"), (3, "clean"), (4, None)],
            "id int, msg string",
        )
        assert {r.id for r in hql(df, "/error/i").collect()} == {1, 2}
        assert {r.id for r in hql(df, "msg = /^error/i").collect()} == {2}
        assert {r.id for r in hql(df, "msg != /error/i").collect()} == {3}
        assert {r.id for r in hql(df, "/error/").collect()} == set()

    def test_scan_vs_index_parity(self, spark, tmp_path):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        ix = InvertedTextIndex(str(tmp_path / "flags"), n_buckets=4)
        ix.build(docs)
        want = docs.filter(F.lower("text").rlike("spark")).count()
        assert want > 0
        for q in ["/SPARK/i", "text = /SPARK/i", "/SPARK/i or join"]:
            routed = hql(docs, q, text_index=ix)
            scanned = hql(docs, q)
            assert sorted(map(tuple, routed.collect())) == sorted(
                map(tuple, scanned.collect())
            ), q
        assert hql(docs, "/SPARK/i", text_index=ix).count() == want


class TestInGlobValues:
    def test_glob_value_vs_quoted_literal(self, spark):
        df = spark.createDataFrame(
            [(1, "error"), (2, "errand"), (3, "err*"), (4, "purchase")],
            "id int, v string",
        )
        # unquoted err* globs (anchored, like field = err*)
        assert {r.id for r in hql(df, "in(v, values=[err*])").collect()} == {
            1, 2, 3
        }
        # quoted "err*" is the literal-star escape hatch
        assert {
            r.id for r in hql(df, 'in(v, values=["err*"])').collect()
        } == {3}
        # mixed exact + glob
        assert {
            r.id
            for r in hql(df, "in(v, values=[err*, purchase])").collect()
        } == {1, 2, 3, 4}

    def test_ignore_case_applies_to_globs(self, spark):
        df = spark.createDataFrame(
            [(1, "ERROR"), (2, "Errand"), (3, "ok")], "id int, v string"
        )
        q = "in(v, values=[err*], ignoreCase=true)"
        assert {r.id for r in hql(df, q).collect()} == {1, 2}
        assert hql(df, "in(v, values=[err*])").count() == 0

    def test_exact_only_unchanged(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        a = hql(ev, "in(event_type, values=[error, purchase])").count()
        b = ev.filter("event_type IN ('error','purchase')").count()
        assert a == b and a > 0


def test_sample_fraction_below_resolution_is_loud(spark):
    ev = load_table(spark, SF_SMALL, "events")
    with pytest.raises(HqlSyntaxError):
        hql(ev, "sample(0.00001, by=user_id)")


def test_regex_inline_flags_dont_shift_groups(spark):
    """Java inline flags / non-capturing constructs must not advance the
    capture-group numbering (second review round)."""
    df = spark.createDataFrame([("ERROR 42",), ("warn 7",)], ["msg"])
    out = hql(df, 'regex("(?i)(error|warn) (?<code>\\\\d+)", field=msg)')
    assert sorted(r["code"] for r in out.collect()) == ["42", "7"]


def test_generated_filters_compile_and_run(spark):
    """Beyond parsing: a corpus of generated filter expressions must
    COMPILE and EXECUTE against a real frame (catches Column-API misuse
    the parser tests can't see). Deterministic corpus — hypothesis's
    generator seeded per-run would make failures unreproducible here."""
    ev = load_table(spark, SF_SMALL, "events").limit(50).cache()
    try:
        fields = ["event_type", "user_id", "value", "props"]
        ops = ["=", "!=", "<", "<=", ">", ">="]
        corpus = []
        for i, f in enumerate(fields):
            for j, op in enumerate(ops):
                corpus.append(f"{f} {op} {(i * 7 + j) % 90}")
        corpus += [
            "event_type = err* and value > 1",
            'not (event_type = error or "9}")',
            "event_type = /e.+r/ | user_id >= 10 | count()",
            "value > 1e2 or value < -1e2",
            'props = "{\\"k\\": 9}"',
            "user_id = 3 user_id != 4 (value > 0 or value <= 0)",
            # round-4 constructs
            'case { event_type = error | s := "e" ; * | s := "o" } | groupBy(s)',
            'case { value > 50 | band := 1 ; value > 10 | band := 2 }',
            'replace("[0-9]+", with="N", field=props, as=r) | groupBy(r)',
            "concat([event_type, user_id], as=ck) | count(ck)",
            'format("%s/%d", field=[event_type, user_id], as=fk) | head(3)',
            'splitString(field=props, by=",", as=parts) | split(parts) | count()',
            "ts > -1d | count()",
            "ts < -30m or ts >= -2h | count()",
            'x := "lit" | y := length(x) | y > 1 | count()',
            # round-4 second wave
            'b := if(value > 50, "hi", "lo") | groupBy(b, limit=5)',
            "groupBy([event_type, user_id], limit=3)",
            "sort([event_type, value], order=[asc, desc], limit=4)",
            "window(function=[sum(value), count()], n=3, by=user_id, "
            "order=[ts, event_id]) | head(5)",
            "tail(5, order=[ts, event_id])",
            "stddev(value)",
            "bucket(field=value, span=7) | groupBy(_bucket)",
            "bucket(field=ts, span=6h) | count()",
            "join({value > 90 | groupBy(user_id, function=count(as=n))}, "
            "field=user_id, key=user_id, mode=left) | count()",
            'n := toNumber(props) | c := coalesce(n, value) | count(c)',
            'd := formatTime("HH", ts) | top(d, limit=3)',
        ]
        for q in corpus:
            hql(ev, q).count()  # must not raise
    finally:
        ev.unpersist()


def test_math_eval_functions(spark):
    import math

    ev = load_table(spark, SF_SMALL, "events").limit(5)
    row = hql(
        ev,
        "s := sqrt(value) | e := exp(1) | l := log(value) | p := pow(value, 2)",
    ).select("value", "s", "e", "l", "p").first()
    assert abs(row["s"] - math.sqrt(row["value"])) < 1e-9
    assert abs(row["e"] - math.e) < 1e-9
    assert abs(row["l"] - math.log(row["value"])) < 1e-9
    assert abs(row["p"] - row["value"] ** 2) < 1e-6


def test_default_rename_drop_stages(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], ["id", "tag"])
    out = hql(df, 'default(field=tag, value="none") | rename(field=tag, as=label) | drop([id])')
    assert out.columns == ["label"]
    assert sorted(r["label"] for r in out.collect()) == ["none", "x"]


# --- streaming HQL end-to-end ---------------------------------------------


def test_hql_timechart_runs_as_continuous_streaming_query(spark, tmp_path):
    """An HQL pipe with watermark + timechart must run sink-to-sink as a
    CONTINUOUS streaming query in APPEND mode: windows finalize once the
    watermark passes them and land in the sink exactly once, matching the
    batch twin on the closed windows. Closes the loop the reference
    delegates to Humio (README.md:70-94) entirely in-engine."""
    import os as _os

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [
        (i, "error" if i % 2 == 0 else "ok",
         f"2024-01-01 0{h}:15:00")
        for i, h in enumerate([0, 0, 1, 1, 1, 2, 3])
    ]
    rows2 = [(100, "error", "2024-01-03 02:00:00")]  # pushes watermark past day 1
    df1 = spark.createDataFrame(rows1, "event_id long, event_type string, ts_s string")
    df2 = spark.createDataFrame(rows2, "event_id long, event_type string, ts_s string")
    for n, d in (("a", df1), ("b", df2)):
        d.selectExpr(
            "event_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(str(src / n))
    # one batch per file, in pinned order (file source orders by mtime)
    files = sorted(str(p) for p in src.rglob("*.parquet"))
    assert len(files) == 2
    for i, f in enumerate(sorted(files, key=lambda p: "/a/" not in p)):
        _os.utime(f, (1_700_000_000 + i * 60,) * 2)

    pipe = (
        "#event_type = error | watermark(field=ts, delay=10m) "
        "| timechart(span=1h)"
    )
    sch = "event_id long, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = hql(stream, pipe)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("hql_tc_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.bucket_start: r._count
        for r in spark.sql("SELECT * FROM hql_tc_stream").collect()
    }
    # batch twin on the same data, restricted to windows the watermark
    # closed (everything strictly before the last event's hour)
    batch = spark.read.schema(sch).parquet(str(src / "*"))
    want = {
        r.bucket_start: r._count
        for r in hql(batch, "#event_type = error | timechart(span=1h)").collect()
        if r.bucket_start < 1704240000  # 2024-01-03 00:00:00 UTC
    }
    assert want  # day-1 error windows exist
    assert got == want


def test_hql_alert_rule_on_same_stream(spark, tmp_path):
    """An HQL saved search attached to the SAME file stream via the alert
    engine: the rule's pipe (filter | timechart) is evaluated per
    micro-batch and fires with the batch's matching-window count."""
    import shutil

    from cses2humio_spark.streaming.alerts import AlertRule, run_alert_rules

    src = tmp_path / "asrc"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "p.parquet")
    sch = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(sch).parquet(str(src))
    rules = [
        AlertRule(
            "error_windows",
            "#event_type = error | timechart(span=1h)",
            min_rows=1,
        )
    ]
    got: list[dict] = []
    q = run_alert_rules(
        stream, rules, on_alerts=got.extend,
        checkpoint_dir=str(tmp_path / "ackpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    [rec] = got
    n_windows = (
        hql(spark.read.parquet(str(src)),
            "#event_type = error | timechart(span=1h)").count()
    )
    assert rec["rule"] == "error_windows" and rec["observed"] == n_windows


# --- round-4 constructs: case / replace / concat / format / split / time --


def test_case_multi_clause_first_match_wins(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        'case { event_type = error | sev := "high" ; '
        'value > 90 | sev := "elevated" ; '
        '* | sev := "normal" } | groupBy(sev)',
    )
    got = {r["sev"]: r["_count"] for r in out.collect()}
    want_high = ev.filter(F.col("event_type") == "error").count()
    want_elev = ev.filter(
        (F.col("event_type") != "error") & (F.col("value") > 90)
    ).count()
    assert got["high"] == want_high
    assert got["elevated"] == want_elev
    assert sum(got.values()) == ev.count()  # wildcard keeps everything


def test_case_without_wildcard_drops_nonmatching(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, 'case { event_type = error | sev := "high" }')
    assert out.count() == ev.filter(F.col("event_type") == "error").count()
    assert out.select("sev").distinct().collect()[0]["sev"] == "high"


def test_case_preserves_existing_field_on_unassigned_clause(spark):
    ev = load_table(spark, SF_SMALL, "events")
    # clause 2 assigns only 'other' -> 'event_type' keeps its original
    # value for rows taken by clause 2
    out = hql(
        ev,
        'case { event_type = error | event_type := "ERR" ; * | other := 1 }',
    )
    kinds = {r["event_type"] for r in out.select("event_type").distinct().collect()}
    assert "ERR" in kinds and "error" not in kinds
    assert out.count() == ev.count()


def test_case_parse_errors_are_loud():
    for bad in [
        "case { }",
        "case { event_type = error }",  # no assignment pipeline
        "case { * | x := 1 ",  # unclosed brace
    ]:
        with pytest.raises(HqlSyntaxError):
            parse(bad)


def test_replace_stage(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, 'replace("[0-9]", with="#", field=props, as=red)')
    row = out.select("props", "red").first()
    import re as _re

    assert row["red"] == _re.sub(r"[0-9]", "#", row["props"])


def test_concat_and_format_stages(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "concat([event_type, user_id], as=ck) "
        '| format("%s#%04d", field=[event_type, user_id], as=fk)',
    )
    r = out.select("event_type", "user_id", "ck", "fk").first()
    assert r["ck"] == f"{r['event_type']}{r['user_id']}"
    assert r["fk"] == f"{r['event_type']}#{r['user_id']:04d}"


def test_split_string_then_split_explodes_rows(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    out = hql(
        docs,
        'splitString(field=text, by="\\\\s+", as=tok) | split(tok)',
    )
    n_tokens = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+"))).count()
    )
    # trim() differences: HQL splitString doesn't trim; documents text has
    # no leading/trailing whitespace in the fixture, so counts match
    assert out.count() == n_tokens
    assert "_index" in out.columns
    first = out.filter(F.col("_index") == 0).count()
    assert first == docs.count()  # every doc contributes an element 0


def test_relative_time_filter_with_pinned_anchor(spark):
    ev = load_table(spark, SF_SMALL, "events")
    anchor = "2024-01-31 00:00:00"
    got = hql(ev, "ts > -7d", now=anchor).count()
    want = ev.filter(
        F.col("ts") > F.lit("2024-01-24 00:00:00").cast("timestamp")
    ).count()
    assert got == want > 0
    # quoted duration stays a literal string comparison (escape hatch)
    assert hql(ev, 'event_type = "-7d"').count() == 0


def test_relative_time_filter_live_anchor_runs(spark):
    # default anchor = query-start now(): all 2024 data is in the past, so
    # "within the last day" matches nothing and "older than 1 day" is all
    ev = load_table(spark, SF_SMALL, "events")
    assert hql(ev, "ts > -1d").count() == 0
    assert hql(ev, "ts < -1d").count() == ev.count()


def test_string_literals_in_assignment(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, 'tag := "fixed"')
    assert out.select("tag").first()["tag"] == "fixed"


def test_stddev_aggregate_matches_exact_moments(spark):
    import math

    ev = load_table(spark, SF_SMALL, "events")
    got = hql(ev, "stddev(value)").first()["_stddev"]
    vals = [r["value"] for r in ev.select("value").collect()]
    mu = sum(vals) / len(vals)
    want = math.sqrt(sum((v - mu) ** 2 for v in vals) / (len(vals) - 1))
    assert abs(got - want) < 1e-3


def test_bucket_numeric_and_time_spans(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "bucket(field=value, span=25)")
    r = out.select("value", "_bucket").first()
    assert r["_bucket"] == (r["value"] // 25) * 25
    out_t = hql(ev, "bucket(field=ts, span=1d)")
    rt = out_t.select("ts", "_bucket").first()
    assert rt["_bucket"] % 86400 == 0
    with pytest.raises(HqlSyntaxError):
        hql(ev, "bucket(field=value)")  # span required
    with pytest.raises(HqlSyntaxError):
        hql(ev, "bucket(field=value, span=0)")


def test_coalesce_tonumber_formattime_evals(spark):
    df = spark.createDataFrame(
        [("42", None), ("abc", 7.0)], "s string, x double"
    )
    out = hql(df, 'n := toNumber(s) | c := coalesce(x, n, 0)')
    rows = {r["s"]: (r["n"], r["c"]) for r in out.collect()}
    assert rows["42"] == (42.0, 42.0)   # x null -> falls to toNumber(s)
    assert rows["abc"] == (None, 7.0)   # non-numeric -> null; x wins
    ev = load_table(spark, SF_SMALL, "events").limit(3)
    r = hql(ev, 'd := formatTime("yyyy-MM-dd", ts)').select("ts", "d").first()
    assert r["d"] == r["ts"].strftime("%Y-%m-%d")
    with pytest.raises(HqlSyntaxError):
        hql(ev, "x := formatTime(ts)")  # pattern must be a literal


def test_join_subquery_against_root(spark):
    """join({subquery}) — the subquery pipeline runs against the ROOT
    frame (LogScale's independent-search semantics), equi-joined back."""
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "event_type = purchase "
        "| join({event_type = error "
        "| groupBy(user_id, function=count(as=err_n))}, "
        "field=user_id, key=user_id) "
        "| top(user_id, limit=5)",
    )
    err_users = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "error")
        .select("user_id").distinct().collect()
    }
    want = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isin(list(err_users))
        )
        .groupBy("user_id").count()
        .orderBy(F.col("count").desc(), F.col("user_id").asc())
        .limit(5)
        .collect()
    )
    got = out.collect()
    assert [(r["user_id"], r["_count"]) for r in got] == [
        (r["user_id"], r["count"]) for r in want
    ]


def test_join_left_mode_and_named_table(spark):
    orders = load_table(spark, SF_SMALL, "orders")
    customer = load_table(spark, SF_SMALL, "customer")
    out = hql(
        orders,
        "join({in(c_mktsegment, values=[BUILDING]) "
        "| select([c_custkey, c_mktsegment])}, "
        "field=o_custkey, key=c_custkey, mode=left, table=customer) "
        "| count(c_mktsegment)",
        tables={"customer": customer},
    )
    n_building_orders = (
        orders.join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            orders["o_custkey"] == customer["c_custkey"],
            "left_semi",
        ).count()
    )
    assert out.first()["_count"] == n_building_orders
    # left mode keeps every primary row
    out_all = hql(
        orders,
        "join({select([c_custkey, c_mktsegment])}, field=o_custkey, "
        "key=c_custkey, mode=left, table=customer) | count()",
        tables={"customer": customer},
    )
    assert out_all.first()["_count"] == orders.count()


def test_join_parse_and_config_errors(spark):
    ev = load_table(spark, SF_SMALL, "events")
    with pytest.raises(HqlSyntaxError):
        hql(ev, "join(field=user_id)")  # no subquery
    with pytest.raises(HqlSyntaxError):
        hql(ev, "join({count()}, field=user_id, mode=full)")  # bad mode
    with pytest.raises(HqlSyntaxError):
        hql(ev, "join({count()}, field=u, table=nope)")  # unknown table


def test_if_eval_function(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        'band := if(value > 90, "hot", "cold") '
        "| bonus := if(event_type = error and value > 50, value * 2, 0)",
    )
    for r in out.select("value", "event_type", "band", "bonus").take(50):
        assert r["band"] == ("hot" if r["value"] > 90 else "cold")
        want = (
            r["value"] * 2
            if r["event_type"] == "error" and r["value"] > 50
            else 0
        )
        assert abs(r["bonus"] - want) < 1e-9


def test_if_nested_in_arith(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "x := if(value > 50, 1, 0) + if(value > 90, 1, 0)")
    for r in out.select("value", "x").take(50):
        assert r["x"] == (1 if r["value"] > 50 else 0) + (
            1 if r["value"] > 90 else 0
        )


def test_groupby_limit_caps_groups_deterministically(spark):
    """groupBy(limit=N): first N groups in key order — the LogScale
    group-cap guardrail, compiled to TakeOrderedAndProject."""
    from cses2humio_spark.plans.explain import assert_take_ordered

    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "groupBy(user_id, limit=10)")
    rows = out.collect()
    want = sorted(
        r["user_id"] for r in ev.select("user_id").distinct().collect()
    )[:10]
    assert sorted(r["user_id"] for r in rows) == want
    assert_take_ordered(out)
    with pytest.raises(HqlSyntaxError):
        hql(ev, "groupBy(user_id, limit=0)")


def test_sort_per_field_order_list(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "sort([event_type, value], order=[asc, desc], limit=5) "
        "| select([event_type, value])",
    ).collect()
    want = (
        ev.orderBy(F.col("event_type").asc(), F.col("value").desc())
        .select("event_type", "value")
        .limit(5)
        .collect()
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in want]
    with pytest.raises(HqlSyntaxError):
        hql(ev, "sort([a, b, c], order=[asc, desc])")
    with pytest.raises(HqlSyntaxError):
        hql(ev, "sort([value], order=sideways)")


def test_window_moving_aggregate(spark):
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "window(function=[avg(value), count()], n=5, by=user_id, "
        "order=[ts, event_id])",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    want = ev.withColumn(
        "want_avg",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
        / F.count("value").over(w),
    ).withColumn("want_n", F.count(F.lit(1)).over(w))
    joined = out.join(
        want.select("event_id", "want_avg", "want_n"), "event_id"
    )
    bad = joined.filter(
        (F.abs(F.col("_avg") - F.col("want_avg")) > 1e-9)
        | (F.col("_count") != F.col("want_n"))
    ).count()
    assert bad == 0
    assert out.count() == ev.count()
    with pytest.raises(HqlSyntaxError):
        hql(ev, "window(n=5, by=user_id)")  # function required
    with pytest.raises(HqlSyntaxError):
        hql(ev, "window(function=[avg(value)], n=0, by=user_id)")


def test_tail_last_n_in_time_order(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(ev, "tail(7, order=[ts, event_id])").collect()
    want = (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(7)
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .collect()
    )
    assert [r["event_id"] for r in out] == [r["event_id"] for r in want]
    assert len(out) == 7


def test_collect_aggregate_is_sorted_deterministic(spark):
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "groupBy(event_type, function=[collect(user_id, distinct=true)])",
    )
    row = {r["event_type"]: r["_collect"] for r in out.collect()}
    for et, arr in row.items():
        want = sorted(
            r["user_id"]
            for r in ev.filter(F.col("event_type") == et)
            .select("user_id").distinct().collect()
        )
        assert arr == want


def test_parse_timestamp_stage(spark):
    df = spark.createDataFrame(
        [("2024-03-01 10:30:00",), ("garbage",)], ["raw"]
    )
    out = hql(
        df, 'parseTimestamp(raw, format="yyyy-MM-dd HH:mm:ss", as=ts)'
    ).collect()
    vals = {r["raw"]: r["ts"] for r in out}
    assert vals["2024-03-01 10:30:00"] is not None
    assert vals["garbage"] is None  # unparseable -> null, not a crash
    with pytest.raises(HqlSyntaxError):
        hql(df, "parseTimestamp(raw)")  # format required


def test_shannon_entropy_eval(spark):
    from cses2humio_spark.functions.text import shannon_entropy

    ev = load_table(spark, SF_SMALL, "events").limit(20)
    got = hql(ev, "e := shannonEntropy(props)").select("props", "e").collect()
    want = {
        r["props"]: r["w"]
        for r in ev.select(
            "props", shannon_entropy(F.col("props")).alias("w")
        ).collect()
    }
    for r in got:
        assert abs(r["e"] - want[r["props"]]) < 1e-12


def test_hash_and_substring_evals(spark):
    import hashlib

    ev = load_table(spark, SF_SMALL, "events").limit(10)
    out = hql(
        ev,
        "h := md5(props) | s := sha256(props) | p := substring(h, 1, 8)",
    ).select("props", "h", "s", "p").collect()
    for r in out:
        assert r["h"] == hashlib.md5(r["props"].encode()).hexdigest()
        assert r["s"] == hashlib.sha256(r["props"].encode()).hexdigest()
        assert r["p"] == r["h"][:8]
    with pytest.raises(HqlSyntaxError):
        hql(ev, "x := substring(props, 1)")  # needs 3 args


def test_match_with_csv_lookup_file(spark, tmp_path):
    """Humio lookup-file flow: a header CSV loaded all-string, wired into
    match() — the stringly join still matches typed event fields via the
    compiler's comparison semantics (field == string value)."""
    from cses2humio_spark.sources.catalog import load_lookup_csv

    p = tmp_path / "severity.csv"
    p.write_text("event_type,severity\nerror,high\nsignup,low\n")
    lk = load_lookup_csv(spark, str(p))
    assert dict(lk.dtypes) == {"event_type": "string", "severity": "string"}
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "match(severity, field=event_type) | groupBy(severity)",
        tables={"severity": lk},
    )
    got = {r["severity"]: r["_count"] for r in out.collect()}
    assert got["high"] == ev.filter(F.col("event_type") == "error").count()
    assert got["low"] == ev.filter(F.col("event_type") == "signup").count()


def test_join_semi_and_anti_modes(spark):
    ev = load_table(spark, SF_SMALL, "events")
    err_users = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "error")
        .select("user_id").distinct().collect()
    }
    base = ev.filter(F.col("event_type") == "purchase")
    anti = hql(
        ev,
        "event_type = purchase "
        "| join({event_type = error | select([user_id])}, "
        "field=user_id, key=user_id, mode=anti)",
    )
    semi = hql(
        ev,
        "event_type = purchase "
        "| join({event_type = error | select([user_id])}, "
        "field=user_id, key=user_id, mode=semi)",
    )
    assert anti.count() == base.filter(
        ~F.col("user_id").isin(list(err_users))
    ).count()
    assert semi.count() == base.filter(
        F.col("user_id").isin(list(err_users))
    ).count()
    # semi/anti keep ONLY primary columns
    assert set(anti.columns) == set(ev.columns)
    with pytest.raises(HqlSyntaxError):
        hql(ev, "join({count()}, field=user_id, mode=full)")


def test_in_ignore_case(spark):
    df = spark.createDataFrame(
        [("Error",), ("ERROR",), ("view",)], ["t"]
    )
    assert hql(df, "in(t, values=[error], ignoreCase=true)").count() == 2
    assert hql(df, "in(t, values=[error])").count() == 0


def test_timechart_slide_and_top_percent(spark):
    ev = load_table(spark, SF_SMALL, "events")
    slid = hql(ev, "timechart(span=1h, slide=30m)")
    tumb = hql(ev, "timechart(span=1h)")
    # every event lands in exactly span/slide = 2 sliding buckets
    assert (
        slid.agg(F.sum("_count")).first()[0]
        == 2 * tumb.agg(F.sum("_count")).first()[0]
    )
    top = hql(ev, "top(event_type, percent=true)").collect()
    assert abs(sum(r["_percent"] for r in top) - 100.0) < 0.01
    n = ev.count()
    for r in top:
        assert abs(r["_percent"] - round(r["_count"] / n * 100, 4)) < 1e-9


def test_timechart_fill_zero_fills_gaps(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (2, "2024-01-01 03:30:00")],
        "event_id long, ts_s string",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    out = hql(df, "timechart(span=1h, fill=true)").orderBy("bucket_start")
    rows = out.collect()
    assert len(rows) == 4  # 00:00..03:00 inclusive
    assert [r["_count"] for r in rows] == [1, 0, 0, 1]
    with pytest.raises(HqlSyntaxError):
        hql(df, "timechart(span=1h, by=event_id, fill=true)")
    with pytest.raises(HqlSyntaxError):
        hql(df, "timechart(span=1h, slide=30m, fill=true)")


def test_percentile_inside_timechart_and_groupby_compose(spark):
    """percentile() composes in any function= list (groupBy pinned by
    the oracle query; timechart pinned here): exact interpolated per
    bucket, one column per requested percentile."""
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "timechart(span=1d, function=[count(), "
        "percentile(value, percentiles=[50, 90])])",
    )
    assert set(out.columns) == {"bucket_start", "_count", "_p50", "_p90"}
    day = out.orderBy("bucket_start").first()
    lo = F.from_unixtime(F.lit(day["bucket_start"])).cast("timestamp")
    vals = sorted(
        r["value"]
        for r in ev.filter(
            (F.col("ts") >= lo)
            & (
                F.col("ts")
                < F.from_unixtime(
                    F.lit(day["bucket_start"] + 86400)
                ).cast("timestamp")
            )
        ).select("value").collect()
    )
    import math

    def interp(p):
        k = (len(vals) - 1) * p
        f, c = math.floor(k), math.ceil(k)
        return vals[f] if f == c else vals[f] + (k - f) * (vals[c] - vals[f])

    assert abs(day["_p50"] - round(interp(0.5), 4)) < 1e-9
    assert abs(day["_p90"] - round(interp(0.9), 4)) < 1e-9


def test_case_null_selector_falls_through_to_later_clauses(spark):
    """ADVICE r4: a selector evaluating to NULL (value > 90 on a NULL
    value) must count as NON-matching — not poison the first-match chain
    so later clauses (including the wildcard) emit NULL."""
    df = spark.createDataFrame(
        [(1, 95.0), (2, 10.0), (3, None)], "id long, value double"
    )
    out = hql(
        df,
        'case { value > 90 | sev := "hi" ; * | sev := "normal" }',
    )
    got = {r["id"]: r["sev"] for r in out.collect()}
    assert got == {1: "hi", 2: "normal", 3: "normal"}
    # without a wildcard, the NULL-selector row is DROPPED (two-valued
    # filter), not kept with sev=NULL
    out2 = hql(df, 'case { value > 90 | sev := "hi" }')
    assert {r["id"] for r in out2.collect()} == {1}


def test_join_subquery_drops_colliding_root_columns(spark):
    """ADVICE r4: a NON-aggregating subquery retains every root column;
    the join must project those away (keep key + subquery-created fields
    only) so downstream stages never hit AMBIGUOUS_REFERENCE."""
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "event_type = purchase "
        "| join({event_type = error | flagged := 1}, "
        "field=user_id, key=user_id, mode=left) "
        "| groupBy(event_type)",  # would be ambiguous pre-fix
    )
    rows = out.collect()
    assert [r["event_type"] for r in rows] == ["purchase"]
    assert rows[0]["_count"] >= ev.filter(
        F.col("event_type") == "purchase"
    ).select("user_id").distinct().count() > 0
    # no duplicate column names anywhere in the joined schema
    mid = hql(
        ev,
        "event_type = purchase | join({event_type = error | flagged := 1}, "
        "field=user_id, key=user_id, mode=left)",
    )
    assert len(mid.columns) == len(set(mid.columns))
    assert "flagged" in mid.columns


def test_join_include_selects_subquery_fields(spark):
    """LogScale include=: explicit subquery fields ride along; a field
    colliding with a primary-side column raises loudly."""
    orders = load_table(spark, SF_SMALL, "orders")
    customer = load_table(spark, SF_SMALL, "customer")
    out = hql(
        orders,
        "join({select([c_custkey, c_mktsegment, c_name])}, "
        "field=o_custkey, key=c_custkey, table=customer, "
        "include=[c_mktsegment])",
        tables={"customer": customer},
    )
    assert "c_mktsegment" in out.columns and "c_name" not in out.columns
    with pytest.raises(HqlSyntaxError):
        hql(
            orders,
            "join({select([c_custkey, c_name])}, field=o_custkey, "
            "key=c_custkey, table=customer, include=[missing_field])",
            tables={"customer": customer},
        )


def test_timechart_fill_leaves_nonadditive_aggs_null(spark):
    """ADVICE r4: fill=true zero-fills ONLY additive aggregates
    (count/sum); an empty bucket has no average/min — those stay NULL."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", 10.0), (2, "2024-01-01 02:30:00", 30.0)],
        "event_id long, ts_s string, value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
    )
    out = (
        hql(
            df,
            "timechart(span=1h, fill=true, function=[count(), "
            "sum(value, as=_sum), avg(value, as=_avg), "
            "max(value, as=_max)])",
        )
        .orderBy("bucket_start")
        .collect()
    )
    assert [r["_count"] for r in out] == [1, 0, 1]
    assert [r["_sum"] for r in out] == [10.0, 0.0, 30.0]
    assert [r["_avg"] for r in out] == [10.0, None, 30.0]
    assert [r["_max"] for r in out] == [10.0, None, 30.0]


def test_kvparse_stage_extracts_named_keys(spark):
    df = spark.createDataFrame(
        [("type=error user=3 val=9.50",), ("type=view user=4 val=1.25",)],
        "raw string",
    )
    out = hql(df, "kvParse(raw, keys=[type, val]) | type = error")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["type"] == "error"
    assert rows[0]["val"] == "9.50"  # fields land as strings (LogScale)
    # custom separators
    df2 = spark.createDataFrame([("a:1;b:2",)], "raw string")
    r = hql(df2, 'kvParse(raw, keys=[b], sep=";", kvsep=":")').first()
    assert r["b"] == "2"
    with pytest.raises(HqlSyntaxError):
        hql(df, "kvParse(raw)")  # keys are explicit by design


def test_parseurl_stage_components_and_params(spark):
    df = spark.createDataFrame(
        [("https://ex.com/a/b?x=1&y=2#frag",)], "url string"
    )
    r = hql(
        df,
        "parseUrl(url, parts=[scheme, host, path, fragment], param=[y])",
    ).first()
    assert (r["scheme"], r["host"], r["path"], r["fragment"], r["y"]) == (
        "https", "ex.com", "/a/b", "frag", "2"
    )
    with pytest.raises(HqlSyntaxError, match="parts"):
        hql(df, "parseUrl(url, parts=[hostname])")


def test_parsecsv_stage_quoting_and_errors(spark):
    # real CSV quoting, not split-and-pray
    df = spark.createDataFrame([('"a,b",2,c',)], "line string")
    r = hql(df, "parseCsv(line, columns=[x, y, z])").first()
    assert (r["x"], r["y"], r["z"]) == ("a,b", "2", "c")
    with pytest.raises(HqlSyntaxError):
        hql(df, "parseCsv(line)")  # columns required
    with pytest.raises(HqlSyntaxError, match="column name"):
        hql(df, 'parseCsv(line, columns=["bad name"])')


def test_parsexml_stage_dotted_paths(spark):
    df = spark.createDataFrame(
        [("<ev><type>error</type><val>7</val></ev>",)], "xml string"
    )
    r = hql(df, "parseXml(xml, keys=[ev.type, ev.val])").first()
    assert (r["type"], r["val"]) == ("error", "7")
    with pytest.raises(HqlSyntaxError):
        hql(df, "parseXml(xml)")


def test_cidr_stage_filters_and_negates(spark):
    df = spark.createDataFrame(
        [("10.0.0.5",), ("10.64.1.1",), ("192.168.0.1",), (None,)],
        "ip string",
    )
    kept = {r["ip"] for r in hql(df, 'cidr(ip, subnet="10.0.0.0/10")').collect()}
    assert kept == {"10.0.0.5"}
    # list of subnets = any-match; negate inverts under TWO-valued logic:
    # a NULL ip is "not in the subnet", so positive drops it and negate
    # keeps it (never a silent NULL row-kill on the positive side)
    kept2 = {
        r["ip"]
        for r in hql(
            df, 'cidr(ip, subnet=["10.0.0.0/10", "192.168.0.0/16"])'
        ).collect()
    }
    assert kept2 == {"10.0.0.5", "192.168.0.1"}
    neg = {
        r["ip"]
        for r in hql(
            df, 'cidr(ip, subnet="10.0.0.0/8", negate=true)'
        ).collect()
    }
    assert neg == {"192.168.0.1", None}
    with pytest.raises(HqlSyntaxError):
        hql(df, 'cidr(ip, subnet="10.0.0.0/33")')


def test_expensive_eval_pipes_fan_out_single_split_inputs(spark):
    """VERDICT r4 #4: a pipe with a CPU-heavy eval (entropy/hashing) on a
    single-row-group file must parallelize via fan_out — one task on a
    32-core box serializes the fold; cheap pipes stay un-repartitioned
    (fan_out never fires for them), and multi-split/cluster inputs are a
    no-op by fan_out's own condition."""
    ev = load_table(spark, SF_SMALL, "events")

    def has_fanout(df):
        # fan_out is a shuffle-true Repartition in the optimized logical
        # plan (ROUND_ROBIN once physical)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "Repartition" in plan

    heavy = hql(ev, "e := shannonEntropy(props) | sort([e], limit=5)")
    assert has_fanout(heavy)
    hashy = hql(ev, "h := md5(props) | groupBy(h, limit=5)")
    assert has_fanout(hashy)
    cheap = hql(ev, "value > 90 | groupBy(event_type)")
    assert not has_fanout(cheap)
    # the filter must still PUSH through the repartition to the scan
    from cses2humio_spark.plans.explain import assert_pushed_filters

    filtered_heavy = hql(
        ev, "#event_type = error | e := shannonEntropy(props) | count()"
    )
    assert_pushed_filters(filtered_heavy, "EqualTo(event_type,error)")


def test_rare_is_ascending_twin_of_top(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)] * 9 + [("d",)] * 2,
        "k string",
    )
    rows = hql(df, "rare(k, limit=3)").collect()
    assert [(r["k"], r["_count"]) for r in rows] == [
        ("b", 2), ("d", 2), ("a", 5)  # ties break by value ascending
    ]
    with pytest.raises(HqlSyntaxError):
        hql(df, "rare()")


def test_transpose_swaps_rows_and_columns(spark):
    df = spark.createDataFrame(
        [("error", 5, 1.5), ("view", 9, 2.5)],
        "etype string, n long, avg_v double",
    )
    out = hql(df, "transpose(header=etype)")
    assert out.columns == ["field", "error", "view"]
    got = {r["field"]: (r["error"], r["view"]) for r in out.collect()}
    # cells are strings; one row per non-header input column
    assert got == {"n": ("5", "9"), "avg_v": ("1.5", "2.5")}
    # loud cap: more distinct headers than limit refuses
    big = spark.createDataFrame([(str(i), i) for i in range(30)], "h string, v long")
    with pytest.raises(HqlSyntaxError, match="limit"):
        hql(big, "transpose(header=h)")
    with pytest.raises(HqlSyntaxError):
        hql(df, "transpose()")  # header required
    with pytest.raises(HqlSyntaxError, match="not in columns"):
        hql(df, "transpose(header=nope)")


def test_head_grouped_is_window_group_limit(spark):
    """head(by=) compiles to the rank-window shape Spark executes as
    WindowGroupLimit — bounded per-partition heaps, not a full sort."""
    ev = load_table(spark, SF_SMALL, "events")
    df = hql(ev, "head(3, by=user_id, order=[ts, event_id])")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # ascending direction + per-key cap honored
    out = hql(ev, "head(1, by=user_id, order=[ts, event_id], dir=asc)")
    rows = out.groupBy("user_id").count().collect()
    assert rows and all(r["count"] == 1 for r in rows)
    first = {r["user_id"]: r["event_id"] for r in out.collect()}
    w_first = {
        r["user_id"]: r["event_id"]
        for r in ev.orderBy("ts", "event_id")
        .dropDuplicates(["user_id"])
        .collect()
    }
    assert first == w_first
    with pytest.raises(HqlSyntaxError):
        hql(ev, "head(3, by=user_id, dir=sideways)")


def test_approx_distinct_composes_in_timechart_and_groupby(spark):
    """approxDistinct rides any function= list; on small exact-coverage
    buckets the DataSketches estimate is exact, so this pins both the
    composition and the small-cardinality behavior."""
    ev = load_table(spark, SF_SMALL, "events")
    out = hql(
        ev,
        "timechart(span=1d, function=[count(), "
        "approxDistinct(event_type, as=n_types)])",
    )
    rows = out.collect()
    assert set(out.columns) == {"bucket_start", "_count", "n_types"}
    assert rows and all(1 <= r["n_types"] <= 5 for r in rows)
    g = hql(ev, "groupBy(event_type, function=approxDistinct(user_id))")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in g.collect():
        rel = abs(r["_approxdistinct"] - exact[r["event_type"]]) / max(
            1, exact[r["event_type"]]
        )
        assert rel < 0.05, (r, exact[r["event_type"]])


def test_hql_parser_fuzz_never_crashes_unstructured():
    """Property: arbitrary garbage input must either parse or raise
    HqlSyntaxError — never an unhandled exception (an alert rule file
    with a typo must fail loudly AND cleanly). Fixed seed for a
    reproducible case set."""
    import random
    import string

    rng = random.Random(55_2026)
    chars = string.ascii_letters + string.digits + ' |=<>!*()[]{}:=/"#@.,-_;'
    for _ in range(400):
        q = "".join(rng.choice(chars) for _ in range(rng.randrange(0, 60)))
        try:
            parse(q)
        except HqlSyntaxError:
            pass


def test_parsecef_stage_header_and_extension(spark):
    df = spark.createDataFrame(
        [("CEF:0|Vendor|Prod|2.1|sig9|Port Scan|7|src=10.0.0.1 act=deny",)],
        "raw string",
    )
    r = hql(df, "parseCef(raw, ext=[src, act])").first()
    assert (r["cef_version"], r["cef_vendor"], r["cef_product"]) == (
        "0", "Vendor", "Prod"
    )
    assert (r["cef_sig_id"], r["cef_name"], r["cef_severity"]) == (
        "sig9", "Port Scan", "7"
    )
    assert (r["src"], r["act"]) == ("10.0.0.1", "deny")
    with pytest.raises(HqlSyntaxError):
        hql(df, "parseCef()")


def test_parseleef_stage_header_and_extension(spark):
    df = spark.createDataFrame(
        [("LEEF:2.0|IBM|QRadar|9.1|evt42|src=10.1.1.1\tusrName=alice",)],
        "raw string",
    )
    r = hql(df, "parseLeef(raw, ext=[src, usrName])").first()
    assert (r["leef_version"], r["leef_vendor"], r["leef_product"]) == (
        "2.0", "IBM", "QRadar"
    )
    assert (r["leef_event_id"], r["src"], r["usrName"]) == (
        "evt42", "10.1.1.1", "alice"
    )
    with pytest.raises(HqlSyntaxError):
        hql(df, "parseLeef()")


def test_eval_geohash_function(spark):
    """gh := geohash(lat, lng) — the worldMap cell key as an eval
    function (precision 8, Wikipedia vector)."""
    df = spark.createDataFrame(
        [(57.64911, 10.40744), (None, 1.0)], "lat double, lng double"
    )
    out = hql(df, "gh := geohash(lat, lng) | table([gh])").collect()
    assert out[0]["gh"] == "u4pruydq"
    assert out[1]["gh"] is None


# --- index-routed free-text (text_index=) ---------------------------------


class TestIndexedFreeText:
    @pytest.fixture()
    def idx_docs(self, spark, tmp_path_factory):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        d = tmp_path_factory.mktemp("hql_ftx")
        idx = InvertedTextIndex(str(d), n_buckets=16)
        idx.build(docs)
        return idx, docs

    @pytest.mark.parametrize(
        "q",
        [
            "spark | groupBy(lang)",
            "spark",
            "not spark",
            "spark and not join | groupBy(lang)",
            "spark or window | groupBy(lang)",
            # term that also hits the OTHER string column (lang='de'):
            # the index answers the text arm, the scan keeps lang
            "de | groupBy(lang)",
            "spark lang = en | groupBy(lang)",  # implicit AND w/ Cmp
        ],
    )
    def test_index_path_row_identical_to_scan_path(self, spark, idx_docs, q):
        idx, docs = idx_docs
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed

    def test_routed_plan_never_reads_document_text(self, spark, idx_docs):
        idx, docs = idx_docs
        out = hql(docs, "spark | groupBy(lang)", text_index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        doc_scans = [
            ln for ln in plan.splitlines() if "documents.parquet" in ln
        ]
        assert doc_scans
        for ln in doc_scans:
            assert "text" not in ln.split("ReadSchema:")[-1], ln
        # markers never leak into the output schema
        assert not [c for c in out.columns if c.startswith("__hql_ftx")]

    def test_whitespace_term_falls_back_to_scan(self, spark, idx_docs):
        idx, docs = idx_docs
        # a quoted phrase against a FLAT index (no positions) cannot be
        # routed: the stage must fall back to the scan path (and still
        # be correct)
        q = '"spark join" | groupBy(lang)'
        routed = hql(docs, q, text_index=idx)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert any(
            "text" in ln.split("ReadSchema:")[-1]
            for ln in plan.splitlines()
            if "documents.parquet" in ln
        ), plan[:2000]
        assert sorted(map(tuple, routed.collect())) == sorted(
            map(tuple, hql(docs, q).collect())
        )

    def test_missing_id_column_is_loud(self, spark, idx_docs):
        idx, docs = idx_docs
        with pytest.raises(HqlSyntaxError, match="id column"):
            hql(docs.drop("doc_id"), "spark", text_index=idx).collect()

    def test_multi_term_routing_scans_postings_once(self, spark, idx_docs):
        """Scale contract: a 3-term routed filter must read the posting
        table ONCE (one scan, one flag aggregation, one join) — never a
        scan+join per term, which would shuffle the corpus-sized frame
        once per term."""
        idx, docs = idx_docs
        out = hql(docs, "spark or join or window | groupBy(lang)",
                  text_index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        post_scans = [
            ln for ln in plan.splitlines()
            if "Location: InMemoryFileIndex" in ln and "seg=" in ln
        ]
        assert len(post_scans) == 1, plan[:3000]

    # -- quoted phrases through the positional index (VERDICT r11 #3) ----

    @pytest.fixture()
    def idx_docs_pos(self, spark, tmp_path_factory):
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        d = tmp_path_factory.mktemp("hql_ftx_pos")
        idx = InvertedTextIndex(str(d), n_buckets=16, positional=True)
        idx.build(docs)
        return idx, docs

    @pytest.mark.parametrize(
        "q",
        [
            '"table scan" | groupBy(lang)',
            '"table scan"',
            'not "table scan" | groupBy(lang)',
            '"table scan" or spark | groupBy(lang)',
            '"table scan" and not "fast merge" | groupBy(lang)',
            # 3-word phrase: middle word must EQUAL a token exactly
            'spark "key agg row" | groupBy(lang)',
            # phrase + bare term + Cmp mixed in one stage
            '"table scan" spark lang = en | groupBy(lang)',
        ],
    )
    def test_phrase_row_identical_to_scan_path(self, spark, idx_docs_pos, q):
        idx, docs = idx_docs_pos
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed

    def test_phrase_plan_never_reads_document_text(self, spark, idx_docs_pos):
        idx, docs = idx_docs_pos
        out = hql(docs, '"table scan" | groupBy(lang)', text_index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        doc_scans = [
            ln for ln in plan.splitlines() if "documents.parquet" in ln
        ]
        assert doc_scans
        for ln in doc_scans:
            assert "text" not in ln.split("ReadSchema:")[-1], ln
        # one postings scan even with a phrase + a bare term mixed in
        out2 = hql(
            docs, '"table scan" or spark | groupBy(lang)', text_index=idx
        )
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        post_scans = [
            ln for ln in plan2.splitlines()
            if "Location: InMemoryFileIndex" in ln and "seg=" in ln
        ]
        assert len(post_scans) == 1, plan2[:3000]

    @pytest.mark.parametrize(
        "q",
        [
            '"table  scan" | groupBy(lang)',   # doubled space
            '"table\tscan" | groupBy(lang)',    # tab separator
            '" table scan" | groupBy(lang)',   # leading whitespace
        ],
    )
    def test_phrase_edge_whitespace_falls_back(self, spark, idx_docs_pos, q):
        """Phrases outside the single-space word shape fall back to the
        scan path (text IS read) and stay correct — the identity only
        covers ``\\S+( \\S+)+``."""
        idx, docs = idx_docs_pos
        routed = hql(docs, q, text_index=idx)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert any(
            "text" in ln.split("ReadSchema:")[-1]
            for ln in plan.splitlines()
            if "documents.parquet" in ln
        ), plan[:2000]
        assert sorted(map(tuple, routed.collect())) == sorted(
            map(tuple, hql(docs, q).collect())
        )

    def test_phrase_mixed_separator_corpus_falls_back(
        self, spark, tmp_path_factory
    ):
        """A corpus where ANY doc has a non-single-space separator
        breaks the phrase identity (the tab doc's trimmed text is not
        its tokens joined by spaces) — ``ws_single_all`` records that at
        build time and the router falls back to the scan path."""
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = spark.createDataFrame(
            [(1, "alpha\tbeta", "x"), (2, "alpha beta", "y")],
            "doc_id int, text string, lang string",
        )
        d = tmp_path_factory.mktemp("hql_ftx_tab")
        idx = InvertedTextIndex(str(d), n_buckets=4, positional=True)
        idx.build(docs)
        assert idx.ws_single_all(spark) is False
        q = '"alpha beta"'
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        # the tab doc must NOT match: its text has no "alpha beta"
        assert routed == scanned == [(2, "alpha beta", "y")]

    def test_null_text_negation_matches_scan(self, spark, tmp_path_factory):
        """ADVICE r11: ``lower(NULL).contains(term)`` is NULL, so ``not
        term`` DROPS a NULL-text row on the scan path — the routed path
        must not resurrect it by coalescing the missing marker to
        FALSE. Pinned across not/or/nesting, for bare terms and
        phrases."""
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma", "x"),
                (2, None, "y"),
                (3, "delta beta", "z"),
                (4, "", "w"),
            ],
            "doc_id int, text string, lang string",
        )
        d = tmp_path_factory.mktemp("hql_ftx_null")
        idx = InvertedTextIndex(str(d), n_buckets=4, positional=True)
        idx.build(docs)
        for q in [
            "not beta",
            "beta",
            'not "alpha beta"',
            "not beta or lang = y",
            "not (beta and not gamma)",
        ]:
            routed = sorted(
                map(tuple, hql(docs, q, text_index=idx).collect())
            )
            scanned = sorted(map(tuple, hql(docs, q).collect()))
            assert routed == scanned, (q, routed, scanned)
        # the NULL-text row is genuinely load-bearing: it must be
        # dropped by "not beta" even though it doesn't contain beta
        kept = hql(docs, "not beta", text_index=idx).collect()
        assert {r.doc_id for r in kept} == {4}

    def test_routed_output_preserves_column_order(self, spark, idx_docs_pos):
        """ADVICE r11: the candidate join must not move the id column to
        the front — a select-less routed pipe emits the original column
        order."""
        idx, docs = idx_docs_pos
        shuffled = docs.select("lang", "text", "doc_id")
        out = hql(shuffled, "spark", text_index=idx)
        assert out.columns == ["lang", "text", "doc_id"]
        out2 = hql(shuffled, '"table scan"', text_index=idx)
        assert out2.columns == ["lang", "text", "doc_id"]

    def test_join_subquery_free_text_routes(self, spark, idx_docs_pos):
        """Free-text inside a join({...}) subquery over the ROOT frame
        routes through the same index: row-identical to the scan path,
        and no scan in the plan reads the text column."""
        idx, docs = idx_docs_pos
        q = (
            'lang = en | join({spark | select([doc_id])}, '
            "field=doc_id, key=doc_id, mode=semi) | groupBy(lang)"
        )
        routed = hql(docs, q, text_index=idx)
        scanned = hql(docs, q)
        assert sorted(map(tuple, routed.collect())) == sorted(
            map(tuple, scanned.collect())
        )
        plan = routed._jdf.queryExecution().executedPlan().toString()
        doc_scans = [
            ln for ln in plan.splitlines() if "documents.parquet" in ln
        ]
        assert doc_scans
        for ln in doc_scans:
            assert "text" not in ln.split("ReadSchema:")[-1], ln

    def test_subquery_without_id_column_falls_back(self, spark, idx_docs_pos):
        """A subquery stage DOWNSTREAM of an aggregation has lost the id
        column — the non-strict subquery routing must fall back to the
        scan path there, not raise the top-level loud error."""
        idx, docs = idx_docs_pos
        # the groupBy collapses to (lang, _count); the free-text 'en'
        # after it filters the aggregated frame's string columns
        q = (
            "lang = en | join({groupBy(lang) | en | select([lang])}, "
            "field=lang, key=lang, mode=semi) | groupBy(lang)"
        )
        routed = hql(docs, q, text_index=idx)
        scanned = hql(docs, q)
        assert sorted(map(tuple, routed.collect())) == sorted(
            map(tuple, scanned.collect())
        )

    def test_text_rewrite_disarms_routing(self, spark, idx_docs):
        """ADVICE r12: a stage that reassigns the indexed text column
        makes the index markers stale (they reflect the INGESTED corpus
        text) — later free-text stages must take the scan path over the
        REWRITTEN text, not the index."""
        idx, docs = idx_docs
        # after text := lang, free-text 'en' matches docs whose LANG is
        # en via the text column — the original text contents are gone
        q = "text := lang | en | groupBy(lang)"
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed
        # and the plan proves the fallback: no posting-list scan (the
        # original text never needs reading — Catalyst prunes it, since
        # the rewrite derives from lang — but the INDEX must not appear)
        out = hql(docs, q, text_index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "seg=" not in plan, plan[:2000]
        # a free-text stage BEFORE the rewrite still routes (one armed
        # stage, one disarmed) and stays row-identical
        q2 = "spark | text := lang | en | groupBy(lang)"
        assert sorted(
            map(tuple, hql(docs, q2, text_index=idx).collect())
        ) == sorted(map(tuple, hql(docs, q2).collect()))

    def test_id_rewrite_disarms_routing(self, spark, idx_docs):
        """ADVICE r13: a stage that reassigns the index ID column makes
        the marker semi-join attach index answers to the WRONG rows —
        routing must disarm on id_col rewrites exactly as it does on
        text rewrites (the r12 guard checked only the text column;
        verified repro: routed [('de',1)] vs scan [('en',1),('fr',1)]
        under doc_id := doc_id + 1)."""
        idx, docs = idx_docs
        q = "doc_id := doc_id + 1 | spark | groupBy(lang)"
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed
        # the plan proves the fallback: no posting-list scan
        out = hql(docs, q, text_index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "seg=" not in plan, plan[:2000]
        # a free-text stage BEFORE the id rewrite still routes and stays
        # row-identical (one armed stage, one disarmed)
        q2 = "spark | doc_id := doc_id + 1 | spark | groupBy(lang)"
        assert sorted(
            map(tuple, hql(docs, q2, text_index=idx).collect())
        ) == sorted(map(tuple, hql(docs, q2).collect()))

    def test_select_dropping_text_disarms_routing(self, spark, idx_docs):
        """ADVICE r12: a projection that drops the text column (while
        keeping the id column, so strict routing would not catch it)
        changes which columns a free-text scan searches — the marker
        path would keep answering for the dropped column."""
        idx, docs = idx_docs
        for q in [
            "select([doc_id, lang]) | en | groupBy(lang)",
            "drop([text]) | en | groupBy(lang)",
        ]:
            routed = sorted(
                map(tuple, hql(docs, q, text_index=idx).collect())
            )
            scanned = sorted(map(tuple, hql(docs, q).collect()))
            assert routed == scanned and routed, q

    def test_subquery_text_rewrite_disarms_routing(self, spark, idx_docs):
        """The subquery tracks its own disarm flag: a rewrite inside
        join({...}) must not leave its later free-text stages on the
        index."""
        idx, docs = idx_docs
        q = (
            "lang = en | join({text := lang | en | select([doc_id])}, "
            "field=doc_id, key=doc_id, mode=semi) | groupBy(lang)"
        )
        routed = sorted(map(tuple, hql(docs, q, text_index=idx).collect()))
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed

    def test_unbuilt_index_falls_back_to_scan(self, spark, idx_docs, tmp_path):
        """ADVICE r12: an index with no committed version (a concurrent
        first build may land mid-query) takes the scan path instead of
        raising or threading a floating 'latest' through the reads."""
        from cses2humio_spark.operators.text_index import InvertedTextIndex

        _, docs = idx_docs
        empty = InvertedTextIndex(str(tmp_path / "unbuilt"), n_buckets=4)
        assert empty.latest_version() is None
        q = "spark | groupBy(lang)"
        routed = sorted(
            map(tuple, hql(docs, q, text_index=empty).collect())
        )
        scanned = sorted(map(tuple, hql(docs, q).collect()))
        assert routed == scanned and routed


# --- selfJoinFilter / series ----------------------------------------------


class TestSelfJoinFilterAndSeries:
    def test_parse_selfjoinfilter(self):
        [st] = parse(
            "selfJoinFilter(field=[user_id], where=[{event_type = error}, "
            "{event_type = purchase}])"
        )
        assert st.name == "selfJoinFilter"
        assert st.kwargs["field"] == ["user_id"]
        assert len(st.kwargs["where"]) == 2

    def test_selfjoinfilter_matches_handwritten(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        got = hql(
            ev,
            "selfJoinFilter(field=[user_id], where=[{event_type = error},"
            " {event_type = purchase}])",
        )
        err = ev.filter(F.col("event_type") == "error").select("user_id")
        pur = ev.filter(F.col("event_type") == "purchase").select("user_id")
        want = ev.join(err.distinct(), "user_id", "left_semi").join(
            pur.distinct(), "user_id", "left_semi"
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert got.count() > 0

    def test_selfjoinfilter_rejects_aggregating_clause(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        with pytest.raises(HqlSyntaxError, match="pure"):
            hql(
                ev,
                "selfJoinFilter(field=[user_id], where=[{groupBy("
                "event_type)}])",
            )

    def test_series_builds_gap_tolerant_runs(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        out = hql(
            ev,
            "user_id < 5 | series([event_type], by=[user_id], "
            "maxpause=30m)",
        )
        rows = out.collect()
        assert rows
        assert set(out.columns) == {
            "user_id", "_run", "_start", "_end", "_events", "event_type",
        }
        for r in rows:
            # sequence length always equals the run's event count
            assert len(r["event_type"].split(";")) == r["_events"]
            assert r["_start"] <= r["_end"]
        # runs tile each user's events exactly
        total = sum(r["_events"] for r in rows)
        assert total == ev.filter(F.col("user_id") < 5).count()
        # maxpause honored: consecutive runs of one user are separated
        by_user = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        for runs in by_user.values():
            runs.sort(key=lambda r: r["_run"])
            for a, b in zip(runs, runs[1:]):
                assert b["_start"] - a["_end"] > 1800

    def test_selfjoinfilter_and_series_plans_are_udf_free(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        for q in [
            "selfJoinFilter(field=[user_id], where=[{event_type = "
            "error}, {event_type = purchase}])",
            "user_id < 5 | series([event_type], by=[user_id], "
            "maxpause=30m)",
        ]:
            plan = (
                hql(ev, q)._jdf.queryExecution().executedPlan().toString()
            )
            assert "BatchEvalPython" not in plan, (q, plan[:1500])
            assert "PythonUDF" not in plan, (q, plan[:1500])


class TestWindowSpan:
    def test_span_matches_handwritten_range_frame(self, spark):
        from pyspark.sql.window import Window as W

        ev = load_table(spark, SF_SMALL, "events").filter(
            F.col("event_type") == "purchase"
        )
        got = hql(
            ev,
            "window(function=[avg(value), count()], span=30m, by=user_id)",
        ).select("event_id", "_avg", "_count")
        tsec = F.col("ts").cast("timestamp").cast("long")
        w = (
            W.partitionBy("user_id")
            .orderBy(tsec.asc())
            .rangeBetween(-1799, 0)
        )
        want = ev.select(
            "event_id",
            (
                F.sum(F.col("value").cast("decimal(28,6)")).over(w)
                .cast("double")
                / F.count("value").over(w)
            ).alias("_avg"),
            F.count(F.lit(1)).over(w).alias("_count"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_span_and_n_are_exclusive(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        with pytest.raises(HqlSyntaxError, match="not both"):
            hql(ev, "window(function=[count()], n=5, span=30m, by=user_id)")

    def test_span_plan_is_udf_free(self, spark):
        ev = load_table(spark, SF_SMALL, "events")
        plan = (
            hql(ev, "window(function=[count()], span=1h, by=user_id)")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
