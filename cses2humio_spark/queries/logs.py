"""Log-analytics query surface over the ``events`` table — the Humio-class
capabilities the reference *delegates* to Humio (SURVEY.md §2.2): free-text
search, field extraction (JSON / regex), timechart, sessionization,
string/date/conditional/cast functions.

All narrow transforms here are map-side (no shuffle); aggregations shuffle
only post-combine group rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.functions.text import tokens
from cses2humio_spark.operators.aggregates import timechart, top_k
from cses2humio_spark.operators.windows import sessionize
from cses2humio_spark.queries.registry import query
from cses2humio_spark.sources.catalog import load_table


@query(
    "timechart_errors",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_start,
           COUNT(*) AS n_errors,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events WHERE event_type = 'error'
    GROUP BY date_trunc('hour', ts)
    """,
)
def timechart_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (SURVEY.md §7.1): error-event timechart. Scan → pushed
    filter → 1h tumbling window agg. The window key is derived map-side;
    one shuffle of (bucket, partial agg)."""
    ev = load_table(spark, sf_dir, "events")
    return timechart(
        ev.filter(F.col("event_type") == "error"),
        ts_col="ts",
        span="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n_errors"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        ],
    )


@query(
    "timechart_sliding_by_type",
    oracle="""
    WITH b AS (
      SELECT event_type,
             to_timestamp(FLOOR(epoch(ts)/1800)*1800) AS b0, ts
      FROM events
    ), exploded AS (
      SELECT event_type, UNNEST([b0, b0 - INTERVAL 30 MINUTE]) AS bucket
      FROM b
    )
    SELECT CAST(FLOOR(epoch(bucket)) AS BIGINT) AS bucket_start,
           event_type, COUNT(*) AS n
    FROM exploded GROUP BY bucket, event_type
    """,
)
def timechart_sliding_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window timechart (1h window, 30m slide, by dimension).
    Spark expands each row into window/slide buckets map-side."""
    ev = load_table(spark, sf_dir, "events")
    return timechart(
        ev,
        ts_col="ts",
        span="1 hour",
        slide="30 minutes",
        dims=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )


@query(
    "free_text_search",
    oracle="""
    SELECT lang, COUNT(*) AS n_hits
    FROM documents
    WHERE text LIKE '%spark%' AND regexp_matches(text, 'fast|slow')
    GROUP BY lang
    """,
)
def free_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio-style grep: substring + regex over the raw text. Both predicates
    evaluate inside the scan stage (codegen'd), no Python."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").contains("spark") & F.col("text").rlike("fast|slow"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "regex_extract_histogram",
    oracle=r"""
    SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_val,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def regex_extract_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio regex()/parse: capture-group extraction from the raw string."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
            .cast("bigint")
            .alias("k_val")
        )
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "json_field_stats",
    oracle=r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (Humio ``parseJson``) + agg. Spark side uses a
    real JSON path (get_json_object); the oracle mirrors values via regex to
    avoid DuckDB extension dependence — same extracted integers."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "map_field_access",
    oracle=r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_val
    FROM events WHERE event_id < 100
    """,
)
def map_field_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless access pattern: parse JSON into MAP<STRING,BIGINT> (the
    engine's portable VariantType stand-in, SURVEY.md §7.5) and element_at
    a key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id", F.element_at(m, "k").alias("k_val")
    )


@query(
    "string_funcs_showcase",
    oracle="""
    SELECT DISTINCT event_type,
      upper(event_type) AS up, lower(event_type) AS lo,
      length(event_type) AS len, substring(event_type, 1, 3) AS pre,
      concat(event_type, ':', 'evt') AS tagged,
      replace(event_type, 'e', '3') AS leet,
      reverse(event_type) AS rev,
      lpad(event_type, 10, '_') AS padded,
      split_part(event_type, 'i', 1) AS first_seg
    FROM events
    """,
)
def string_funcs_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = F.col("event_type")
    return ev.select(
        t.alias("event_type"),
        F.upper(t).alias("up"),
        F.lower(t).alias("lo"),
        F.length(t).alias("len"),
        F.substring(t, 1, 3).alias("pre"),
        F.concat(t, F.lit(":"), F.lit("evt")).alias("tagged"),
        F.replace(t, F.lit("e"), F.lit("3")).alias("leet"),
        F.reverse(t).alias("rev"),
        F.lpad(t, 10, "_").alias("padded"),
        F.split_part(t, F.lit("i"), F.lit(1)).alias("first_seg"),
    ).distinct()


@query(
    "datetime_breakdown",
    oracle="""
    SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr, COUNT(*) AS n,
           MIN(strftime(ts, '%Y-%m-%d')) AS first_date
    FROM events GROUP BY 1, 2
    """,
)
def datetime_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time extraction + bucketing (dow aligned to Spark's 1=Sunday)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("first_date"),
    )


@query(
    "case_value_bands",
    oracle="""
    SELECT event_type,
      CASE WHEN value < 10 THEN 'low'
           WHEN value < 50 THEN 'mid'
           ELSE 'high' END AS band,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def case_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 50, "mid")
        .otherwise("high")
    )
    return ev.groupBy("event_type", band.alias("band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


@query(
    "casts_and_trycasts",
    oracle="""
    SELECT event_id,
      TRY_CAST(event_type AS BIGINT) AS bad_cast,
      CAST(TRUNC(value) AS BIGINT) AS value_int,
      CAST(value AS VARCHAR) AS value_str
    FROM events WHERE event_id < 50
    """,
)
def casts_and_trycasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast / try_cast semantics (try_cast -> NULL on failure; double->int
    truncates toward zero in Spark, mirrored via TRUNC in the oracle)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    return ev.select(
        "event_id",
        F.col("event_type").try_cast("bigint").alias("bad_cast"),
        F.col("value").cast("bigint").alias("value_int"),
        F.col("value").cast("string").alias("value_str"),
    )


@query(
    "sessionize_users",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — lag + cumulative-sum window, the
    batch twin of streaming session_window."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, part_by=["user_id"], ts_col="ts", gap_seconds=1800)
    return s.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "sessionize_users_bucketed",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_users_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sessionize_users`` over a table BUCKETED on the window's partition
    key — the storage-level shuffle eliminator, exercised from the
    registered surface (not only unit tests). Bucketing events by user_id
    at write time satisfies the Window's ClusteredDistribution AND the
    downstream (user_id, session_id) group-by (same-user rows are already
    co-located), so the whole query plans with ZERO Exchange — pinned by
    tests/test_plans.py::test_sessionize_bucketed_query_has_no_exchange.
    At 100 TB this converts the fact table's per-query shuffle into a
    one-time write-side cost shared by every user_id-keyed query. Results
    are identical to sessionize_users (same oracle)."""
    import tempfile

    from cses2humio_spark.sources.catalog import write_bucketed

    ev = load_table(spark, sf_dir, "events")
    # idempotent per (session, sf_dir): rewrite is a no-op-equivalent
    # overwrite; external path keeps the static warehouse conf out of play
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    # key the layout by source mtime like the partitioned twin: a
    # regenerated testdata set must never silently reuse a stale layout
    src = os.path.join(sf_dir, "events.parquet")
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    table = f"b_events_{tag}_{mtime}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{table}")
    # write once per session (testdata dirs are immutable): repeat calls
    # measure the AMORTIZED cost — the whole point of bucketing is that
    # the shuffle is paid at write time, once, shared by every query
    if not spark.catalog.tableExists(table):
        write_bucketed(
            ev, table, "user_id", buckets=8, sorted_by="user_id", path=path
        )
    s = sessionize(
        spark.table(table), part_by=["user_id"], ts_col="ts", gap_seconds=1800
    )
    return s.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "hot_user_events_salted",
    oracle="""
    WITH skewed AS (
      SELECT CASE WHEN event_id % 10 <> 0 THEN 7 ELSE user_id END AS user_id,
             event_type, value
      FROM events
    ), dim AS (
      SELECT user_id, COUNT(*) AS n_total FROM events GROUP BY user_id
    )
    SELECT s.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(s.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(MAX(d.n_total) AS BIGINT) AS max_dim_total
    FROM skewed s JOIN dim d ON d.user_id = s.user_id
    GROUP BY s.event_type
    """,
)
def hot_user_events_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware fact-to-dim join from the registered surface: 90% of
    event rows are remapped onto ONE hot user (the deterministic skew
    shape — one tenant dominating a multi-tenant log stream), then joined
    to a per-user activity dim via ``salted_join``. The hot key spreads
    over 8 reducers instead of landing on one straggler (salting measured
    2.4x faster than AQE skew handling alone on a 70%-hot-key 40M-row
    join, docs/SCALING.md); the result set is provably identical to the
    plain join, which is exactly what the oracle computes."""
    from cses2humio_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events")
    skewed = ev.select(
        F.when(F.col("event_id") % 10 != 0, F.lit(7))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "value",
        "event_id",
    )
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_total"))
    joined = salted_join(skewed, dim, "user_id", salt=8, left_unique="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.max("n_total").cast("bigint").alias("max_dim_total"),
    )


@query(
    "timechart_errors_partitioned",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_start,
           COUNT(*) AS n_errors,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events WHERE event_type = 'error'
    GROUP BY date_trunc('hour', ts)
    """,
)
def timechart_errors_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``timechart_errors`` over a hive-partitioned (event_type=...) layout
    — the storage-level PRUNING twin: the `event_type = 'error'` predicate
    becomes a PartitionFilter, so non-error directories are never listed,
    let alone read (at 100 TB: a one-type query over a year of logs lists
    only that type's files). Written once per session (immutable testdata);
    same oracle as the plain-scan twin, so layout cannot change results.
    Plan contract: test_scale.py::test_partitioned_layout_prunes_directories.
    """
    import tempfile

    from cses2humio_spark.sources.catalog import write_partitioned

    ev = load_table(spark, sf_dir, "events")
    # path keyed by (sf_dir, source mtime): a regenerated testdata set can
    # never silently reuse a stale /tmp layout from a previous generation
    src = os.path.join(sf_dir, "events.parquet")
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_events_bytype_{tag}_{mtime}"
    )
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        write_partitioned(ev, path, "event_type")
    part = spark.read.parquet(path).filter(F.col("event_type") == "error")
    return timechart(
        part,
        ts_col="ts",
        span="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n_errors"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        ],
    )


@query(
    "xml_parse_extract",
    oracle="""
    SELECT event_id, event_type, value
    FROM events WHERE event_id < 400
    """,
)
def xml_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio parseXml analog: XML payloads (synthesized in-query from the
    base columns, the connector-query pattern) parsed with Spark 4
    ``from_xml`` — attribute (``_id``) and element extraction with typed
    schema. The oracle recomputes the expected fields straight from the
    base columns, so a parser regression (attribute handling, numeric
    round-trip) cannot cancel out. double -> string -> double round-trips
    exactly (shortest-repr formatting on both legs)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    xml = F.concat(
        F.lit('<ev id="'), F.col("event_id"), F.lit('"><type>'),
        F.col("event_type"), F.lit("</type><val>"), F.col("value"),
        F.lit("</val></ev>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "_id BIGINT, type STRING, val DOUBLE").alias("x")
    )
    return parsed.select(
        F.col("x._id").alias("event_id"),
        F.col("x.type").alias("event_type"),
        F.col("x.val").alias("value"),
    )


_ENT_CHARS = "list_transform(generate_series(1, length({s})), i -> {s}[i])"
_ENT_SQL = (
    "CASE WHEN length({s}) = 0 THEN 0.0 ELSE -1.0 * list_reduce("
    "list_transform(list_sort(list_distinct(" + _ENT_CHARS + ")), "
    "c -> (len(list_filter(" + _ENT_CHARS + ", x -> x = c)) "
    "/ CAST(length({s}) AS DOUBLE)) "
    "* log2(len(list_filter(" + _ENT_CHARS + ", x -> x = c)) "
    "/ CAST(length({s}) AS DOUBLE))), (a, b) -> a + b) END"
)


@query(
    "event_props_entropy",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(length(props) AS BIGINT) AS n_chars,
           ROUND({_ENT_SQL.format(s="props")}, 6) AS props_entropy
    FROM events WHERE event_id < 500
    """,
)
def event_props_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field Shannon entropy (the Humio ``shannonEntropy`` analog) over
    the raw props payload — the standard detector for DGA domains,
    encoded/encrypted blobs, and random tokens in security logs. Pure
    codegen HOFs (no UDF); the oracle recomputes the identical sorted-
    alphabet fold with list_reduce, so the float addition order matches
    bit-for-bit."""
    from cses2humio_spark.functions.text import shannon_entropy

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        "event_type",
        F.length("props").cast("bigint").alias("n_chars"),
        F.round(shannon_entropy(F.col("props")), 6).alias("props_entropy"),
    )


@query(
    "base64_field_roundtrip",
    oracle="""
    SELECT event_id,
           to_base64(encode(substr(props, 1, 40))) AS b64,
           decode(from_base64(to_base64(encode(substr(props, 1, 40)))))
             AS decoded,
           decode(from_base64(to_base64(encode(substr(props, 1, 40)))))
             = substr(props, 1, 40) AS roundtrip_ok
    FROM events WHERE event_id < 300
    """,
)
def base64_field_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio base64Decode/base64Encode analog over log fields (decoding
    encoded payloads is a daily security-log operation). Inputs are capped
    at 40 chars so the RFC 2045 76-char MIME line-wrap can never differ
    between engines; the round-trip equality column makes a decoder
    regression self-evident."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    field = F.substring(F.col("props"), 1, 40)
    b64 = F.base64(field.cast("binary"))
    decoded = F.unbase64(b64).cast("string")
    return ev.select(
        "event_id",
        b64.alias("b64"),
        decoded.alias("decoded"),
        (decoded == field).alias("roundtrip_ok"),
    )


@query(
    "token_explode_top20",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
)
def token_explode_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode + agg + deterministic global top-k (TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    agg = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return top_k(agg, [F.col("n").desc(), F.col("tok").asc()], 20)


@query(
    "array_funcs_docs",
    oracle="""
    SELECT doc_id,
      len(string_split_regex(trim(text), '\\s+')) AS n_toks,
      len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct,
      array_to_string(string_split_regex(trim(text), '\\s+')[1:3], ' ') AS first3,
      list_contains(string_split_regex(trim(text), '\\s+'), 'spark') AS has_spark
    FROM documents WHERE doc_id < 100
    """,
)
def array_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops: size / distinct / slice / join / contains over token
    arrays, all higher-order-function built-ins."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@query(
    "kv_parse_extract",
    oracle="""
    SELECT event_type AS etype, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id % 10 = 3
    GROUP BY event_type
    """,
)
def kv_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio kvParse: split a raw ``k=v k=v`` log line into a map, then
    filter and aggregate on the EXTRACTED fields only. The raw line is
    materialized here from the typed columns, so the oracle aggregates the
    originals directly — the hash match proves parse-extract is a faithful
    inverse of formatting. str_to_map is a JVM built-in; the whole
    build -> parse -> extract -> filter chain is one narrow map stage
    feeding the usual partial+final hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.concat_ws(
        " ",
        F.concat(F.lit("type="), F.col("event_type")),
        F.concat(F.lit("user="), F.col("user_id").cast("string")),
        F.concat(F.lit("val="), F.col("value").cast("string")),
    )
    kv = F.str_to_map(raw, F.lit(" "), F.lit("="))
    return (
        ev.select(kv.alias("kv"))
        .filter(F.element_at("kv", "user").cast("bigint") % 10 == 3)
        .groupBy(F.element_at("kv", "type").alias("etype"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.element_at("kv", "val").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "user_gap_stats_grouped_map",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), g AS (
      SELECT user_id,
             us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
      FROM e
    )
    SELECT user_id, COUNT(*) + 1 AS n_events,
      CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS mean_gap_us,
      MAX(gap) AS max_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def user_gap_stats_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user event inter-arrival stats
    computed imperatively inside each group (the API mode for per-key
    logic that outgrows window functions — sequence models, per-entity
    curve fitting). One shuffle on user_id; each group arrives as one
    Arrow batch. Gaps are integer microseconds so sums are exact and the
    window-function oracle hashes identically; ties on ts break by
    event_id on both sides. Users with a single event are dropped (no
    gaps), matching the oracle's WHERE gap IS NOT NULL."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        if len(pdf) < 2:
            return pd.DataFrame(
                columns=["user_id", "n_events", "mean_gap_us", "max_gap_us"]
            ).astype(
                {
                    "user_id": "int64",
                    "n_events": "int64",
                    "mean_gap_us": "float64",
                    "max_gap_us": "int64",
                }
            )
        d = pdf["us"].diff().dropna().astype("int64")
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "mean_gap_us": [float(d.sum()) / len(d)],
                "max_gap_us": [int(d.max())],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gaps,
        schema="user_id bigint, n_events bigint, mean_gap_us double, max_gap_us bigint",
    )


@query(
    "timechart_dense_errors",
    oracle="""
    WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                           date_trunc('hour', MAX(ts)) AS hi FROM events),
    spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM bounds),
    agg AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
            FROM events WHERE event_type = 'error' GROUP BY 1)
    SELECT CAST(FLOOR(epoch(bucket)) AS BIGINT) AS bucket_start,
           COALESCE(n, 0) AS n_errors,
           COALESCE(sv, 0.0) AS sum_value
    FROM spine LEFT JOIN agg USING (bucket)
    """,
)
def timechart_dense_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled timechart (Humio renders EMPTY buckets as zero; a bare
    GROUP BY silently drops them). The hour spine is generated from a
    one-row bounds aggregate with sequence()+explode — a projection, not a
    join — then the per-bucket aggregate left-joins onto it. The spine is
    tiny (one row per hour of retention: ~9k rows/year) so it broadcasts;
    the events side still does one partial+final agg shuffle."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sv"),
        )
    )
    spine = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket")
        )
    )
    return spine.join(agg, "bucket", "left").select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_start"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_errors"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )


@query(
    "top_users_with_other",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    r AS (SELECT user_id, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk FROM c)
    SELECT CASE WHEN rk <= 10 THEN CAST(user_id AS VARCHAR)
                ELSE 'other' END AS who,
           CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_users
    FROM r GROUP BY 1
    """,
)
def top_users_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio ``top(user_id, rest="other")``: the 10 noisiest users plus a
    single rollup row for everyone else — the shape that keeps dashboards
    from lying by omission. The global rank runs on the POST-aggregation
    relation (one row per user, already reduced), so the single-partition
    window sees |users| rows, not |events|; at extreme user cardinality
    the scale path is a two-level top-k (per-partition prune, then
    global)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        Window.orderBy(F.col("n").desc(), F.col("user_id"))
    )
    return (
        counts.withColumn("rk", rk)
        .select(
            F.when(F.col("rk") <= 10, F.col("user_id").cast("string"))
            .otherwise(F.lit("other"))
            .alias("who"),
            "n",
        )
        .groupBy("who")
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "top_users_with_other_two_level",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    r AS (SELECT user_id, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk FROM c)
    SELECT CASE WHEN rk <= 10 THEN CAST(user_id AS VARCHAR)
                ELSE 'other' END AS who,
           CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_users
    FROM r GROUP BY 1
    """,
)
def top_users_with_other_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale twin of ``top_users_with_other`` (VERDICT r6 #7): same
    answer, same oracle, NO global ranking window at all. The top-10 slice
    is TakeOrdered over the per-user counts (per-partition top-k + driver
    merge — two-level top-k, never a single-partition sort of |users|
    rows), and the 'other' rollup is arithmetic against the one-row corpus
    totals (total − top-slice), so nothing in the plan depends on user
    cardinality. Use this form when |users| is extreme; the original keeps
    the definitional window over the post-agg relation."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("user_id")).limit(10)
    top_rows = top.select(
        F.col("user_id").cast("string").alias("who"),
        F.col("n").alias("n_events"),
        F.lit(1).cast("bigint").alias("n_users"),
    )
    totals = counts.agg(
        F.sum("n").alias("__all_events"), F.count(F.lit(1)).alias("__all_users")
    )
    topsum = top.agg(
        F.sum("n").alias("__top_events"), F.count(F.lit(1)).alias("__top_users")
    )
    other = (
        totals.crossJoin(F.broadcast(topsum))
        .select(
            F.lit("other").alias("who"),
            (F.col("__all_events") - F.col("__top_events")).alias("n_events"),
            (F.col("__all_users") - F.col("__top_users")).alias("n_users"),
        )
        .filter(F.col("n_users") > 0)
    )
    return top_rows.unionByName(other)


@query(
    "timechart_value_percentiles",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_start,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.9), 4) AS p90,
           COUNT(*) AS n
    FROM events WHERE event_type = 'error'
    GROUP BY date_trunc('day', ts)
    """,
)
def timechart_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timechart(function=percentile(value, [50, 90])): exact interpolated
    per-day latency-style percentiles. Exact percentile sorts within each
    bucket; at 100 TB retention switch to percentile_approx (KLL), which
    merges map-side — the bucket key keeps either variant one shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"))
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.unix_timestamp(F.col("bucket")).alias("bucket_start"),
            "p50",
            "p90",
            "n",
        )
    )


@query(
    "url_parse_breakdown",
    oracle="""
    SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) || '.example.com' AS host,
           '/' || event_type AS path,
           COUNT(*) AS n,
           COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_k
    FROM events
    GROUP BY 1, 2
    """,
)
def url_parse_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio ``parseUrl()``: decompose request URLs into host / path /
    query-param columns and aggregate traffic per endpoint. The URL string
    is derived deterministically from event columns (the dataset carries no
    URL field), then inverted with the JVM ``parse_url`` expression — the
    oracle recomputes the components directly from the source columns, so
    a parse bug cannot cancel out. Pure map-side until the final agg."""
    ev = load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://svc-"),
        (F.col("user_id") % 5).cast("string"),
        F.lit(".example.com/"),
        F.col("event_type"),
        F.lit("?k="),
        F.get_json_object("props", "$.k"),
    )
    return (
        ev.withColumn("url", url)
        .select(
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("k")).alias("k"),
        )
        .groupBy("host", "path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("k")).alias("n_k"),
        )
    )


@query(
    "cidr_subnet_traffic",
    oracle="""
    SELECT CASE WHEN user_id % 256 < 64  THEN 'q1'
                WHEN user_id % 256 < 128 THEN 'q2'
                WHEN user_id % 256 < 192 THEN 'q3'
                ELSE 'q4' END AS subnet,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def cidr_subnet_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio ``cidr()``: classify traffic by subnet membership. The source
    IP is synthesized as a dotted quad, then pushed through the real CIDR
    machinery (string split → base-256 fold → prefix-aligned shiftright
    compare, all codegen'd JVM exprs — functions/net.py). The oracle
    classifies via independent modular arithmetic on the raw columns, so
    the string→long→prefix path is verified end-to-end."""
    from cses2humio_spark.functions.net import cidr_match

    ev = load_table(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        F.lit(10),
        (F.col("user_id") % 256).cast("string"),
        (F.col("event_id") % 256).cast("string"),
        ((F.col("event_id") * 7) % 254 + 1).cast("string"),
    )
    subnet = (
        F.when(cidr_match(F.col("ip"), "10.0.0.0/10"), "q1")
        .when(cidr_match(F.col("ip"), "10.64.0.0/10"), "q2")
        .when(cidr_match(F.col("ip"), "10.128.0.0/10"), "q3")
        .otherwise("q4")
    )
    return (
        ev.withColumn("ip", ip)
        .groupBy(subnet.alias("subnet"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


@query(
    "csv_parse_stats",
    oracle="""
    WITH lines AS (
      SELECT event_type || ',' ||
             CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ',' ||
             CAST(user_id AS VARCHAR) AS line
      FROM events
    ),
    parsed AS (
      SELECT split_part(line, ',', 1) AS etype,
             CAST(split_part(line, ',', 2) AS DOUBLE) AS val,
             CAST(split_part(line, ',', 3) AS BIGINT) AS uid
      FROM lines
    )
    SELECT etype, COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(12,2))) AS DOUBLE) AS sum_val,
           COUNT(DISTINCT uid) AS n_users
    FROM parsed GROUP BY etype
    """,
)
def csv_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio ``parseCsv()``: recover typed columns from delimited log
    lines via the JVM ``from_csv`` expression (schema'd, not split()-and-
    pray) and aggregate. The CSV text is rendered from typed columns
    through exact DECIMAL so both engines print identical digits; the
    oracle re-parses with independent split_part machinery."""
    ev = load_table(spark, sf_dir, "events")
    line = F.concat_ws(
        ",",
        F.col("event_type"),
        F.col("value").cast("decimal(12,2)").cast("string"),
        F.col("user_id").cast("string"),
    )
    parsed = ev.withColumn("line", line).select(
        F.from_csv(
            F.col("line"), "etype STRING, val DOUBLE, uid BIGINT"
        ).alias("p")
    )
    return (
        parsed.select("p.etype", "p.val", "p.uid")
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(12,2)")).cast("double").alias("sum_val"),
            F.count_distinct(F.col("uid")).alias("n_users"),
        )
    )


@query(
    "parse_timestamp_roundtrip",
    oracle="""
    WITH parsed AS (
      SELECT strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                      '%Y-%m-%d %H:%M:%S') AS rts
      FROM events
    )
    SELECT strftime(rts, '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           MIN(CAST(FLOOR(epoch(rts)) AS BIGINT)) AS first_second
    FROM parsed GROUP BY 1
    """,
)
def parse_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Humio ``parseTimestamp()``: logs arrive with rendered time strings;
    recover event time by format-string parsing (``to_timestamp`` with an
    explicit pattern — second precision, sub-second truncated) and bucket
    per day. Render→parse runs in both engines with their own format
    machinery; session tz is pinned UTC by load_table so epoch math is
    tz-free."""
    ev = load_table(spark, sf_dir, "events")
    rendered = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    reparsed = F.to_timestamp(rendered, "yyyy-MM-dd HH:mm:ss")
    return (
        ev.select(reparsed.alias("rts"))
        .groupBy(F.date_format(F.col("rts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_timestamp(F.col("rts"))).cast("bigint").alias("first_second"),
        )
    )


@query(
    "value_outliers_by_type",
    oracle="""
    WITH d AS (SELECT event_type, event_id,
                 CAST(value AS DECIMAL(18,6)) AS v FROM events),
    s AS (SELECT event_type,
            COUNT(*) AS n, SUM(v) AS sv, SUM(v * v) AS svv
          FROM d GROUP BY event_type),
    st AS (SELECT event_type, n,
             CAST(sv AS DOUBLE) / n AS mu,
             sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
                   * CAST(sv AS DOUBLE) / n) / (n - 1)) AS sigma
           FROM s)
    SELECT d.event_type,
      CAST(st.n AS BIGINT) AS n_events,
      ROUND(st.mu, 6) AS mean_value,
      ROUND(st.sigma, 6) AS stddev_value,
      CAST(SUM(CASE WHEN abs((CAST(d.v AS DOUBLE) - st.mu) / st.sigma) > 2.5
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      CAST(MIN(CASE WHEN abs((CAST(d.v AS DOUBLE) - st.mu) / st.sigma) > 2.5
               THEN d.event_id END) AS BIGINT) AS first_outlier_id
    FROM d JOIN st ON st.event_type = d.event_type
    GROUP BY d.event_type, st.n, st.mu, st.sigma
    """,
)
def value_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging per event type — the alerting primitive of
    log analytics, engineered for cross-engine determinism: the moments
    come from EXACT decimal sums (value quantized to DECIMAL(18,6);
    sum and sum-of-squares are then integer-exact, so mean/variance are
    identical doubles under ANY partitioning — a raw double SUM would be
    addition-order-dependent and flake the hash). Per-type stats (5 rows)
    broadcast-join back to the events for the |z| > 2.5 flag. Two fact
    passes, both map-side except the 5-group partial-agg shuffles."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", "event_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    st = s.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double") * F.col("sv").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    z = F.abs((F.col("v").cast("double") - F.col("mu")) / F.col("sigma"))
    return (
        d.join(F.broadcast(st), "event_type")
        .groupBy("event_type", "n", "mu", "sigma")
        .agg(
            F.sum(F.when(z > 2.5, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.min(F.when(z > 2.5, F.col("event_id"))).cast("bigint").alias("first_outlier_id"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.round("mu", 6).alias("mean_value"),
            F.round("sigma", 6).alias("stddev_value"),
            "n_outliers",
            "first_outlier_id",
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
                 FROM events),
    c AS (SELECT event_type, next_type, COUNT(*) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY event_type, next_type)
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
      ROUND(n / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
        AS transition_prob
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence transition matrix (Markov counts): for each
    ordered pair of consecutive events of one user, the count and the
    conditional probability P(next | current). Ordering ties on ts break
    by event_id so the sequence is total and engine-identical. One
    window partitioned by user (parallel across users), one small
    aggregation; the probability normalization windows over the 5x5
    transition table, not the events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(norm).cast("double"), 6).alias(
            "transition_prob"
        ),
    )


@query(
    "rolling_weekly_active_users",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id,
                   CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
                 FROM events),
    days AS (SELECT DISTINCT day FROM act),
    contrib AS (SELECT a.user_id, a.day + u.k AS day_d
                FROM act a, UNNEST(generate_series(0, 6)) AS u(k)),
    wau AS (SELECT day_d, COUNT(DISTINCT user_id) AS wau
            FROM contrib GROUP BY day_d)
    SELECT d.day AS day, CAST(w.wau AS BIGINT) AS wau
    FROM days d JOIN wau w ON w.day_d = d.day
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the sliding-window DISTINCT
    that naive formulations make quadratic (a distinct per window).
    Rewrite: each (user, active-day) row CONTRIBUTES to the 7 days it
    keeps the user active in (a k=0..6 offset explode), then one
    count-distinct per day. Work is |activity| x 7 narrow rows + one
    shuffle keyed by day — independent of raw event volume after the
    first distinct. Output restricted to days observed in the data."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("bigint")
    act = ev.select("user_id", day.alias("day")).distinct()
    days = act.select("day").distinct()
    contrib = act.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day_d")
    )
    wau = contrib.groupBy("day_d").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    return days.join(wau, days["day"] == wau["day_d"]).select("day", "wau")


@query(
    "cusum_drift_alarms",
    oracle="""
    WITH r AS (SELECT user_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS i
               FROM events),
    rec AS (
      WITH RECURSIVE walk AS (
        SELECT user_id, i, greatest(0.0, value - 60.0) AS s
        FROM r WHERE i = 1
        UNION ALL
        SELECT r.user_id, r.i, greatest(0.0, w.s + (r.value - 60.0)) AS s
        FROM walk w JOIN r ON r.user_id = w.user_id AND r.i = w.i + 1
      )
      SELECT * FROM walk)
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(MAX(s), 6) AS max_cusum,
      CAST(SUM(CASE WHEN s > 500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
      CAST(MIN(CASE WHEN s > 500.0 THEN i END) AS BIGINT) AS first_alarm_step
    FROM rec GROUP BY user_id
    """,
)
def cusum_drift_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (k=60 drift allowance,
    h=500 alarm): the inherently-sequential recurrence s_i = max(0,
    s_{i-1} + x_i - k) scanned per key via ``applyInPandas`` — the honest
    Python case (no window aggregate expresses a stateful recurrence).
    Keys scan in parallel; the oracle REPLAYS the identical recurrence
    with a DuckDB recursive CTE over the same (ts, event_id) total order,
    and because every update is an IEEE-exact op (+, -, max), the two
    engines agree bit-for-bit — only the final max is rounded for the
    hash."""
    from cses2humio_spark.operators.drift import cusum_per_key

    ev = load_table(spark, sf_dir, "events")
    out = cusum_per_key(
        ev.select("user_id", "ts", "event_id", "value"),
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        drift_k=60.0,
        alarm_h=500.0,
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("max_cusum", 6).alias("max_cusum"),
        "n_alarms",
        "first_alarm_step",
    )


@query("weekly_active_users_sketch")  # sketch bytes are engine-specific -> rows-only
def weekly_active_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users from MERGED PER-DAY HLL SKETCHES
    (Datasketches, Spark 3.5+ `hll_sketch_agg`/`hll_union_agg`) — the
    pattern that makes rolling distincts tractable at 100 TB: each day
    aggregates its users ONCE into a fixed-size sketch (the only pass
    over raw events), and every 7-day window is then a union of 7 tiny
    sketches — re-aggregation cost is days x sketch-size, with no second
    pass over events, and the same stored sketches answer 30-day or
    all-time windows. Sketch serialization is engine-specific, so this
    is rows-only; tests/test_approx.py bounds the estimate against the
    EXACT offset-explode twin (rolling_weekly_active_users)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("bigint")
    daily = (
        ev.select(day.alias("day"), "user_id")
        .groupBy("day")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    )
    # each day's sketch contributes to the 7 windows it belongs to —
    # same offset-explode shape as the exact twin, but over |days| rows
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day_d"), "sk"
    )
    days = daily.select(F.col("day").alias("day_d"))
    wau = contrib.groupBy("day_d").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").cast("bigint").alias(
            "approx_wau"
        )
    )
    return (
        days.join(wau, "day_d")
        .select(F.col("day_d").alias("day"), "approx_wau")
    )

def _geohash_heatmap_oracle() -> str:
    from cses2humio_spark.functions.geo import geohash_encode_sql_parts

    lat_idx, lng_idx, comb, chars = geohash_encode_sql_parts(
        "((user_id * 37) % 18000) / 100.0 - 90.0",
        "((event_id * 91) % 36000) / 100.0 - 180.0",
        5,
    )
    return f"""
    WITH qi AS (SELECT {lat_idx} AS __lat, {lng_idx} AS __lng FROM events),
    gh AS (SELECT ({comb}) AS __gh FROM qi),
    cells AS (SELECT {chars} AS gh FROM gh)
    SELECT gh, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM cells GROUP BY gh
    ORDER BY n_events DESC, gh ASC LIMIT 100
    """


@query("geohash_event_heatmap", oracle=_geohash_heatmap_oracle())
def geohash_event_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash heat map (the LogScale worldMap dashboard primitive):
    events get deterministic synthetic coordinates (integer arithmetic
    over ids — identical in both engines), are geohash-encoded at
    precision 5 in PURE CODEGEN (quantize lat/lng, interleave the bits
    with an unrolled shift/mask sum, map 5-bit groups through the base32
    alphabet — no UDF), and counted per cell; top-100 cells by count.
    The encoder matches the standard geohash (Wikipedia test vectors
    pinned in tests/test_text.py) and the oracle replays the identical
    bit arithmetic from the shared SQL builder."""
    from cses2humio_spark.functions.geo import geohash_encode

    ev = load_table(spark, sf_dir, "events")
    lat = ((F.col("user_id") * 37) % 18000).cast("double") / 100.0 - 90.0
    lng = ((F.col("event_id") * 91) % 36000).cast("double") / 100.0 - 180.0
    return (
        ev.select(geohash_encode(lat, lng, 5).alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("gh").asc())
        .limit(100)
    )

