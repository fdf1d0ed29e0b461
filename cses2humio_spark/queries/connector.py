"""Driver-visible connector queries: the enrichment pipeline (SURVEY.md
§2.1 R4-R8) exercised batch-mode over deterministic NDJSON synthesized
in-query from events.parquet. Because the JSON is built from base columns,
the DuckDB oracle recomputes expected envelopes directly from those columns
— no JSON support needed oracle-side, yet the Spark side runs the REAL
parse_events/enrich_events path used by the streaming pipeline.

Streaming mechanics (micro-batch, checkpoint resume, watermark dedup,
session windows) are non-SQL-expressible; they are covered by
tests/test_streaming.py and the rows-only ``streaming_pipeline_demo``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cses2humio_spark.queries.registry import query
from cses2humio_spark.sources.catalog import load_table
from cses2humio_spark.streaming.pipeline import enrich_events, parse_events

#: Per-stage wall seconds of the LAST run of each composed pipeline
#: query, keyed by query name. The pipelines' bench standings are full
#: end-to-end walls dominated by streaming fixed costs (feed drain,
#: checkpoint WAL), so a multiple-x regression in one SCALE-BEARING stage
#: (admission, index ingest, search) could hide inside the 2x end-to-end
#: gate. bench.py copies this into its JSON as ``pipeline_stages`` —
#: informational, the gate stays the total wall.
PIPELINE_STAGE_WALLS: dict[str, dict[str, float]] = {}


def _synth_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Falcon-shaped NDJSON lines from events.parquet:
    offset=event_id, eventCreationTime=epoch-ms(ts), payload carries
    user_id/value plus an AuditKeyValues list that collides with payload
    key 'vt' (exercises last-wins) and lifts k from props."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    payload = F.struct(
        F.col("user_id"),
        F.col("value").alias("vt"),
        F.array(
            F.struct(F.lit("vt").alias("Key"), F.lit("override").alias("ValueString")),
            F.struct(
                F.lit("k_lifted").alias("Key"),
                F.get_json_object(F.col("props"), "$.k").alias("ValueString"),
            ),
        ).alias("AuditKeyValues"),
    )
    line = F.to_json(
        F.struct(
            F.struct(
                F.col("event_id").alias("offset"),
                F.unix_millis(F.col("ts")).alias("eventCreationTime"),
                F.col("event_type").alias("eventType"),
            ).alias("metadata"),
            payload.alias("event"),
        )
    )
    return ev.select(line.alias("value"))


@query(
    "connector_enrich_envelope",
    oracle=r"""
    SELECT event_id AS offset,
           epoch_ms(ts) AS timestamp,
           event_type AS eventType,
           CAST(user_id AS VARCHAR) AS user_id_str,
           'override' AS vt,
           regexp_extract(props, '"k":\s*(\d+)', 1) AS k_lifted
    FROM events WHERE event_id < 1000
    """,
)
def connector_enrich_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R7 through the real pipeline: parse -> envelope -> KV flatten
    (last-wins 'override' beats payload 'vt'; values stringly)."""
    enveloped = enrich_events(parse_events(_synth_lines(spark, sf_dir)))
    ev = F.col("attributes.event")
    return enveloped.select(
        F.col("attributes.metadata.offset").alias("offset"),
        F.col("timestamp"),
        F.col("attributes.metadata.eventType").alias("eventType"),
        ev["user_id"].alias("user_id_str"),
        ev["vt"].alias("vt"),
        ev["k_lifted"].alias("k_lifted"),
    )


@query(
    "connector_enrich_envelope_variant",
    oracle=r"""
    SELECT event_id AS offset,
           epoch_ms(ts) AS timestamp,
           event_type AS eventType,
           CAST(user_id AS VARCHAR) AS user_id_str,
           'override' AS vt,
           regexp_extract(props, '"k":\s*(\d+)', 1) AS k_lifted
    FROM events WHERE event_id < 1000
    """,
)
def connector_enrich_envelope_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-path PARITY TWIN of ``connector_enrich_envelope`` — same
    oracle, same output columns, but the payload rides Spark 4's
    VariantType end to end (``parse_events_variant``) instead of the
    declared-schema struct path. The generic KV flatten (R6/R7 last-wins
    fold, ``_flatten_event``) is applied to the variant-cast event map +
    AuditKeyValues array, so BOTH parse paths are pinned green against one
    oracle and a Spark upgrade that shifts Variant semantics fails loudly
    here."""
    from cses2humio_spark.streaming.pipeline import (
        _flatten_event,
        parse_events_variant,
    )

    parsed = parse_events_variant(_synth_lines(spark, sf_dir))
    ev = F.col("event_variant")
    keys = [F.col("offset"), F.col("timestamp"), F.col("eventType")]
    # the fold reads named columns, so the variant casts are selected first
    flat = parsed.select(
        *keys,
        F.variant_get(ev, "$", "map<string,string>").alias("__event_map"),
        F.variant_get(
            ev, "$.AuditKeyValues", "array<struct<Key string, ValueString string>>"
        ).alias("__akv"),
    ).select(*keys, _flatten_event("__event_map", "__akv").alias("event"))
    return flat.select(
        *keys,
        F.col("event")["user_id"].alias("user_id_str"),
        F.col("event")["vt"].alias("vt"),
        F.col("event")["k_lifted"].alias("k_lifted"),
    )


@query(
    "connector_static_metadata",
    oracle="""
    SELECT COUNT(*) AS n, 'h1' AS host, 's1' AS stream
    FROM events WHERE event_id < 1000
    """,
)
def connector_static_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8: constant-column enrichment (@host/@stream, app.py:129-130)."""
    enveloped = enrich_events(
        parse_events(_synth_lines(spark, sf_dir)),
        app_id="s1",
        with_metadata=True,
        host="h1",
    )
    return enveloped.groupBy(
        F.col("attributes.@host").alias("host"),
        F.col("attributes.@stream").alias("stream"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "connector_malformed_drop_rate",
    oracle="""
    SELECT COUNT(*) AS n_parsed,
           CAST(MAX(event_id) AS BIGINT) AS max_offset
    FROM events WHERE event_id < 1000 AND event_id % 7 != 0
    """,
)
def connector_malformed_drop_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 + invariant 2: corrupt every 7th line; parsed count and max
    committable offset must come from surviving records only."""
    lines = _synth_lines(spark, sf_dir)
    off = F.get_json_object(F.col("value"), "$.metadata.offset").cast("bigint")
    corrupted = lines.select(
        F.when(off % 7 == 0, F.substring(F.col("value"), 1, 20))
        .otherwise(F.col("value"))
        .alias("value")
    )
    parsed = parse_events(corrupted)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_parsed"),
        F.max("metadata.offset").alias("max_offset"),
    )


@query("streaming_pipeline_demo")  # streaming mechanics -> rows-only check
def streaming_pipeline_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming run (file source -> parse -> enrich
    -> memory sink) over a small synthesized NDJSON drop dir. Returns the
    enveloped rows; non-SQL-expressible (micro-batch/checkpoint mechanics),
    so the driver records a rows-only check."""
    lines = _synth_lines(spark, sf_dir).limit(200).collect()
    tmpdir = tempfile.mkdtemp(prefix="sgraft_stream_")
    src = os.path.join(tmpdir, "src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "a.ndjson"), "w") as f:
        f.write("\n".join(r.value for r in lines) + "\n")

    from cses2humio_spark.sources.event_source import ndjson_stream

    enveloped = enrich_events(parse_events(ndjson_stream(spark, src)))
    name = "streaming_pipeline_demo_sink"
    q = (
        enveloped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT timestamp, rawstring, attributes.metadata.offset AS offset "
        f"FROM {name}"
    )


@query(
    "connector_event_map_pivot",
    oracle=r"""
    SELECT event_id AS offset,
           regexp_extract(props, '"k":\s*(\d+)', 1) AS k_lifted,
           CAST(user_id AS VARCHAR) AS user_id,
           'override' AS vt
    FROM events WHERE event_id < 1000
    """,
)
def connector_event_map_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7.5: the streaming path keeps flattened attributes as
    map<string,string>; this is the batch pivot-to-columns — key universe
    discovered in a first pass (NOT hardcoded), one column per key in a
    second. Key order is sorted, so the schema is deterministic."""
    from cses2humio_spark.operators.reshape import pivot_map_to_columns

    enveloped = enrich_events(parse_events(_synth_lines(spark, sf_dir)))
    flat = enveloped.select(
        F.col("attributes.metadata.offset").alias("offset"),
        F.col("attributes.event").alias("event"),
    )
    return pivot_map_to_columns(flat, "event")


@query(
    "connector_variant_extract",
    oracle=r"""
    SELECT event_id AS offset,
           epoch_ms(ts) AS ts_ms,
           event_type AS eventType,
           user_id,
           ROUND(value, 2) AS vt,
           'override' AS akv0
    FROM events WHERE event_id < 1000
    """,
)
def connector_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path (SURVEY §1.7): the schemaless payload is
    kept as ONE binary variant column — no declared schema — and every
    path (scalars, array elements) is extracted with variant_get. Typed
    extraction from the variant is oracle-checked against the base
    columns the JSON was synthesized from."""
    from cses2humio_spark.streaming.pipeline import parse_events_variant

    parsed = parse_events_variant(_synth_lines(spark, sf_dir))
    ev = F.col("event_variant")
    return parsed.select(
        F.col("offset"),
        F.col("timestamp").alias("ts_ms"),
        F.col("eventType"),
        F.variant_get(ev, "$.user_id", "bigint").alias("user_id"),
        F.round(F.variant_get(ev, "$.vt", "double"), 2).alias("vt"),
        F.variant_get(ev, "$.AuditKeyValues[0].ValueString", "string").alias(
            "akv0"
        ),
    )


@query(
    "rollup_materialized_counts",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events WHERE event_id < 3000 GROUP BY event_type
    """,
)
def rollup_materialized_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental materialized rollup, ORACLE-CHECKED end to end:
    events rendered as Falcon-shaped NDJSON drop files (one per
    event_id%3 chunk, written distributed — no driver collect), streamed
    through the connector pipeline (maxFilesPerTrigger=1 → one
    micro-batch per file) into ``IncrementalRollup``, and the final
    committed table version compared against a one-shot batch
    aggregation of the same rows. The rolled-up value is integer cents (round(value*100)) so
    every per-batch delta and the cross-batch merge are exact in doubles
    — the equality is bit-wise, not approximate. Proves the versioned
    merge + atomic pointer commit produces the same answer as batch
    recomputation regardless of batching."""
    import shutil

    from cses2humio_spark.sources.event_source import ndjson_stream
    from cses2humio_spark.streaming.materialized import IncrementalRollup
    from cses2humio_spark.streaming.pipeline import run_pipeline

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    line = F.to_json(
        F.struct(
            F.struct(
                F.col("event_id").alias("offset"),
                F.unix_millis(F.col("ts")).alias("eventCreationTime"),
            ).alias("metadata"),
            F.struct(
                F.col("event_type").alias("et"),
                F.round(F.col("value") * 100, 0).alias("cents"),
            ).alias("event"),
        )
    ).alias("value")
    tmpdir = tempfile.mkdtemp(prefix="sgraft_rollup_")
    try:
        # Synthesize the drop files with a DISTRIBUTED write, so no row
        # of the events table is collected onto the driver (that would
        # scale driver memory with the fact table): each row is
        # assigned a deterministic chunk (event_id % 3), written by
        # Spark as one text file per chunk, then MOVED (a metadata
        # op — no row ever crosses the driver) into the stream source
        # dir with strictly increasing mtimes, because the file stream
        # source orders micro-batches by modification time, not name.
        import glob as _glob
        import time as _time

        staging = os.path.join(tmpdir, "staging")
        (
            ev.select(line, (F.col("event_id") % 3).cast("int").alias("chunk"))
            .repartition("chunk")
            .write.partitionBy("chunk")
            .text(staging)
        )
        src = os.path.join(tmpdir, "src")
        os.makedirs(src)
        base = _time.time()
        n_files = 0
        for d in sorted(_glob.glob(os.path.join(staging, "chunk=*"))):
            for p in sorted(_glob.glob(os.path.join(d, "part-*"))):
                dst = os.path.join(src, f"{n_files}.ndjson")
                shutil.move(p, dst)
                os.utime(dst, (base + n_files, base + n_files))
                n_files += 1

        rollup = IncrementalRollup(
            os.path.join(tmpdir, "table"), key_col="event_type", value_col="cents"
        )

        def sink(batch_df, batch_id):
            keyed = batch_df.select(
                F.col("attributes.event")["et"].alias("event_type"),
                F.col("attributes.event")["cents"].cast("double").alias("cents"),
            )
            rollup(keyed, batch_id)

        q = run_pipeline(
            ndjson_stream(spark, src, max_files_per_trigger=1),
            sink,
            os.path.join(tmpdir, "ckpt"),
            available_now=True,
        )
        q.awaitTermination()
        out = rollup.read(spark).select(
            "event_type",
            "n_rows",
            F.col("total").cast("bigint").alias("total_cents"),
        )
        # materialize before the temp table dir disappears
        final = out.collect()
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return spark.createDataFrame(
        final, "event_type string, n_rows bigint, total_cents bigint"
    )


@query("alert_rules_demo")  # streaming alert mechanics -> rows-only check
def alert_rules_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end alert-rule run (``streaming/alerts.py``): three HQL
    saved searches attached to a file stream of the events table; the
    firing alert records come back as a DataFrame. Non-SQL-expressible
    (foreachBatch mechanics), so the driver records a rows-only check —
    the rule/threshold semantics themselves are pinned batch-side in
    tests/test_alerts.py."""
    import shutil

    from cses2humio_spark.streaming.alerts import AlertRule, run_alert_rules

    tmpdir = tempfile.mkdtemp(prefix="sgraft_alerts_")
    try:
        src = os.path.join(tmpdir, "src")
        os.makedirs(src)
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src, "p.parquet"),
        )
        sch = spark.read.parquet(src).schema
        stream = spark.readStream.schema(sch).parquet(src)
        rules = [
            AlertRule("errors_present", "#event_type = error | count()",
                      value_column="_count", threshold=1),
            AlertRule("hot_users", "event_type = error | top(user_id, limit=5)",
                      min_rows=1),
            AlertRule("never_fires", "event_type = nosuchtype | count()",
                      value_column="_count", threshold=1),
        ]
        got: list[dict] = []
        q = run_alert_rules(
            stream,
            rules,
            on_alerts=got.extend,
            checkpoint_dir=os.path.join(tmpdir, "ckpt"),
            trigger_available_now=True,
        )
        if not q.awaitTermination(120):
            # timeout: stop the query BEFORE the finally-rmtree pulls its
            # source/checkpoint dirs out from under it
            q.stop()
            raise TimeoutError("alert_rules_demo stream did not finish in 120s")
        return spark.createDataFrame(
            [(a["batch_id"], a["rule"], float(a["observed"])) for a in got],
            "batch_id long, rule string, observed double",
        )
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


@query(
    "cdc_upsert_latest_state",
    oracle="""
    WITH src AS (SELECT user_id, event_id, event_type,
                        CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                        (event_id % 19 = 0) AS del
                 FROM events WHERE event_id < 3000),
    latest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY event_id DESC) AS rn FROM src)
    SELECT user_id, event_id AS last_seq, event_type AS last_type,
           cents AS last_cents
    FROM latest WHERE rn = 1 AND NOT del
    """,
)
def cdc_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed UPSERT table (streaming/materialized.py::
    KeyedUpsertTable — lakehouse MERGE INTO semantics on the sharded-MV
    machinery), ORACLE-CHECKED end to end: events stream as a CDC feed
    in three micro-batches (key = user_id, seq = event_id, tombstone =
    every 19th event), and the final committed table must equal the
    one-shot SQL "latest row per key, minus keys whose latest is a
    delete". The merge is an associative/commutative max over (seq,
    payload), so the stored state is provably independent of batch
    boundaries — which is exactly what the oracle comparison
    demonstrates. Integer cents keep the equality bit-wise."""
    import shutil

    from cses2humio_spark.streaming.materialized import KeyedUpsertTable

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select(
            "user_id",
            F.col("event_id").alias("seq"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            (F.col("event_id") % 19 == 0).alias("del"),
        )
    )
    tmpdir = tempfile.mkdtemp(prefix="sgraft_upsert_")
    try:
        src = os.path.join(tmpdir, "src")
        for i in range(3):
            ev.filter(F.col("seq") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, f"chunk={i}"))
        table = KeyedUpsertTable(
            os.path.join(tmpdir, "table"),
            key_cols="user_id",
            seq_col="seq",
            value_cols=["event_type", "cents"],
            tombstone_col="del",
        )
        sch = ev.schema
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "chunk=*"))
        )
        q = (
            stream.writeStream.foreachBatch(table)
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("cdc upsert stream did not finish in 120s")
        out = table.read(spark).select(
            "user_id",
            F.col("seq").alias("last_seq"),
            F.col("event_type").alias("last_type"),
            F.col("cents").alias("last_cents"),
        )
        final = out.collect()  # materialize before the table dir vanishes
        return spark.createDataFrame(final, out.schema)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


@query(
    "falcon_feed_http_demo",
    oracle="""
    SELECT CAST(event_id % 2 AS INT) AS partition,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_offset,
           CAST(MAX(event_id) AS BIGINT) AS max_offset,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id
    FROM events WHERE event_id < 300 GROUP BY 1
    """,
)
def falcon_feed_http_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 end to end through the NATIVE chunked-HTTP source: a
    two-partition fake feed (sources/fake_feed.py — offset query-param
    replay, keep-alive blanks, token auth, held-open chunked response;
    the exact transport of app.py:93-102) serves Falcon-shaped events
    synthesized from events.parquet, the ``falcon_feed`` Python Data
    Source (sources/http_feed.py) streams them with per-partition
    offsets, and the result is aggregated per partition — counts,
    offset range, and a payload-integrity sum the oracle recomputes from
    the base columns. Proves the full path: partition-from-URL,
    authoritative metadata.offset positions, auth header, keep-alive
    skip, availableNow drain."""
    import shutil

    from cses2humio_spark.sources import http_feed
    from cses2humio_spark.sources.fake_feed import FakeFeedServer

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    line = F.to_json(
        F.struct(
            F.struct(
                F.col("event_id").alias("offset"),
                F.unix_millis(F.col("ts")).alias("eventCreationTime"),
                F.col("event_type").alias("eventType"),
            ).alias("metadata"),
            F.struct(F.col("user_id")).alias("event"),
        )
    )
    # bounded collect: event_id < 300 caps this at 300 rows at EVERY
    # scale factor — fixture synthesis for the in-memory fake feed, not
    # a data path (the streamed rows never route through this list)
    rows = (
        ev.select((F.col("event_id") % 2).cast("int").alias("p"), line.alias("v"))
        .orderBy("p", "v")
        .collect()
    )
    feed: dict[int, list[str]] = {0: [], 1: []}
    for r in rows:
        feed[r.p].append(r.v)
    srv = FakeFeedServer(feed, token="demo-token").start()
    tmpdir = tempfile.mkdtemp(prefix="sgraft_feed_demo_")
    got: list = []
    try:
        http_feed.register(spark)

        def sink(batch_df, _bid):
            got.extend(batch_df.collect())

        q = (
            spark.readStream.format("falcon_feed")
            .option("urls", srv.urls)
            .option("token", "demo-token")
            .option("quiet_ms", "800")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError("falcon_feed demo stream did not finish in 180s")
    finally:
        srv.stop()
        shutil.rmtree(tmpdir, ignore_errors=True)
    streamed = spark.createDataFrame(
        [(r.partition, r.offset, r.value) for r in got],
        "partition int, offset bigint, value string",
    )
    return streamed.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.sum(
            F.get_json_object(F.col("value"), "$.event.user_id").cast("bigint")
        ).alias("sum_user_id"),
    )


@query(
    "falcon_feed_pipeline_timechart",
    oracle="""
    SELECT CAST(FLOOR(epoch_ms(ts) / 3600000) AS BIGINT) AS hour_bucket,
           event_type AS eventType,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_id < 1000 GROUP BY 1, 2
    """,
)
def falcon_feed_pipeline_timechart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference pipeline through the native source, in one
    streaming query: chunked-HTTP feed (``falcon_feed`` over a
    two-partition fake) -> R3 decode -> R4 permissive parse -> R5
    envelope (``parse_events``/``enrich_events``, the same stages the
    production pipeline runs) -> memory sink, then the Humio-analog
    hourly timechart over the enveloped rows. A user of the reference
    points it at a feed URL and charts events-per-hour in Humio; this
    query is that exact path on the engine, oracle-checked against plain
    SQL over the base columns. Hour buckets are integer epoch-ms
    arithmetic (floor(ts_ms / 3600000)) so no session timezone can touch
    the result."""
    import shutil
    import uuid

    from cses2humio_spark.sources import http_feed
    from cses2humio_spark.sources.fake_feed import FakeFeedServer

    # bounded collect: event_id < 1000 caps the fixture at 1000 rows at
    # every scale factor — feed synthesis, not a data path
    lines = _synth_lines(spark, sf_dir).collect()
    feed: dict[int, list[str]] = {0: [], 1: []}
    for r in lines:
        off = json.loads(r.value)["metadata"]["offset"]
        feed[off % 2].append(r.value)
    for p in feed:
        feed[p].sort(key=lambda s: json.loads(s)["metadata"]["offset"])
    srv = FakeFeedServer(feed, token="pipe-token").start()
    tmpdir = tempfile.mkdtemp(prefix="sgraft_feed_pipe_")
    name = f"falcon_pipe_sink_{uuid.uuid4().hex[:8]}"
    try:
        http_feed.register(spark)
        stream = (
            spark.readStream.format("falcon_feed")
            .option("urls", srv.urls)
            .option("token", "pipe-token")
            .option("quiet_ms", "800")
            .load()
            .select("value")
        )
        enveloped = enrich_events(parse_events(stream))
        q = (
            enveloped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError("falcon_feed pipeline did not finish in 180s")
        env = spark.table(name)
        out = (
            env.groupBy(
                F.floor(F.col("timestamp") / 3600000)
                .cast("bigint")
                .alias("hour_bucket"),
                F.col("attributes.metadata.eventType").alias("eventType"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # materialize before the memory sink table goes away
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        srv.stop()
        shutil.rmtree(tmpdir, ignore_errors=True)
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 — sink table may not exist
            pass


def _drain_feed_admission(
    spark: SparkSession,
    stage_walls: dict[str, float],
    batch: DataFrame,
    id_col: str,
    payload_col: str,
    parse,
    admit,
    ingest,
    ckpt: str,
) -> None:
    """The feed pipelines' one admission loop. ``batch`` (bounded: at
    most 300 rows at every scale factor) is served by a two-partition
    fake feed (partition = id % 2, id order) and drained under
    availableNow, its raw rows parsed by ``parse``; each micro-batch is
    decided by ``admit(bdf, bid)`` (an index's replay-guarded
    ``admit_and_ingest``) and its admitted rows go to ``ingest(df,
    bid)``. Records the feed_fixture, admission, index_ingest and
    feed_drain walls in ``stage_walls``."""
    from cses2humio_spark.sources import http_feed
    from cses2humio_spark.sources.fake_feed import FakeFeedServer

    t0 = time.perf_counter()
    rows = batch.select(id_col, payload_col).collect()
    feed: dict[int, list[str]] = {0: [], 1: []}
    for r in sorted(rows, key=lambda r: r[id_col]):
        p = int(r[id_col] % 2)
        feed[p].append(
            json.dumps(
                {
                    "metadata": {"offset": len(feed[p])},
                    "event": {
                        id_col: int(r[id_col]),
                        payload_col: r[payload_col],
                    },
                }
            )
        )
    srv = FakeFeedServer(feed, token="feed-token").start()
    stage_walls["feed_fixture"] = round(time.perf_counter() - t0, 3)
    try:
        http_feed.register(spark)
        parsed = parse(
            spark.readStream.format("falcon_feed")
            .option("urls", srv.urls)
            .option("token", "feed-token")
            .option("quiet_ms", "800")
            .load()
        )

        def process(bdf, bid):
            ta = time.perf_counter()
            d = admit(bdf, bid)
            if d is None:
                return  # replayed micro-batch
            admitted = bdf.join(
                d.filter(F.col("reason") == "admitted").select(id_col),
                on=id_col,
                how="left_semi",
            )
            ti = time.perf_counter()
            stage_walls["admission"] = stage_walls.get("admission", 0.0) + (
                ti - ta
            )
            ingest(admitted, bid)
            stage_walls["index_ingest"] = stage_walls.get(
                "index_ingest", 0.0
            ) + (time.perf_counter() - ti)
            # d is an eager localCheckpoint: its RDD storage is reclaimed
            # by the ContextCleaner once this scope drops the reference

        t0 = time.perf_counter()
        q = (
            parsed.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(240):
            q.stop()
            raise TimeoutError("feed admission stream did not finish in 240s")
        drain = time.perf_counter() - t0
    finally:
        srv.stop()
    # feed_drain = stream wall MINUS the in-batch processing stages
    stage_walls["feed_drain"] = round(
        drain
        - stage_walls.get("admission", 0.0)
        - stage_walls.get("index_ingest", 0.0),
        3,
    )
    for k in ("admission", "index_ingest"):
        if k in stage_walls:
            stage_walls[k] = round(stage_walls[k], 3)


_FEED_ADM_TERMS = ("spark", "join", "window")
_FEED_TOKS = "string_split_regex(trim(text), '\\s+')"


@query(
    "feed_admission_index_pipeline",
    oracle=rf"""
    WITH RECURSIVE
    t AS (SELECT doc_id, {_FEED_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
           FROM t, UNNEST(generate_series(1, len(toks)-2)) AS u(i)
           WHERE len(toks) >= 3),
    sig AS (SELECT doc_id, band,
                   MIN(md5('b' || band || 'h0:' || sh))
                   || MIN(md5('b' || band || 'h1:' || sh)) AS sig
            FROM sh, (SELECT UNNEST(generate_series(0,3)) AS band) b
            GROUP BY doc_id, band),
    g8 AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS g
           FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
           WHERE len(toks) >= 8),
    ev8 AS (SELECT DISTINCT g FROM g8
            WHERE doc_id % 7 = 0 AND doc_id < 1000),
    idx AS (SELECT DISTINCT doc_id FROM sig
            WHERE doc_id % 5 != 3 AND doc_id < 1000),
    batch AS (SELECT doc_id FROM documents
              WHERE doc_id < 1000
                AND (doc_id % 5 = 3 OR doc_id % 10 = 0)),
    fresh AS (SELECT doc_id FROM batch
              WHERE doc_id NOT IN (SELECT doc_id FROM idx)),
    cst AS (SELECT tr.doc_id, COUNT(*) AS n_ngrams,
                   SUM(CASE WHEN ev8.g IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_matched
            FROM (SELECT DISTINCT g8.doc_id, g8.g
                  FROM g8 JOIN fresh f ON f.doc_id = g8.doc_id) tr
            LEFT JOIN ev8 ON ev8.g = tr.g
            GROUP BY 1),
    cont AS (SELECT doc_id FROM cst
             WHERE n_matched / CAST(n_ngrams AS DOUBLE) >= 0.5),
    clean AS (SELECT doc_id FROM fresh
              WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
    psig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN clean f ON f.doc_id = s.doc_id),
    isig AS (SELECT s.doc_id, s.band, s.sig
             FROM sig s JOIN idx i ON i.doc_id = s.doc_id),
    cpair AS (SELECT DISTINCT p.doc_id AS id_a, i.doc_id AS id_b
              FROM psig p JOIN isig i ON i.band = p.band
                                     AND i.sig = p.sig
              WHERE p.doc_id != i.doc_id),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
    cinter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM cpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    crej AS (SELECT i.id_a AS doc_id, MIN(i.id_b) AS cp
             FROM cinter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM psig a JOIN psig b ON a.band = b.band
                                     AND a.sig = b.sig
                                     AND a.doc_id < b.doc_id),
    binter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
               FROM bpair c
               JOIN dsh a ON a.doc_id = c.id_a
               JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
               GROUP BY 1, 2),
    bjac AS (SELECT i.id_a, i.id_b
             FROM binter i
             JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
             WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
                   >= 0.5),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bjac
           UNION ALL SELECT id_b, id_a FROM bjac),
    reach AS (SELECT doc_id AS id, doc_id AS label FROM clean
              UNION
              SELECT b.src, r.label FROM reach r JOIN bi b ON b.dst = r.id),
    comp AS (SELECT id AS doc_id, MIN(label) AS rep FROM reach GROUP BY id),
    admitted AS (
      SELECT b.doc_id FROM batch b
      LEFT JOIN idx ix ON ix.doc_id = b.doc_id
      LEFT JOIN cont ct ON ct.doc_id = b.doc_id
      LEFT JOIN crej cr ON cr.doc_id = b.doc_id
      LEFT JOIN comp co ON co.doc_id = b.doc_id
      WHERE ix.doc_id IS NULL AND ct.doc_id IS NULL
        AND cr.cp IS NULL AND co.rep = b.doc_id),
    live AS (SELECT doc_id FROM documents
             WHERE doc_id < 1000 AND doc_id % 5 != 3
             UNION SELECT doc_id FROM admitted),
    ltoks AS (SELECT t.doc_id, UNNEST(t.toks) AS tok
              FROM t JOIN live l ON l.doc_id = t.doc_id),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM ltoks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ltoks
           WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
    tdf AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))
             ) AS s
      FROM tf JOIN tdf ON tdf.tok = tf.tok
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25 FROM scored
    ORDER BY s DESC, doc_id LIMIT 20
    """,
)
def feed_admission_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed production pipeline in one streaming job:
    chunked-HTTP feed -> parse -> decontaminating crawl
    admission (MinHash dedup + eval-suite 8-gram gate, ONE decision
    pass) -> inverted-text-index ingest of the admitted documents ->
    BM25 search of the final index state. Every piece is the standing
    operator: the ``falcon_feed`` source streams document payloads from
    a two-partition fake feed, ``MinHashIndex.admit_and_ingest`` decides
    each micro-batch against the evolving signature index (replay-
    guarded), and only admitted documents enter the
    ``InvertedTextIndex`` — so the final search covers exactly
    corpus ∪ admitted.

    The oracle is the ONE-SHOT batch recomputation (the
    ``cdc_upsert_latest_state`` pattern): the full decontaminating
    admission decision in SQL (the ``decontaminating_admission_
    decisions`` CTEs, capped at doc_id < 1000) composed with the BM25
    ranking over corpus ∪ admitted. The preloaded feed drains in one
    deterministic micro-batch under availableNow (the source tails each
    partition until the quiet timeout), so streamed decisions equal the
    one-shot decision; the mid-stream kill/restart variant (two-phase
    feed, checkpoint resume, batching-matched twin) is pinned in
    tests/test_http_feed.py.

    Scale: the feed fixture collect is bounded (doc_id < 1000 caps it
    at every scale factor); admission and index ingest shuffle
    signatures/postings, never corpus text (their own plan contracts);
    the search touches |terms| posting buckets + the narrow doc-length
    table."""
    import shutil

    from cses2humio_spark.operators.dedup_index import MinHashIndex
    from cses2humio_spark.operators.text_index import InvertedTextIndex

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 1000
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 3)
    batch = docs.filter(
        (F.col("doc_id") % 5 == 3) | (F.col("doc_id") % 10 == 0)
    )
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)

    stage_walls: dict[str, float] = {}
    PIPELINE_STAGE_WALLS["feed_admission_index_pipeline"] = stage_walls
    tmpdir = tempfile.mkdtemp(prefix="sgraft_feed_adm_")
    t0 = time.perf_counter()
    midx = MinHashIndex(
        os.path.join(tmpdir, "minhash"), n=3, bands=4, rows_per_band=2
    )
    midx.build(corpus)
    tidx = InvertedTextIndex(os.path.join(tmpdir, "text"), n_buckets=16)
    tidx.build(corpus)
    stage_walls["index_build"] = round(time.perf_counter() - t0, 3)

    try:
        _drain_feed_admission(
            spark,
            stage_walls,
            batch,
            "doc_id",
            "text",
            lambda raw: raw.select(
                F.get_json_object(F.col("value"), "$.event.doc_id")
                .cast("bigint")
                .alias("doc_id"),
                F.get_json_object(F.col("value"), "$.event.text").alias("text"),
            ),
            lambda bdf, bid: midx.admit_and_ingest(
                bdf,
                bid,
                corpus_docs=docs,
                threshold=0.5,
                eval_docs=eval_docs,
                contamination_threshold=0.5,
                eval_n=8,
            ),
            tidx,
            os.path.join(tmpdir, "ckpt"),
        )
        t0 = time.perf_counter()
        out = tidx.search(spark, list(_FEED_ADM_TERMS), k=20)
        final = out.collect()  # materialize before tmpdir vanishes
        stage_walls["search"] = round(time.perf_counter() - t0, 3)
        return spark.createDataFrame(final, out.schema)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


def _vec_pipeline_oracle() -> str:
    from cses2humio_spark.queries.llm import (
        _DOUBLE_VEC,
        _cos_sql,
        _dot_sql,
        _l2sq_sql,
        _planes_values_sql,
    )

    return f"""
    WITH RECURSIVE
    ev AS (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings
           WHERE vec_id < 1000),
    prm AS (SELECT w, GREATEST(1, 60 // w) AS b FROM (
              SELECT LEAST(GREATEST(4,
                       CAST(CEIL(LOG2(GREATEST(COUNT(*) / 128.0, 2.0))) AS BIGINT)),
                     60) AS w
              FROM ev WHERE vec_id % 5 != 3) t),
    bplanes AS (SELECT pid, pv FROM (VALUES {_planes_values_sql(64, 60)}) AS t(pid, pv)),
    idx AS (SELECT vec_id FROM ev WHERE vec_id % 5 != 3),
    batch AS (SELECT vec_id FROM ev
              WHERE vec_id % 5 = 3 OR vec_id % 10 = 0),
    fresh AS (SELECT vec_id FROM batch
              WHERE vec_id NOT IN (SELECT vec_id FROM idx)),
    evset AS (SELECT v FROM ev WHERE vec_id % 7 = 0),
    cont AS (SELECT DISTINCT f.vec_id
             FROM fresh f
             JOIN ev a ON a.vec_id = f.vec_id
             JOIN evset e2 ON {_cos_sql('a.v', 'e2.v')} >= 0.8),
    clean AS (SELECT vec_id FROM fresh
              WHERE vec_id NOT IN (SELECT vec_id FROM cont)),
    bsigs AS (SELECT e.vec_id, pid // prm.w AS band,
                     CAST(SUM(CASE WHEN {_dot_sql('e.v', 'pv')} > 0
                                   THEN (CAST(1 AS BIGINT) << (pid % prm.w))
                                   ELSE 0 END) AS BIGINT) AS band_sig
              FROM ev e CROSS JOIN bplanes CROSS JOIN prm
              WHERE pid < prm.w * prm.b
              GROUP BY e.vec_id, pid // prm.w),
    psig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN clean f ON f.vec_id = s.vec_id),
    isig AS (SELECT s.vec_id, s.band, s.band_sig
             FROM bsigs s JOIN idx i ON i.vec_id = s.vec_id),
    cpair AS (SELECT DISTINCT p.vec_id AS id_a, i.vec_id AS id_b
              FROM psig p JOIN isig i
                ON i.band = p.band AND i.band_sig = p.band_sig
              WHERE p.vec_id != i.vec_id),
    cver AS (SELECT c.id_a AS vec_id, MIN(c.id_b) AS cp
             FROM cpair c
             JOIN ev a ON a.vec_id = c.id_a
             JOIN ev b2 ON b2.vec_id = c.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3
             GROUP BY 1),
    bpair AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM psig a JOIN psig b
                ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.vec_id < b.vec_id),
    bver AS (SELECT p.id_a, p.id_b
             FROM bpair p
             JOIN ev a ON a.vec_id = p.id_a
             JOIN ev b2 ON b2.vec_id = p.id_b
             WHERE {_cos_sql('a.v', 'b2.v')} >= 0.3),
    bi AS (SELECT id_a AS src, id_b AS dst FROM bver
           UNION ALL SELECT id_b, id_a FROM bver),
    reach AS (SELECT vec_id AS id, vec_id AS label FROM clean
              UNION
              SELECT e2.src, r.label FROM reach r JOIN bi e2 ON e2.dst = r.id),
    comp AS (SELECT id AS vec_id, MIN(label) AS rep FROM reach GROUP BY id),
    admitted AS (
      SELECT b.vec_id FROM batch b
      LEFT JOIN idx ix ON ix.vec_id = b.vec_id
      LEFT JOIN cont ct ON ct.vec_id = b.vec_id
      LEFT JOIN cver cr ON cr.vec_id = b.vec_id
      LEFT JOIN comp co ON co.vec_id = b.vec_id
      WHERE ix.vec_id IS NULL AND ct.vec_id IS NULL
        AND cr.cp IS NULL AND co.rep = b.vec_id),
    live AS (SELECT vec_id FROM idx UNION SELECT vec_id FROM admitted),
    subs AS (SELECT UNNEST(generate_series(0, 3)) AS sub_id),
    cb AS (SELECT s.sub_id, e.vec_id AS code,
                  e.v[s.sub_id*16+1 : s.sub_id*16+16] AS cvec
           FROM ev e CROSS JOIN subs s
           WHERE e.vec_id < 16 AND e.vec_id % 5 != 3),
    slc AS (SELECT e.vec_id, s.sub_id,
                   e.v[s.sub_id*16+1 : s.sub_id*16+16] AS svec
            FROM ev e JOIN live l ON l.vec_id = e.vec_id
            CROSS JOIN subs s),
    enc0 AS (SELECT sl.vec_id, sl.sub_id, cb.code,
                    ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8) AS d
             FROM slc sl JOIN cb ON cb.sub_id = sl.sub_id),
    enc AS (SELECT vec_id, sub_id, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                          ORDER BY d ASC, code ASC) AS rn FROM enc0) t
            WHERE rn = 1),
    pslc AS (SELECT e.vec_id, s.sub_id,
                    e.v[s.sub_id*16+1 : s.sub_id*16+16] AS svec
             FROM ev e CROSS JOIN subs s WHERE e.vec_id = 0),
    pt AS (SELECT sl.vec_id AS probe_id, sl.sub_id, cb.code,
                  ROUND({_l2sq_sql('sl.svec', 'cb.cvec')}, 8) AS d
           FROM pslc sl JOIN cb ON cb.sub_id = sl.sub_id),
    ad AS (SELECT pt.probe_id, enc.vec_id,
                  CAST(SUM(CAST(pt.d AS DECIMAL(28,8))) AS DOUBLE) AS dd
           FROM enc JOIN pt ON pt.sub_id = enc.sub_id
                           AND pt.code = enc.code
           GROUP BY 1, 2)
    SELECT probe_id, vec_id, ROUND(dd, 6) AS adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY dd ASC, vec_id ASC) AS INT) AS rank
      FROM ad) t
    WHERE rank <= 10
    """


@query("feed_vector_admission_ann_pipeline", oracle=_vec_pipeline_oracle())
def feed_vector_admission_ann_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The VECTOR twin of ``feed_admission_index_pipeline`` — the
    composed semantic-dedup production path in one streaming job:
    chunked-HTTP feed streams embedding payloads -> JSON parse ->
    decontaminating VECTOR admission (``EmbeddingLshIndex.
    admit_and_ingest``: hyperplane-LSH dedup vs the standing signature
    index + an exact-cosine eval-suite gate at 0.8) -> ``PQIndex``
    ingest of the admitted vectors (encoded against the FROZEN corpus
    codebook) -> ADC top-10 search of the final code table for probe
    vec 0. Every arm of the engine's index surface now has the full
    feed-to-search composition.

    Oracle = the one-shot batch recomputation: the
    ``decontaminating_vector_admission`` CTEs (adaptive band geometry
    from the corpus count, signatures, exact-cosine verification,
    recursive-CTE components) capped at vec_id < 1000, composed with
    the PQ encode->ADC->rank replay over corpus ∪ admitted (codebook =
    the id-prefix slices of the BUILD corpus, exactly the stored
    artifact the streamed ingest encodes against). The preloaded feed
    drains in one deterministic micro-batch under availableNow; the
    mid-stream kill/restart converges to a batching-matched twin
    (tests/test_http_feed.py::
    test_feed_vector_admission_pipeline_kill_restart).

    Scale: the feed fixture collect is bounded (vec_id < 1000 at every
    scale factor); admission shuffles one bigint signature per vector,
    PQ ingest writes m small ints per admitted vector, and the search's
    only large input is the codes scan."""
    import shutil

    from cses2humio_spark.operators.ann_index import PQIndex
    from cses2humio_spark.operators.dedup_index import EmbeddingLshIndex
    from cses2humio_spark.operators.similarity import auto_band_params

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 1000
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(
        (F.col("vec_id") % 5 == 3) | (F.col("vec_id") % 10 == 0)
    )
    eval_vecs = emb.filter(F.col("vec_id") % 7 == 0)

    stage_walls: dict[str, float] = {}
    PIPELINE_STAGE_WALLS["feed_vector_admission_ann_pipeline"] = stage_walls
    tmpdir = tempfile.mkdtemp(prefix="sgraft_feed_vec_")
    t0 = time.perf_counter()
    w, b = auto_band_params(corpus.count())
    eidx = EmbeddingLshIndex(
        os.path.join(tmpdir, "lsh"), dim=64, n_planes=w, n_bands=b
    )
    eidx.build(corpus)
    pidx = PQIndex(os.path.join(tmpdir, "pq"), m=4, k_codes=16, dim=64)
    pidx.build(corpus)
    stage_walls["index_build"] = round(time.perf_counter() - t0, 3)

    try:
        _drain_feed_admission(
            spark,
            stage_walls,
            batch,
            "vec_id",
            "embedding",
            lambda raw: raw.select(
                F.from_json(
                    F.col("value"),
                    "struct<event: struct<vec_id: bigint, "
                    "embedding: array<float>>>",
                ).alias("j")
            ).select("j.event.vec_id", "j.event.embedding"),
            lambda bdf, bid: eidx.admit_and_ingest(
                bdf,
                bid,
                corpus_vectors=emb,
                threshold=0.3,
                eval_vectors=eval_vecs,
                eval_threshold=0.8,
            ),
            pidx,
            os.path.join(tmpdir, "ckpt"),
        )
        t0 = time.perf_counter()
        probe = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        out = pidx.search(spark, probe, k=10)
        final = out.collect()  # materialize before tmpdir vanishes
        stage_walls["search"] = round(time.perf_counter() - t0, 3)
        return spark.createDataFrame(final, out.schema)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
