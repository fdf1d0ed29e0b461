"""The reference connector pipeline rebuilt on Structured Streaming
(SURVEY.md §2.1 R1-R16, §3.2, §7.3).

Reference hot loop (app.py:65-216): HTTP line → decode → json parse (drop
malformed) → envelope {timestamp, rawstring, attributes} → AuditKeyValues
flatten (last-wins, stringly) → @host/@stream merge → dual-trigger buffer →
bulk POST → offset commit after ack.

Spark formulation — the whole per-record path is ONE narrow map stage
(no shuffle), then ``foreachBatch`` for the sink + checkpoint:

    source → parse_events → enrich_events [→ with_replay_dedup]
           → writeStream.foreachBatch(chunked_sink).option(checkpointLocation)

Semantic invariants preserved (SURVEY.md §2.1):
1. at-least-once: checkpoint WAL commits after foreachBatch returns —
   identical contract to the reference's commit-after-ack offset file.
2. malformed JSON dropped, never blocks (PERMISSIVE + corrupt-record
   filter) — and unlike the reference's raw-mode bug (app.py:148-149),
   offsets always derive from successfully parsed records.
3. flush = micro-batch trigger (processingTime ↔ flush_wait_time) +
   source rate cap (↔ bulk_max_size); empty batches post nothing.
4. KV flatten last-wins + stringly-typed via LAST_WIN map dedup policy
   and map<string,string> coercion (numbers/bools stringified — verified).
5. replay duplicates removed by dropDuplicatesWithinWatermark on
   (partition, offset) — the dedup the reference defers to its consumer.
"""

from __future__ import annotations

import socket

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Typed paths the reference probes (app.py:117-127); everything else rides
# in the stringly event map / rawstring.
ENVELOPE_SCHEMA = (
    "metadata struct<offset bigint, eventCreationTime bigint, eventType string>, "
    "event struct<AuditKeyValues array<struct<Key string, ValueString string>>>, "
    "_corrupt_record string"
)


def parse_events(df: DataFrame, raw_col: str = "value") -> DataFrame:
    """R4: permissive JSON parse; malformed lines are dropped (reference
    app.py:107-114) but never interrupt the stream. Adds typed ``metadata``
    and the raw ``event`` payload columns."""
    # Needed ONLY for from_json on raw payloads whose JSON text itself
    # repeats a key (dict-update semantics like the reference); the KV
    # flatten below is conf-independent (explicit fold in _flatten_event).
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    parsed = F.from_json(
        F.col(raw_col),
        ENVELOPE_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return (
        df.withColumn("__p", parsed)
        .filter(
            F.col("__p").isNotNull()
            & F.col("__p._corrupt_record").isNull()
            & F.col("__p.metadata").isNotNull()
        )
        .select(
            F.col(raw_col).alias("rawstring"),
            F.col("__p.metadata").alias("metadata"),
            F.col("__p.event.AuditKeyValues").alias("__akv"),
            F.from_json(
                F.get_json_object(F.col(raw_col), "$.event"), "map<string,string>"
            ).alias("__event_map"),
            *[c for c in df.columns if c != raw_col],
        )
    )


def _flatten_event(event_map: str, akv: str) -> Column:
    """R6+R7: lift AuditKeyValues [{Key,ValueString}] into event.*
    (last-wins, stringly — app.py:123-127) and drop the array itself.
    ``event_map`` names a ``map<string,string>`` column and ``akv`` an
    ``array<struct<Key,ValueString>>`` column; either may be null.

    Last-wins is implemented as an explicit left fold (remove key, then add
    it back) so the semantics do NOT depend on the session's
    ``spark.sql.mapKeyDedupPolicy`` — the accumulator never holds a
    duplicate key, under any conf. Null-keyed entries (no ``Key`` field)
    are dropped, as a JSON object cannot round-trip them either.

    The fold is ONE SQL expression: the JVM parses it in one call, where
    each Python-lambda HOF costs a chain of py4j calls to create its
    lambda variables — most of a connector drain's plan build."""
    return F.expr(
        f"""aggregate(
          filter(
            coalesce(`{akv}`, cast(array() AS array<struct<Key: string, ValueString: string>>)),
            e -> e.Key IS NOT NULL),
          map_filter(
            coalesce(`{event_map}`, cast(map() AS map<string, string>)),
            (k, v) -> k != 'AuditKeyValues'),
          (acc, e) -> map_concat(
            map_filter(acc, (k, v) -> k != e.Key), map(e.Key, e.ValueString)))"""
    )


def enrich_events(
    df: DataFrame,
    app_id: str | None = None,
    with_metadata: bool = False,
    host: str | None = None,
) -> DataFrame:
    """R5-R8: build the Humio-structured envelope
    {timestamp, rawstring, attributes} (app.py:117-134). ``with_metadata``
    merges @host/@stream (app.py:129-130, 364-368). Pure map-side — no
    shuffle at any scale."""
    event = _flatten_event("__event_map", "__akv")
    attr_fields = [
        F.col("metadata").alias("metadata"),
        event.alias("event"),
    ]
    if with_metadata:
        attr_fields.append(
            F.lit(host or socket.getfqdn()).alias("@host")
        )
        attr_fields.append(F.lit(app_id or "").alias("@stream"))
    return df.select(
        F.col("metadata.eventCreationTime").alias("timestamp"),
        F.col("rawstring"),
        F.struct(*attr_fields).alias("attributes"),
        *[c for c in df.columns if c not in
          ("rawstring", "metadata", "__akv", "__event_map")],
    )


def with_replay_dedup(
    df: DataFrame,
    partition_col: str = "partition",
    delay: str = "10 minutes",
) -> DataFrame:
    """Invariant 5: the reference's failed-POST retry can re-deliver events
    (app.py:157-176); remove replays by (partition, offset) within a
    watermark. State is bounded by the watermark horizon — safe at scale."""
    keyed = df.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp"))
    ).withColumn("offset", F.col("attributes.metadata.offset"))
    return keyed.withWatermark("event_time", delay).dropDuplicatesWithinWatermark(
        [partition_col, "offset"]
    )


def run_pipeline(
    lines: DataFrame,
    sink,
    checkpoint_dir: str,
    app_id: str = "spark-graft",
    with_metadata: bool = True,
    host: str | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    partition_col_expr: Column | None = None,
):
    """Wire source → parse → enrich → foreachBatch(sink) with checkpoint.

    ``sink`` is a callable (batch_df, batch_id) -> None (see
    streaming/sinks.py). Returns the StreamingQuery. The checkpoint dir is
    the engine's offset.db (R11): offsets WAL written before the batch,
    commit log after sink success = at-least-once."""
    df = lines
    if partition_col_expr is not None:
        df = df.withColumn("partition", partition_col_expr)
    enveloped = enrich_events(
        parse_events(df), app_id=app_id, with_metadata=with_metadata, host=host
    )
    writer = (
        enveloped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def parse_events_variant(df: DataFrame, raw_col: str = "value") -> DataFrame:
    """Spark 4 VariantType formulation of R4 (SURVEY.md §1.7: "Spark 4's
    VariantType/parse_json is the ideal fit for the schemaless payload").

    ``try_parse_json`` keeps the drop-malformed contract (null on bad
    input, never an error); the whole event stays one binary-encoded
    variant column — no schema declared, every path still reachable with
    ``variant_get`` at read time, and shredding/pushdown improves as the
    Spark variant reader does. The envelope paths the reference probes are
    surfaced as typed columns; everything else rides in ``event_variant``.
    """
    v = F.try_parse_json(F.col(raw_col))
    return (
        df.withColumn("__v", v)
        .filter(
            F.col("__v").isNotNull()
            & F.variant_get(F.col("__v"), "$.metadata", "string").isNotNull()
        )
        .select(
            F.col(raw_col).alias("rawstring"),
            F.variant_get(F.col("__v"), "$.metadata.offset", "bigint").alias(
                "offset"
            ),
            F.variant_get(
                F.col("__v"), "$.metadata.eventCreationTime", "bigint"
            ).alias("timestamp"),
            F.variant_get(F.col("__v"), "$.metadata.eventType", "string").alias(
                "eventType"
            ),
            F.variant_get(F.col("__v"), "$.event", "variant").alias("event_variant"),
            *[c for c in df.columns if c != raw_col],
        )
    )


def supervise_pipeline(
    start_query,
    max_restarts: int = 3,
    backoff_seconds: float = 0.0,
    sleep=None,
) -> int:
    """R15 supervisor (reference: controller thread restarting dead
    partition consumers, app.py:305-326). ``start_query`` is a factory
    returning a STARTED StreamingQuery against the SAME checkpoint dir —
    a restart is a fresh query object resuming from the WAL, exactly like
    the reference re-spawning a thread from the offset file.

    Drains all available input; on a failed micro-batch the query is
    restarted (the failed batch replays from the checkpoint — the
    at-least-once contract, invariant 1) up to ``max_restarts`` times.
    Returns the number of restarts used; re-raises once the budget is
    exhausted."""
    import time as _time

    do_sleep = sleep or _time.sleep
    restarts = 0
    while True:
        q = start_query()
        try:
            q.processAllAvailable()
            q.stop()
            return restarts
        except Exception:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - already failed; best effort
                pass
            restarts += 1
            if restarts > max_restarts:
                raise
            if backoff_seconds:
                do_sleep(backoff_seconds)
