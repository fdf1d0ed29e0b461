"""Streaming mechanics: micro-batching, sink chunking (bulk_max_size),
checkpoint resume (at-least-once, no reprocessing), replay dedup
(SURVEY.md §2.1 R9-R12, invariant 5; §7.3 kill/restart test)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark.sql import functions as F

from cses2humio_spark.sources.event_source import ndjson_stream
from cses2humio_spark.streaming.pipeline import (
    enrich_events,
    parse_events,
    run_pipeline,
    with_replay_dedup,
)
from cses2humio_spark.streaming.sinks import chunked_sink


def _write_lines(path: str, lines: list[str]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def _mk_lines(offsets, partition=0):
    return [
        json.dumps(
            {
                "metadata": {"offset": o, "eventCreationTime": 1723500000000 + o},
                "event": {"n": o},
            }
        )
        for o in offsets
    ]


def _spooled(spool):
    out = []
    for p in sorted(glob.glob(os.path.join(spool, "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def test_stream_end_to_end_chunked(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(25)))

    q = run_pipeline(
        ndjson_stream(spark, str(src)),
        sink=chunked_sink(spool, bulk_max_size=10),
        checkpoint_dir=ckpt,
        app_id="t",
        host="h",
    )
    q.processAllAvailable()
    q.stop()

    posts = _spooled(spool)
    events = [e for p in posts for e in p["body"][0]["events"]]
    assert len(events) == 25
    # R9: no POST exceeds bulk_max_size
    assert max(len(p["body"][0]["events"]) for p in posts) <= 10
    offs = sorted(e["attributes"]["metadata"]["offset"] for e in events)
    assert offs == list(range(25))
    # envelope fields present end-to-end
    assert all(e["attributes"]["@stream"] == "t" for e in events)


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """Kill/restart (SURVEY §7.3): after restart with the same checkpoint,
    only NEW files are processed — offsets resume, old data not re-posted."""
    src = tmp_path / "src"
    src.mkdir()
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(10)))

    def start():
        return run_pipeline(
            ndjson_stream(spark, str(src)),
            sink=chunked_sink(spool, bulk_max_size=200),
            checkpoint_dir=ckpt,
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    n_after_first = len(_spooled(spool))

    _write_lines(str(src / "b.ndjson"), _mk_lines(range(10, 15)))
    q = start()  # fresh query object, same checkpoint = process restart
    q.processAllAvailable()
    q.stop()

    posts = _spooled(spool)
    events = [e for p in posts for e in p["body"][0]["events"]]
    offs = sorted(e["attributes"]["metadata"]["offset"] for e in events)
    # at-least-once with NO duplicate deliveries on clean restart, and the
    # second run posted only the new file's 5 events
    assert offs == list(range(15))
    assert len(posts) == n_after_first + 1


def test_malformed_mid_stream_does_not_block(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spool = str(tmp_path / "spool")
    good = _mk_lines([0, 1])
    lines = [good[0], '{"metadata": {"offset": 99, "bad', good[1]]
    _write_lines(str(src / "a.ndjson"), lines)
    q = run_pipeline(
        ndjson_stream(spark, str(src)),
        sink=chunked_sink(spool),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    events = [e for p in _spooled(spool) for e in p["body"][0]["events"]]
    assert sorted(e["attributes"]["metadata"]["offset"] for e in events) == [0, 1]


def test_replay_dedup_within_watermark(spark, tmp_path):
    """Invariant 5: duplicate (partition, offset) deliveries — the
    reference's retry artifact — are removed by
    dropDuplicatesWithinWatermark."""
    src = tmp_path / "src"
    src.mkdir()
    # same offsets delivered twice (two files = two deliveries)
    _write_lines(str(src / "a.ndjson"), _mk_lines([1, 2, 3]))
    _write_lines(str(src / "b.ndjson"), _mk_lines([2, 3, 4]))

    lines = ndjson_stream(spark, str(src))
    enveloped = enrich_events(parse_events(lines.withColumn("partition", F.lit(0))))
    deduped = with_replay_dedup(enveloped)

    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select attributes.metadata.offset as o from dedup_test").collect()
    offs = sorted(r.o for r in rows)
    assert offs == [1, 2, 3, 4], f"duplicates survived: {offs}"


def test_session_window_agg_streaming(spark, tmp_path):
    """Streaming session-window aggregation (SURVEY §2.2 streaming-only):
    gap-based sessions per user over event-time with watermark."""
    src = tmp_path / "src"
    src.mkdir()
    base = 1723500000000
    lines = []
    for u, offs in {1: [0, 10, 2000], 2: [5, 8]}.items():  # ms gaps
        for i, ms in enumerate(offs):
            lines.append(
                json.dumps(
                    {
                        "metadata": {"offset": u * 100 + i, "eventCreationTime": base + ms * 1000},
                        "event": {"user": str(u)},
                    }
                )
            )
    _write_lines(str(src / "a.ndjson"), lines)

    enveloped = enrich_events(parse_events(ndjson_stream(spark, str(src))))
    sessions = (
        enveloped.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
        .withColumn("user", F.col("attributes.event")["user"])
        .withWatermark("event_time", "1 minute")
        .groupBy(F.session_window("event_time", "5 minutes"), F.col("user"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select user, n from sess_test order by user, n").collect()
    got = [(r.user, r.n) for r in rows]
    # user 1: events at +0s,+10s (one session) and +2000s (second session);
    # user 2: both events in one session
    assert got == [("1", 1), ("1", 2), ("2", 2)], got


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user accumulator persists across
    micro-batches (maxFilesPerTrigger=1 forces one batch per file)."""
    from cses2humio_spark.streaming.stateful import running_user_totals

    src = tmp_path / "src"
    src.mkdir()

    def mk(uid, off, cents):
        return json.dumps(
            {
                "metadata": {"offset": off, "eventCreationTime": 1723500000000 + off},
                "event": {"user": str(uid), "cents": cents},
            }
        )

    _write_lines(str(src / "a.ndjson"), [mk(1, 0, 100), mk(1, 1, 50), mk(2, 2, 10)])
    _write_lines(str(src / "b.ndjson"), [mk(1, 3, 25), mk(2, 4, 40)])

    lines = ndjson_stream(spark, str(src), max_files_per_trigger=1)
    enveloped = enrich_events(parse_events(lines))
    totals = running_user_totals(enveloped)
    q = (
        totals.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select user, total_events, total_cents from stateful_test"
    ).collect()
    # final state per user = the LAST emitted update row
    final = {}
    for r in rows:
        final[r.user] = (r.total_events, r.total_cents)
    assert final["1"] == (3, 175), final
    assert final["2"] == (2, 50), final


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join (SURVEY §2.2): alerts join
    events of the same user that arrive within 5 minutes after the alert."""
    from cses2humio_spark.streaming.joins import stream_interval_join

    ev_dir = tmp_path / "events"
    al_dir = tmp_path / "alerts"
    ev_dir.mkdir()
    al_dir.mkdir()
    base = 1723500000000

    def ev(uid, off, sec):
        return json.dumps(
            {
                "metadata": {"offset": off, "eventCreationTime": base + sec * 1000},
                "event": {"user": str(uid)},
            }
        )

    # user 1: alert at t=0, events at +10s (join) and +600s (outside bound);
    # user 2: alert at t=0 but only user-1 events exist -> no match
    _write_lines(str(ev_dir / "a.ndjson"), [ev(1, 0, 10), ev(1, 1, 600)])
    _write_lines(str(al_dir / "a.ndjson"), [ev(1, 100, 0), ev(2, 101, 0)])

    events = enrich_events(parse_events(ndjson_stream(spark, str(ev_dir))))
    alerts = enrich_events(parse_events(ndjson_stream(spark, str(al_dir))))

    e = events.select(
        F.col("attributes.event")["user"].alias("user"),
        F.timestamp_millis(F.col("timestamp")).alias("probe_time"),
        F.col("attributes.metadata.offset").alias("event_offset"),
    )
    a = alerts.select(
        F.col("attributes.event")["user"].alias("user"),
        F.timestamp_millis(F.col("timestamp")).alias("event_time"),
        F.col("attributes.metadata.offset").alias("alert_offset"),
    )
    joined = stream_interval_join(
        a, e, key="user", left_ts="event_time", right_ts="probe_time",
        watermark="1 minute", upper="5 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select alert_offset, event_offset from ssjoin_test"
    ).collect()
    got = sorted((r.alert_offset, r.event_offset) for r in rows)
    assert got == [(100, 0)], got


def test_tumbling_window_drops_late_data(spark, tmp_path):
    """Watermark semantics: in append mode a tumbling-window agg emits a
    window only once the watermark passes it, and data later than the
    watermark is dropped (SURVEY §2.2 streaming-only: late-data handling)."""
    src = tmp_path / "src"
    src.mkdir()
    base = 1723500000000

    def ev(off, sec):
        return json.dumps(
            {
                "metadata": {"offset": off, "eventCreationTime": base + sec * 1000},
                "event": {"user": "u"},
            }
        )

    # batch 1: two events in window [0,60) and one at +600s that advances
    # the watermark (600s - 60s watermark = +540s >> window end 60s)
    _write_lines(str(src / "a.ndjson"), [ev(0, 1), ev(1, 2), ev(2, 600)])

    lines = ndjson_stream(spark, str(src), max_files_per_trigger=1)
    enveloped = enrich_events(parse_events(lines))
    counts = (
        enveloped.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("event_time", "1 minute")
        .groupBy(F.window("event_time", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("long").alias("win_start"), "n")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # now that the watermark sits at +540s, deliver a LATE event for the
    # already-finalized [0,60) window — it must be dropped, not re-emitted
    _write_lines(str(src / "b.ndjson"), [ev(3, 5)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select win_start, n from late_test").collect()
    first_win = [(r.win_start, r.n) for r in rows if r.win_start == 1723500000]
    # the [0,60) window was finalized ONCE with 2 events; the late ev(3)
    # neither reopened it nor re-emitted it (a duplicate row would also fail)
    assert first_win == [(1723500000, 2)], rows


def test_rate_source_smoke(spark, tmp_path):
    """Rate source (SURVEY §2.2 sources): synthetic load generator for
    streaming tests — rows carry (timestamp, value) at rowsPerSecond."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .option("numPartitions", 2)
        .load()
    )
    q = (
        stream.withColumn("bucket", F.col("value") % 10)
        .writeStream.format("memory")
        .queryName("rate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("select count(*) c from rate_test").collect()[0].c
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    schema = {f.name for f in stream.schema.fields}
    assert schema == {"timestamp", "value"}


def test_parquet_sink_append(spark, tmp_path):
    """Streaming parquet sink (SURVEY §2.2 sinks): enveloped events land
    as parquet files readable by a batch scan — the archive path a 100 TB
    pipeline writes next to the HTTP sink."""
    src = tmp_path / "src"
    src.mkdir()
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(12)))
    out = str(tmp_path / "out")
    enveloped = enrich_events(parse_events(ndjson_stream(spark, str(src))))
    flat = enveloped.select(
        "timestamp",
        F.col("attributes.metadata.offset").alias("offset"),
        "rawstring",
    )
    q = (
        flat.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    assert sorted(r.offset for r in back.collect()) == list(range(12))


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: same per-user accumulator
    semantics as the applyInPandasWithState path, on the typed-state API.
    Requires google.protobuf (the TWS state-server protocol); skipped
    where the container lacks it — the applyInPandasWithState test above
    pins the same semantics either way."""
    pytest.importorskip("google.protobuf.descriptor")
    from cses2humio_spark.streaming.stateful import running_user_totals_tws

    src = tmp_path / "src"
    src.mkdir()

    def mk(uid, off, cents):
        return json.dumps(
            {
                "metadata": {"offset": off, "eventCreationTime": 1723500000000 + off},
                "event": {"user": str(uid), "cents": cents},
            }
        )

    _write_lines(str(src / "a.ndjson"), [mk(1, 0, 100), mk(1, 1, 50), mk(2, 2, 10)])
    _write_lines(str(src / "b.ndjson"), [mk(1, 3, 25), mk(2, 4, 40)])

    lines = ndjson_stream(spark, str(src), max_files_per_trigger=1)
    enveloped = enrich_events(parse_events(lines))
    totals = running_user_totals_tws(enveloped)
    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            totals.writeStream.format("memory")
            .queryName("tws_test")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    rows = spark.sql(
        "select user, total_events, total_cents from tws_test"
    ).collect()
    final = {}
    for r in rows:
        final[r.user] = (r.total_events, r.total_cents)
    assert final["1"] == (3, 175), final
    assert final["2"] == (2, 50), final


def test_supervisor_restarts_failed_batch(spark, tmp_path):
    """R15 + invariant 1: a sink crash fails the micro-batch; the
    supervisor restarts the query from the same checkpoint and the batch
    REPLAYS (at-least-once). The poison marker makes the sink succeed on
    retry; every event is delivered exactly once downstream because the
    failed attempt spooled nothing."""
    from cses2humio_spark.streaming.pipeline import supervise_pipeline

    src = tmp_path / "src"
    src.mkdir()
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(8)))
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    poison = tmp_path / "poison"
    poison.touch()
    inner = chunked_sink(spool, bulk_max_size=200)

    def flaky_sink(batch_df, batch_id):
        if poison.exists():
            poison.unlink()
            raise RuntimeError("injected sink outage")
        inner(batch_df, batch_id)

    def start():
        return run_pipeline(
            ndjson_stream(spark, str(src)),
            sink=flaky_sink,
            checkpoint_dir=ckpt,
        )

    restarts = supervise_pipeline(start, max_restarts=3)
    assert restarts == 1
    events = [e for p in _spooled(spool) for e in p["body"][0]["events"]]
    offs = sorted(e["attributes"]["metadata"]["offset"] for e in events)
    assert offs == list(range(8)), offs


def test_supervisor_exhausts_budget_and_raises(spark, tmp_path):
    from cses2humio_spark.streaming.pipeline import supervise_pipeline

    src = tmp_path / "src"
    src.mkdir()
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(3)))

    def always_fail(batch_df, batch_id):
        raise RuntimeError("permanent sink outage")

    def start():
        return run_pipeline(
            ndjson_stream(spark, str(src)),
            sink=always_fail,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    with pytest.raises(Exception):
        supervise_pipeline(start, max_restarts=2)


def test_streaming_kmeans_matches_batch_and_replays_deterministically(
    spark, tmp_path
):
    """streaming_kmeans: per-cluster running-mean centroids across
    micro-batches equal the batch one-Lloyd-update means over all data
    seen so far; a restart from the checkpoint neither drops nor
    double-counts (replay determinism)."""
    import json as _json

    from cses2humio_spark.streaming.stateful import streaming_kmeans

    seeds = [[0.0, 0.0], [10.0, 10.0]]
    src = tmp_path / "src"
    src.mkdir()

    def mk(vid, x, y):
        return _json.dumps({"vec_id": vid, "embedding": [x, y]})

    # integer grid -> float64-exact sums -> exact expected means
    _write_lines(str(src / "a.ndjson"), [mk(0, 1, 1), mk(1, 2, 0), mk(2, 9, 9)])
    _write_lines(str(src / "b.ndjson"), [mk(3, 0, 3), mk(4, 11, 13)])

    def run_until_drained(collected):
        # memory sink cannot recover from a checkpoint — foreachBatch can
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

        def sink(batch_df, batch_id):
            collected.extend(batch_df.collect())

        q = (
            streaming_kmeans(stream, seeds)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run1: list = []
    run_until_drained(run1)
    # cluster 0 <- (1,1),(2,0),(0,3); cluster 1 <- (9,9),(11,13)
    final = {}
    for r in run1:  # last update per cid wins
        final[r.cid] = (r.n, list(r.centroid))
    assert final[0] == (3, [1.0, 4.0 / 3.0])
    assert final[1] == (2, [10.0, 11.0])

    # restart with one more file: state resumes, a+b are NOT re-counted
    _write_lines(str(src / "c.ndjson"), [mk(5, 3, 2), mk(6, 8, 12)])
    run2: list = []
    run_until_drained(run2)
    final2 = {}
    for r in run2:
        final2[r.cid] = (r.n, r.batch_n, list(r.centroid))
    # exactly the new rows were processed (batch_n), totals include history
    assert final2[0] == (4, 1, [6.0 / 4.0, 6.0 / 4.0])
    assert final2[1] == (3, 1, [28.0 / 3.0, 34.0 / 3.0])


def test_stream_static_enrich_join(spark, tmp_path):
    """Stream-static enrichment: each micro-batch joins against the static
    dim snapshot (broadcast, stateless — no watermark needed); unmatched
    stream rows survive a left join with null dim columns; right/full
    outer are refused (Structured Streaming cannot retroactively emit
    them)."""
    import pytest

    from cses2humio_spark.streaming.joins import stream_static_enrich

    src = tmp_path / "src"
    src.mkdir()

    def mk(uid, off):
        return json.dumps(
            {
                "metadata": {"offset": off, "eventCreationTime": 1723500000000 + off},
                "event": {"user": str(uid)},
            }
        )

    _write_lines(str(src / "a.ndjson"), [mk(1, 0), mk(2, 1)])
    _write_lines(str(src / "b.ndjson"), [mk(3, 2), mk(1, 3)])

    dim = spark.createDataFrame(
        [("1", "alice", "admin"), ("2", "bob", "user")],
        "user string, name string, role string",
    )
    events = enrich_events(
        parse_events(ndjson_stream(spark, str(src), max_files_per_trigger=1))
    )
    keyed = events.select(
        F.col("attributes.event")["user"].alias("user"),
        F.col("attributes.metadata.offset").alias("offset"),
    )
    joined = stream_static_enrich(keyed, dim, key="user", how="left")
    q = (
        joined.writeStream.format("memory")
        .queryName("static_enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select offset, user, name, role from static_enrich_test"
    ).collect()
    got = sorted((r.offset, r.user, r.name, r.role) for r in rows)
    assert got == [
        (0, "1", "alice", "admin"),
        (1, "2", "bob", "user"),
        (2, "3", None, None),  # unmatched stream row survives with nulls
        (3, "1", "alice", "admin"),
    ], got

    with pytest.raises(ValueError, match="left.*inner|inner.*left"):
        stream_static_enrich(keyed, dim, key="user", how="full")


def test_minibatch_kmeans_follows_drift(spark, tmp_path):
    """Sculley mini-batch k-means: centroids MOVE with the stream (unlike
    streaming_kmeans' fixed assignment seeds). Harmonic schedule on
    stationary data reproduces the exact running mean; a later batch far
    from the seed pulls its centroid toward the new data."""
    import json as _json

    from cses2humio_spark.streaming.stateful import minibatch_kmeans_sink

    src = tmp_path / "src"
    src.mkdir()

    def mk(vid, x, y):
        return _json.dumps({"vec_id": vid, "embedding": [x, y]})

    # batch a: cluster-0 data near (1,1); batch b: cluster-0 drifts to (5,5)
    _write_lines(str(src / "a.ndjson"), [mk(0, 1, 1), mk(1, 1, 3), mk(2, 20, 20)])
    _write_lines(str(src / "b.ndjson"), [mk(3, 5, 5), mk(4, 7, 5)])

    sink, state = minibatch_kmeans_sink(seeds=[[0.0, 0.0], [20.0, 20.0]])
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # harmonic eta = exact running mean of all cluster-0 points:
    # (1,1),(1,3),(5,5),(7,5) -> (3.5, 3.5); cluster 1 saw only (20,20)
    c0, c1 = state["centroids"]
    assert state["counts"] == [4, 1]
    assert c0 == [3.5, 3.5], c0
    assert c1 == [20.0, 20.0], c1
    # the drifted batch moved c0 past the batch-a mean toward the new data
    assert c0[0] > 1.0


def test_minibatch_kmeans_rejects_bad_schedule():
    import pytest

    from cses2humio_spark.streaming.stateful import minibatch_kmeans_sink

    with pytest.raises(ValueError, match="harmonic"):
        minibatch_kmeans_sink([[0.0]], learning_schedule="linear")


def test_incremental_rollup_exactly_once_across_batches(spark, tmp_path):
    """Materialized per-key rollup stays equal to the batch recompute as
    micro-batches land (maxFilesPerTrigger=1 -> one batch per file), and a
    replayed batch_id is a no-op (at-least-once -> exactly-once)."""
    from cses2humio_spark.streaming.materialized import IncrementalRollup

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "rollup")
    for i, offs in enumerate([range(0, 10), range(10, 25), range(25, 30)]):
        _write_lines(str(src / f"{i}.ndjson"), _mk_lines(offs))

    rollup = IncrementalRollup(table, key_col="user", value_col="n")

    def sink(batch_df, batch_id):
        keyed = batch_df.select(
            (F.col("attributes.metadata.offset") % 3).cast("string").alias("user"),
            F.col("attributes.event")["n"].cast("double").alias("n"),
        )
        rollup(keyed, batch_id)

    q = run_pipeline(
        ndjson_stream(spark, str(src), max_files_per_trigger=1),
        sink,
        ckpt,
        available_now=True,
    )
    q.awaitTermination()

    got = {
        r["user"]: (r["n_rows"], r["total"])
        for r in rollup.read(spark).collect()
    }
    # batch recompute over all 30 offsets: key = offset % 3, value = offset
    expect = {}
    for o in range(30):
        k = str(o % 3)
        n, t = expect.get(k, (0, 0.0))
        expect[k] = (n + 1, t + float(o))
    assert got == expect
    last = rollup.latest_batch_id()
    assert last is not None and last >= 2  # three single-file batches

    # replay: re-applying an already-committed batch must change nothing
    replay_df = spark.createDataFrame([("0", 999.0)], "user string, n double")
    rollup(replay_df, last)
    assert {
        r["user"]: (r["n_rows"], r["total"])
        for r in rollup.read(spark).collect()
    } == expect

    # a genuinely new batch still applies
    rollup(replay_df, last + 1)
    got2 = {
        r["user"]: (r["n_rows"], r["total"])
        for r in rollup.read(spark).collect()
    }
    assert got2["0"] == (expect["0"][0] + 1, expect["0"][1] + 999.0)


def test_streaming_cusum_matches_batch_scan(spark, tmp_path):
    """The applyInPandasWithState CUSUM must produce bit-identical final
    state to the batch applyInPandas scan for any chunking of a
    time-ordered stream (IEEE-exact updates; no rounding anywhere)."""
    import pandas as pd

    from cses2humio_spark.operators.drift import cusum_per_key
    from cses2humio_spark.streaming.stateful import streaming_cusum

    rows = []
    rng_vals = [37.0, 120.0, 15.5, 260.25, 88.0, 41.5, 300.0, 12.25, 199.5]
    for i in range(60):
        rows.append(
            {
                "user": i % 4,
                "ts": 1_700_000_000 + i,  # strictly increasing
                "value": rng_vals[i % len(rng_vals)] + (i % 7) * 3.25,
            }
        )

    # batch truth via the drift operator (same k/h)
    batch_df = spark.createDataFrame(
        [(r["user"], r["ts"], i, r["value"]) for i, r in enumerate(rows)],
        "user_id bigint, ts bigint, event_id bigint, value double",
    )
    truth = {
        r["user_id"]: (r["n_events"], r["max_cusum"], r["n_alarms"])
        for r in cusum_per_key(
            batch_df, "user_id", ["ts", "event_id"], "value", 60.0, 500.0
        ).collect()
    }

    # stream the same rows in 3 time-ordered chunks
    src = tmp_path / "cusum_src"
    src.mkdir()
    for c, chunk in enumerate([rows[:20], rows[20:40], rows[40:]]):
        p = src / f"{c}.ndjson"
        pd.DataFrame(chunk).to_json(p, orient="records", lines=True)
        # the file source orders micro-batches by MODIFICATION TIME, and
        # three quick writes can share an mtime — pin strictly increasing
        # mtimes so the chunks arrive in time order (the operator's
        # documented replayed-source contract)
        os.utime(p, (1_700_000_000 + c * 60, 1_700_000_000 + c * 60))
    stream = (
        spark.readStream.schema("user bigint, ts bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_cusum(stream, drift_k=60.0, alarm_h=500.0)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM cusum_stream").toPandas()
    # update mode emits one row per (key, batch); memory-sink row order is
    # NOT batch order, so pick the final state as the row with the largest
    # n_events per key (monotonically increasing by construction)
    final = {}
    for _, r in out.sort_values("n_events").iterrows():
        final[int(r["user"])] = (
            int(r["n_events"]), float(r["max_cusum"]), int(r["n_alarms"])
        )
    assert set(final) == set(truth)
    for u in truth:
        assert final[u] == truth[u], (u, final[u], truth[u])


def test_incremental_rollup_prunes_versions_and_keeps_typed_key(spark, tmp_path):
    """Retention: only keep_versions manifests survive a stream of
    commits, and a bucket version dir survives only while a retained
    manifest references it; a bigint key declared via key_type stays
    bigint from the very first merge (no silent string widening)."""
    import os as _os
    import re as _re

    from cses2humio_spark.streaming.materialized import IncrementalRollup

    table = str(tmp_path / "typed_rollup")
    rollup = IncrementalRollup(
        table, key_col="uid", value_col="v", key_type="bigint",
        keep_versions=2, n_buckets=4,
    )
    for b in range(5):
        rollup(
            spark.createDataFrame([(1, float(b)), (2, 1.0)], "uid bigint, v double"),
            b,
        )
    manifests = sorted(
        d for d in _os.listdir(table) if d.startswith("manifest_v=")
    )
    assert manifests == ["manifest_v=3.json", "manifest_v=4.json"]
    # every surviving bucket version is referenced by a retained manifest
    live = {}
    for mid in (3, 4):
        for bk, vv in rollup._load_manifest(mid).items():
            live.setdefault(bk, set()).add(vv)
    for name in _os.listdir(table):
        m = _re.fullmatch(r"bucket=(\d+)", name)
        if not m:
            continue
        bk = int(m.group(1))
        on_disk = {
            int(v.split("=")[1])
            for v in _os.listdir(_os.path.join(table, name))
        }
        assert on_disk == live[bk], (bk, on_disk, live[bk])
    out = rollup.read(spark)
    assert dict(out.dtypes)["uid"] == "bigint"
    got = {r["uid"]: (r["n_rows"], r["total"]) for r in out.collect()}
    assert got == {1: (5, 0.0 + 1 + 2 + 3 + 4), 2: (5, 5.0)}
    # n_buckets is pinned for the table's lifetime
    with pytest.raises(ValueError, match="n_buckets"):
        IncrementalRollup(
            table, key_col="uid", value_col="v", key_type="bigint",
            n_buckets=8,
        )


def test_incremental_rollup_rewrites_only_touched_buckets(spark, tmp_path):
    """VERDICT r4 #1 (the last perf-weak item): a micro-batch must
    rewrite ONLY the hash buckets its delta touches — an untouched
    bucket's files stay byte-identical (same paths, same bytes, same
    mtimes: not read, not rewritten), and the live table still reads the
    merged whole through the new manifest."""
    import glob as _glob
    import os as _os

    from cses2humio_spark.streaming.materialized import IncrementalRollup

    table = str(tmp_path / "sharded")
    rollup = IncrementalRollup(
        table, key_col="uid", value_col="v", key_type="bigint",
        keep_versions=2, n_buckets=8,
    )
    # batch 0: many keys spread across several buckets
    rollup(
        spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "uid bigint, v double"
        ),
        0,
    )
    man0 = rollup._load_manifest(0)
    assert len(man0) > 1  # the point needs >1 bucket

    # batch 1 touches exactly one key -> one bucket
    rollup(spark.createDataFrame([(7, 100.0)], "uid bigint, v double"), 1)
    man1 = rollup._load_manifest(1)
    touched = [b for b in man1 if man1[b] == 1]
    assert len(touched) == 1
    untouched = [b for b in man1 if man1[b] == 0]
    assert untouched and set(man1) == set(man0)

    def snapshot(bucket, version):
        d = _os.path.join(table, f"bucket={bucket}", f"v={version}")
        return {
            p: (_os.path.getmtime(p), open(p, "rb").read())
            for p in sorted(_glob.glob(_os.path.join(d, "*.parquet")))
        }

    before = {b: snapshot(b, 0) for b in untouched}
    # batch 2 touches the same single bucket again
    rollup(spark.createDataFrame([(7, 1.0)], "uid bigint, v double"), 2)
    after = {b: snapshot(b, 0) for b in untouched}
    assert before == after  # untouched buckets: bytes AND mtimes identical

    got = {r["uid"]: (r["n_rows"], r["total"]) for r in rollup.read(spark).collect()}
    assert got[7] == (3, 7.0 + 100.0 + 1.0)
    assert got[0] == (1, 0.0)
    assert len(got) == 40


def _sessionize_src_files(spark, src, specs):
    """Write one single-row-group parquet dir per (name, rows) spec with
    strictly increasing mtimes so the file source replays them in order."""
    for i, (name, rows) in enumerate(specs):
        df = spark.createDataFrame(rows, "user bigint, ts_s string")
        df.selectExpr("user", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(
            1
        ).write.parquet(os.path.join(src, name))
        for f in glob.glob(os.path.join(src, name, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)


def test_streaming_sessionize_timer_emits_on_watermark(spark, tmp_path):
    """Timer path: a session with NO closing row is finalized when the
    event-time watermark passes last+gap (state.hasTimedOut) — the absence
    -of-data case batch sessionize cannot see. In-stream closure (a row
    arriving > gap later) emits inline without a timer."""
    from cses2humio_spark.streaming.stateful import (
        streaming_sessionize_timeout,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _sessionize_src_files(
        spark,
        src,
        [
            ("a", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:30")]),
            ("b", [(1, "2024-01-01 10:05:00")]),  # closes session 1 inline
            ("c", [(2, "2024-01-01 10:30:00")]),  # watermark -> timer fires
        ],
    )
    stream = (
        spark.readStream.schema("user bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    out = streaming_sessionize_timeout(stream, gap_seconds=60)
    got: list = []

    def sink(batch_df, batch_id) -> None:
        got.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sess = sorted(
        (r.user, r.session_start_us, r.session_end_us, r.n_events)
        for r in got
    )
    base = 1_704_103_200_000_000  # 2024-01-01 10:00:00 UTC in micros
    assert sess == [
        (1, base, base + 30_000_000, 2),          # inline closure
        (1, base + 300_000_000, base + 300_000_000, 1),  # timer closure
    ]
    # user 2's session is still OPEN (watermark never passed 10:31) — not
    # emitted: append semantics emit exactly-closed sessions only


def test_streaming_sessionize_timer_replay_determinism(spark, tmp_path):
    """Kill/restart pin: restarting from the checkpoint neither re-emits
    closed sessions nor loses open state — the open session closes
    correctly from replayed state when its closing row arrives."""
    from cses2humio_spark.streaming.stateful import (
        streaming_sessionize_timeout,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _sessionize_src_files(
        spark,
        src,
        [
            ("a", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:30")]),
            ("b", [(1, "2024-01-01 10:05:00")]),
            ("c", [(2, "2024-01-01 10:30:00")]),
        ],
    )

    def run(collected):
        stream = (
            spark.readStream.schema("user bigint, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*"))
        )
        out = streaming_sessionize_timeout(stream, gap_seconds=60)

        def sink(batch_df, batch_id) -> None:
            collected.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run1: list = []
    run(run1)
    assert len(run1) == 2  # user 1's two sessions (see sibling test)

    # "kill": the query terminated; add the closing row for user 2's open
    # session and restart from the SAME checkpoint
    _sessionize_src_files(
        spark, str(tmp_path / "late"), [("d", [(2, "2024-01-01 11:30:00")])]
    )
    import shutil as _sh

    _sh.move(str(tmp_path / "late" / "d"), os.path.join(src, "d"))
    run2: list = []
    run(run2)
    sess2 = [(r.user, r.session_start_us, r.session_end_us, r.n_events) for r in run2]
    base = 1_704_103_200_000_000
    # exactly ONE new emission: user 2's replayed open session closed by
    # the 11:30 row (gap exceeded inline); nothing from run1 re-emitted
    assert sess2 == [(2, base + 1_800_000_000, base + 1_800_000_000, 1)]


def test_streaming_sessionize_tws_timer_twin(spark, tmp_path):
    """transformWithStateInPandas twin with REAL timers (registerTimer /
    handleExpiredTimer) — same input, same emitted sessions."""
    pytest.importorskip("google.protobuf.descriptor")
    from cses2humio_spark.streaming.stateful import streaming_sessionize_tws

    src = str(tmp_path / "src")
    os.makedirs(src)
    _sessionize_src_files(
        spark,
        src,
        [
            ("a", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:30")]),
            ("b", [(1, "2024-01-01 10:05:00")]),
            ("c", [(2, "2024-01-01 10:30:00")]),
        ],
    )
    stream = (
        spark.readStream.schema("user bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    out = streaming_sessionize_tws(stream, gap_seconds=60)
    got: list = []

    def sink(batch_df, batch_id) -> None:
        got.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sess = sorted(
        (r.user, r.session_start_us, r.session_end_us, r.n_events)
        for r in got
    )
    base = 1_704_103_200_000_000
    assert sess == [
        (1, base, base + 30_000_000, 2),
        (1, base + 300_000_000, base + 300_000_000, 1),
    ]


def test_streaming_near_dup_candidates_against_static_corpus(spark, tmp_path):
    """Streaming near-dup: incoming docs (file stream) checked against a
    static corpus signature table — per-row zero-state signatures
    (rowwise MinHash) + stream-static band join, APPEND-safe. The shape
    of 'dedup the incoming crawl against the existing corpus'."""
    from cses2humio_spark.operators.dedup import (
        minhash_signatures,
        streaming_near_dup_candidates,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different corpus content about databases here"),
            (3, "a third unrelated document text with many words inside"),
        ],
        "doc_id long, text string",
    )
    corpus_sigs = minhash_signatures(corpus, "doc_id", "text")

    src = tmp_path / "src"
    src.mkdir()
    new_docs = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one word changed)
            (101, "the quick brown fox jumps over the lazy dog today"),
            # no corpus relative
            (102, "entirely novel text sharing no shingles with anything"),
        ],
        "doc_id long, text string",
    )
    new_docs.coalesce(1).write.parquet(str(src / "a"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src / "*")
    )
    out = streaming_near_dup_candidates(stream, corpus_sigs)
    assert out.isStreaming
    got: list = []

    def sink(batch_df, batch_id) -> None:
        got.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r.doc_id, r.corpus_id) for r in got}
    assert (101, 1) in pairs
    assert all(nid != 102 for nid, _ in pairs)


def test_materialized_hql_search_matches_batch_answer(spark, tmp_path):
    """A saved HQL search maintained as a live table must, after draining
    N micro-batches, equal the same pipe run over ALL the data in one
    batch — the mergeable-aggregate contract (count/sum/min/max)."""
    from cses2humio_spark.hql import hql
    from cses2humio_spark.sources.catalog import load_table
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch
    from tests.conftest import SF_SMALL

    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, SF_SMALL, "events")
    parts = ev.randomSplit([1.0, 1.0, 1.0], seed=5)
    for i, p in enumerate(parts):
        d = str(src / f"f{i}")
        p.coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)

    pipe = (
        "event_type != view "
        "| groupBy(event_type, function=[count(), sum(value), "
        "min(value), max(value)])"
    )
    search = MaterializedHqlSearch(str(tmp_path / "tbl"), pipe)
    sch = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(search)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (r["_count"], r["_sum"], r["_min"], r["_max"])
        for r in search.read(spark).collect()
    }
    want = {
        r["event_type"]: (r["_count"], r["_sum"], r["_min"], r["_max"])
        for r in hql(ev, pipe).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]  # counts exact
        assert abs(got[k][1] - want[k][1]) < 1e-6  # float sum across merges
        assert got[k][2] == want[k][2] and got[k][3] == want[k][3]


def test_materialized_hql_search_refuses_non_mergeable():
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch

    for bad, msg in [
        # avg (r5) and stddev (r7) became mergeable via hidden exact
        # sufficient statistics; the genuinely non-mergeable aggregates
        # still refuse loudly
        ("groupBy(x, function=percentile(v))", "not mergeable"),
        ("groupBy(x, function=count(v, distinct=true))", "approxDistinct"),
        ("count()", "must end in groupBy"),
        ("groupBy(x, function=[sum(a), sum(b)])", "duplicate aggregate"),
    ]:
        with pytest.raises(ValueError, match=msg):
            MaterializedHqlSearch("/tmp/nope", bad)


def test_materialized_hql_search_replay_is_exactly_once(spark, tmp_path):
    """A replayed batch_id must be skipped (its effect is already in the
    committed version) — counts don't double."""
    from cses2humio_spark.sources.catalog import load_table
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch
    from tests.conftest import SF_SMALL

    search = MaterializedHqlSearch(
        str(tmp_path / "tbl"), "groupBy(event_type)"
    )
    ev = load_table(spark, SF_SMALL, "events").limit(50)
    search(ev, 0)
    once = {r["event_type"]: r["_count"] for r in search.read(spark).collect()}
    search(ev, 0)  # replay
    twice = {r["event_type"]: r["_count"] for r in search.read(spark).collect()}
    assert once == twice
    search(ev, 1)  # a genuinely new batch DOES merge
    after = {r["event_type"]: r["_count"] for r in search.read(spark).collect()}
    assert all(after[k] == 2 * once[k] for k in once)


def test_session_timer_clamped_when_behind_watermark():
    """ADVICE r4: arming an event-time timer at last+gap <= the current
    watermark is an IllegalArgumentException that KILLS the query. The
    update function must close such a session inline instead (unit-level
    with a fake GroupState — the real trigger needs a cross-key
    watermark race Spark only produces nondeterministically)."""
    import pandas as pd

    from cses2humio_spark.streaming.stateful import _make_session_update

    class FakeState:
        def __init__(self, wm_ms):
            self.hasTimedOut = False
            self.exists = False
            self._wm = wm_ms
            self.removed = False
            self.updated = None
            self.armed = None

        @property
        def get(self):
            raise AssertionError("no state")

        def getCurrentWatermarkMs(self):
            return self._wm

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ms):
            if ms <= self._wm:
                raise AssertionError(
                    "timer armed at or behind the watermark — would kill "
                    "the streaming query"
                )
            self.armed = ms

    update = _make_session_update(gap_seconds=5)
    rows = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:01"])})
    # watermark already far past last+gap -> close inline, never arm
    behind = FakeState(wm_ms=int(pd.Timestamp("2024-01-01 01:00:00").value // 1e6))
    out = list(update((7,), [rows], behind))
    assert behind.armed is None and behind.updated is None
    assert len(out) == 1 and out[0]["n_events"].iloc[0] == 1
    start = int(pd.Timestamp("2024-01-01 00:00:01").value // 1000)
    assert out[0]["session_start_us"].iloc[0] == start
    # healthy watermark -> state kept, timer armed at last+gap
    ahead = FakeState(wm_ms=int(pd.Timestamp("2023-12-31 23:59:00").value // 1e6))
    out = list(update((7,), [rows], ahead))
    assert out == [] and ahead.updated is not None
    assert ahead.armed == start // 1000 + 5000


def test_materialized_search_maintains_avg_and_approx_distinct(spark, tmp_path):
    """avg is maintained EXACTLY via hidden sum/count sufficient
    statistics (divided and hidden at read); approxDistinct via a
    mergeable HLL sketch union — both must equal the one-shot batch
    recompute over the concatenation of all micro-batches (avg exactly;
    the sketch estimate IDENTICALLY, since batch hql uses the same
    DataSketches aggregate)."""
    import glob
    import os

    from cses2humio_spark.hql import hql
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch

    src = tmp_path / "src"
    src.mkdir()
    chunks = [
        [(i, "error" if i % 3 == 0 else "view", float(i), i % 17)
         for i in rng]
        for rng in (range(0, 40), range(40, 90), range(90, 120))
    ]
    for i, rows in enumerate(chunks):
        d = str(src / f"f{i}")
        spark.createDataFrame(
            rows, "event_id long, event_type string, value double, uid long"
        ).coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)

    pipe = (
        "groupBy(event_type, function=[count(), avg(value, as=mean_v), "
        "approxDistinct(uid, as=n_uid)])"
    )
    search = MaterializedHqlSearch(str(tmp_path / "tbl"), pipe, n_buckets=4)
    sch = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(search)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        [r for c in chunks for r in c],
        "event_id long, event_type string, value double, uid long",
    )
    want = {
        r["event_type"]: (r["_count"], r["mean_v"], r["n_uid"])
        for r in hql(all_rows, pipe).collect()
    }
    got = {
        r["event_type"]: (r["_count"], r["mean_v"], r["n_uid"])
        for r in search.read(spark).collect()
    }
    assert set(got) == set(want) == {"error", "view"}
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])
        assert got[k][2] == want[k][2]  # same sketch -> same estimate
    # the visible schema hides the sufficient statistics
    assert set(search.read(spark).columns) == {
        "event_type", "_count", "mean_v", "n_uid"
    }
    # exact count distinct still refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="approxDistinct"):
        MaterializedHqlSearch(
            str(tmp_path / "tbl2"),
            "groupBy(event_type, function=[count(uid, distinct=true)])",
        )


def test_materialized_search_maintains_approx_percentile(spark, tmp_path):
    """approxPercentile (VERDICT r5 #4 — the p95-latency dashboard) is
    maintained via a mergeable KLL sketch: the maintained table must
    equal the one-shot batch recompute over the concatenation of all
    micro-batches EXACTLY while the sketch is in exact mode (n <= 200
    per group here), because batch hql uses the same DataSketches
    aggregate; exact percentile/stddev stay refused, pointing at the
    opt-in spelling."""
    import glob
    import os

    import pytest as _pytest

    from cses2humio_spark.hql import hql
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch

    src = tmp_path / "src"
    src.mkdir()
    chunks = [
        [(i, "error" if i % 3 == 0 else "view", float((i * 37) % 101))
         for i in rng]
        for rng in (range(0, 40), range(40, 90), range(90, 120))
    ]
    for i, rows in enumerate(chunks):
        d = str(src / f"f{i}")
        spark.createDataFrame(
            rows, "event_id long, event_type string, value double"
        ).coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)

    pipe = (
        "groupBy(event_type, function=[count(), "
        "approxPercentile(value, p=95, as=p95), "
        "approxPercentile(value, p=50)])"
    )
    search = MaterializedHqlSearch(str(tmp_path / "tbl"), pipe, n_buckets=4)
    sch = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(search)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        [r for c in chunks for r in c],
        "event_id long, event_type string, value double",
    )
    want = {
        r["event_type"]: (r["_count"], r["p95"], r["_ap50"])
        for r in hql(all_rows, pipe).collect()
    }
    got = {
        r["event_type"]: (r["_count"], r["p95"], r["_ap50"])
        for r in search.read(spark).collect()
    }
    assert got == want and set(got) == {"error", "view"}
    # the sketch stays hidden; only the quantile is visible
    assert set(search.read(spark).columns) == {
        "event_type", "_count", "p95", "_ap50"
    }
    # exact percentile still refused, naming the opt-in spelling
    with _pytest.raises(ValueError, match="approxPercentile"):
        MaterializedHqlSearch(
            str(tmp_path / "t2"),
            "groupBy(event_type, function=[percentile(value)])",
        )
    # p is mandatory and bounded in the MAINTAINED spelling too
    with _pytest.raises(ValueError, match="explicit percentile"):
        MaterializedHqlSearch(
            str(tmp_path / "t3"),
            "groupBy(event_type, function=[approxPercentile(value)])",
        )
    with _pytest.raises(ValueError, match="in \\(0, 100\\)"):
        MaterializedHqlSearch(
            str(tmp_path / "t4"),
            "groupBy(event_type, function=[approxPercentile(value, p=100)])",
        )


def test_materialized_search_maintains_stddev(spark, tmp_path):
    """stddev (VERDICT r6 #6 — the last commonly-wanted saved-search
    aggregate) is maintained via the SAME exact-decimal sufficient
    statistics (count / sum / sum-of-squares over DECIMAL(18,6)) the
    batch hql stddev computes: decimal partials add exactly across
    micro-batches, so the maintained table equals the one-shot batch
    recompute EXACTLY (same formula, same round-4), independent of
    batch boundaries."""
    import glob
    import os

    from cses2humio_spark.hql import hql
    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch

    src = tmp_path / "src"
    src.mkdir()
    chunks = [
        [(i, "error" if i % 3 == 0 else "view", float(i) * 1.25 + 0.375)
         for i in rng]
        for rng in (range(0, 40), range(40, 90), range(90, 120))
    ]
    for i, rows in enumerate(chunks):
        d = str(src / f"f{i}")
        spark.createDataFrame(
            rows, "event_id long, event_type string, value double"
        ).coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)

    pipe = (
        "groupBy(event_type, function=[count(), stddev(value, as=sd_v)])"
    )
    search = MaterializedHqlSearch(str(tmp_path / "tbl"), pipe, n_buckets=4)
    sch = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(search)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        [r for c in chunks for r in c],
        "event_id long, event_type string, value double",
    )
    want = {
        r["event_type"]: (r["_count"], r["sd_v"])
        for r in hql(all_rows, pipe).collect()
    }
    got = {
        r["event_type"]: (r["_count"], r["sd_v"])
        for r in search.read(spark).collect()
    }
    assert set(got) == set(want) == {"error", "view"}
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # EXACT equality
    # sufficient statistics stay hidden
    assert set(search.read(spark).columns) == {"event_type", "_count", "sd_v"}


def test_keyed_upsert_table_lww_tombstone_resurrect_replay(spark, tmp_path):
    """KeyedUpsertTable (lakehouse MERGE INTO on the sharded machinery):
    last-write-wins by seq regardless of ARRIVAL order (the merge is an
    associative/commutative max over (seq, payload)), tombstones hide a
    key at read, a later non-tombstone resurrects it, replayed batch ids
    are no-ops, and column overlap / geometry misuse refuse loudly."""
    import pytest as _pytest

    from cses2humio_spark.streaming.materialized import KeyedUpsertTable

    t = KeyedUpsertTable(
        str(tmp_path / "t"), key_cols="k", seq_col="seq",
        value_cols=["v"], tombstone_col="del", n_buckets=4,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, seq bigint, v double, del boolean"
    )
    t(mk([("a", 1, 1.0, False), ("b", 1, 2.0, False)]), 0)
    t(mk([("a", 3, 9.0, False), ("b", 2, 0.0, True)]), 1)  # b deleted
    # batch 2 carries an OUT-OF-ORDER update for a (seq 2 < stored 3):
    # it must lose even though it arrives later
    t(mk([("a", 2, 5.0, False), ("c", 1, 7.0, False)]), 2)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("a", 3, 9.0), ("c", 1, 7.0)], got
    # resurrect b with a higher seq
    t(mk([("b", 5, 4.0, False)]), 3)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert ("b", 5, 4.0) in got
    # replayed batch id: no-op even with different content
    t(mk([("a", 99, 0.0, False)]), 3)
    assert sorted(map(tuple, t.read(spark).collect())) == got
    # time travel inside the retained window reproduces the old state
    prev = sorted(map(tuple, t.read(spark, version=2).collect()))
    assert prev == [("a", 3, 9.0), ("c", 1, 7.0)]
    with _pytest.raises(ValueError, match="listed twice"):
        KeyedUpsertTable(
            str(tmp_path / "bad"), key_cols="k", seq_col="k",
            value_cols=["v"],
        )


def test_keyed_upsert_composite_key_no_tombstone(spark, tmp_path):
    """Composite keys bucket and merge correctly; without a tombstone
    column every key's latest version is simply visible."""
    from cses2humio_spark.streaming.materialized import KeyedUpsertTable

    t = KeyedUpsertTable(
        str(tmp_path / "ck"), key_cols=["tenant", "k"], seq_col="seq",
        value_cols=["v"], n_buckets=4,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "tenant string, k bigint, seq bigint, v double"
    )
    t(mk([("a", 1, 1, 10.0), ("b", 1, 1, 20.0)]), 0)
    t(mk([("a", 1, 2, 11.0), ("a", 2, 1, 30.0)]), 1)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [
        ("a", 1, 2, 11.0), ("a", 2, 1, 30.0), ("b", 1, 1, 20.0)
    ], got


def test_materialized_view_time_travel(spark, tmp_path):
    """Manifests are immutable and bucket versions survive while any
    retained manifest references them — so read(version=) reproduces the
    exact table state as of that batch, pruned versions refuse loudly,
    and versions() names the travel window."""
    from cses2humio_spark.streaming.materialized import IncrementalRollup

    table = str(tmp_path / "tt")
    r = IncrementalRollup(
        table, key_col="uid", value_col="v", key_type="bigint",
        keep_versions=3, n_buckets=4,
    )
    for b in range(4):
        r(
            spark.createDataFrame([(b % 2, 10.0 * b)], "uid bigint, v double"),
            b,
        )
    assert r.versions() == [1, 2, 3]  # keep_versions=3 of 4 commits

    def snap(version=None):
        return {
            row["uid"]: (row["n_rows"], row["total"])
            for row in r.read(spark, version=version).collect()
        }

    # state as of batch 1: uid0 <- batches 0 (v=0.0), uid1 <- batch 1
    assert snap(1) == {0: (1, 0.0), 1: (1, 10.0)}
    # state as of batch 2: uid0 accumulated batch 2's 20.0
    assert snap(2) == {0: (2, 20.0), 1: (1, 10.0)}
    assert snap() == snap(3) == {0: (2, 20.0), 1: (2, 40.0)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pruned"):
        r.read(spark, version=0)
    with _pytest.raises(ValueError, match="not committed"):
        r.read(spark, version=99)


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """The applyInPandasWithState EWMA must produce bit-identical final
    state to the batch ewma_final fold for any chunking of a
    time-ordered stream (IEEE-exact updates, same addition order)."""
    import pandas as pd

    from cses2humio_spark.operators.drift import ewma_final
    from cses2humio_spark.streaming.stateful import streaming_ewma

    vals = [37.0, 120.0, 15.5, 260.25, 88.0, 41.5, 300.0, 12.25, 199.5]
    rows = [
        {"user": i % 3, "ts": 1_700_000_000 + i, "value": vals[i % len(vals)] + (i % 5) * 2.5}
        for i in range(45)
    ]
    batch_df = spark.createDataFrame(
        [(r["user"], r["ts"], r["value"]) for r in rows],
        "uid long, seq long, value double",
    )
    truth = {
        r["uid"]: (r["n_events"], r["ewma"], r["deviation"])
        for r in ewma_final(batch_df, "uid", ["seq"], "value", 0.3).collect()
    }

    src = tmp_path / "ewma_src"
    src.mkdir()
    for c, chunk in enumerate([rows[:15], rows[15:30], rows[30:]]):
        p = src / f"{c}.ndjson"
        pd.DataFrame(chunk).to_json(p, orient="records", lines=True)
        os.utime(p, (1_700_000_000 + c * 60,) * 2)
    stream = (
        spark.readStream.schema("user bigint, ts bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM ewma_stream").toPandas()
    final = {}
    for _, r in out.sort_values("n_events").iterrows():
        final[int(r["user"])] = (
            int(r["n_events"]),
            round(float(r["ewma"]), 6),
            round(float(r["deviation"]), 6),
        )
    assert set(final) == set(truth)
    for u in truth:
        assert final[u] == (truth[u][0], truth[u][1], truth[u][2]), (
            u, final[u], truth[u]
        )


def test_materialized_search_with_parser_stage_prefix(spark, tmp_path):
    """The round-5 parser stages work inside a MAINTAINED search's pipe
    prefix: raw k=v lines are kvParse'd per micro-batch before the
    mergeable groupBy — the 'saved search over raw logs as a live
    table' shape."""
    import glob
    import os

    from cses2humio_spark.streaming.materialized import MaterializedHqlSearch

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [("type=error val=3",), ("type=view val=5",)],
        [("type=error val=7",)],
    ]
    for i, rows in enumerate(batches):
        d = str(src / f"f{i}")
        spark.createDataFrame(rows, "raw string").coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (1_700_000_000 + i * 60,) * 2)

    search = MaterializedHqlSearch(
        str(tmp_path / "tbl"),
        "kvParse(raw, keys=[type, val]) "
        "| groupBy(type, function=[count(), sum(val, as=total)])",
        n_buckets=4,
    )
    stream = (
        spark.readStream.schema("raw string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(search)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["type"]: (r["_count"], r["total"])
        for r in search.read(spark).collect()
    }
    assert got == {"error": (2, 10.0), "view": (1, 5.0)}


def _process_starts(spark, jfr_path: str, run) -> list[str]:
    """Commands of every process the driver JVM forked while ``run()``
    ran, as recorded by a JFR ``jdk.ProcessStart`` recording."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        run()
    finally:
        rec.stop()
    dump = jvm.java.io.File(jfr_path).toPath()
    rec.dump(dump)
    rec.close()
    return [str(e.getString("command")) for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)]


def _checkpoint_file_manager(spark, path: str):
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path("file://" + path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_checkpoint_logs_spawn_no_readlink(spark, tmp_path):
    """Writing a micro-batch's source log, offsets WAL, commit and state
    deltas forks no ``readlink``: local sessions write checkpoint logs
    through Hadoop FileSystem, whose local rename is one rename(2)."""
    from cses2humio_spark.session import session_conf

    # three files, drained one per micro-batch in mtime order; offsets
    # overlap across files, so the replay dedup has work
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        path = str(src / f"{i}.ndjson")
        _write_lines(path, _mk_lines(range(3 * i, 3 * i + 4)))
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    spool = str(tmp_path / "spool")

    def stateless_drain():
        q = run_pipeline(
            ndjson_stream(spark, str(src), max_files_per_trigger=1),
            sink=chunked_sink(spool),
            checkpoint_dir=str(tmp_path / "ckpt_pipeline"),
            available_now=True,
        )
        q.awaitTermination(120)

    def dedup_drain():
        lines = ndjson_stream(spark, str(src), max_files_per_trigger=1)
        enveloped = enrich_events(parse_events(lines.withColumn("partition", F.lit(0))))
        q = (
            with_replay_dedup(enveloped)
            .writeStream.format("memory")
            .queryName("readlink_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for name, drain in (("pipeline", stateless_drain), ("dedup", dedup_drain)):
        spawned = _process_starts(spark, str(tmp_path / f"{name}.jfr"), drain)
        commits = os.listdir(tmp_path / f"ckpt_{name}" / "commits")
        assert {"0", "1", "2"} <= set(commits), (name, commits)
        readlinks = [c for c in spawned if c.startswith("readlink")]
        assert readlinks == [], (name, len(readlinks), readlinks[:3])

    offs = sorted(e["attributes"]["metadata"]["offset"] for p in _spooled(spool) for e in p["body"][0]["events"])
    assert offs == sorted([o for i in range(3) for o in range(3 * i, 3 * i + 4)])
    rows = spark.sql("select attributes.metadata.offset as o from readlink_dedup").collect()
    assert sorted(r.o for r in rows) == list(range(10))

    mgr = _checkpoint_file_manager(spark, str(tmp_path / "ckpt_pipeline"))
    assert mgr.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    )
    assert "spark.sql.streaming.checkpointFileManagerClass" not in session_conf(local=False)


def test_checkpoint_log_refuses_to_overwrite_a_batch(spark, tmp_path):
    """The FileSystem checkpoint manager keeps the log's write-once
    contract: an atomic create without overwrite on a committed batch
    file fails at close and leaves the committed bytes as they were."""
    from py4j.protocol import Py4JJavaError

    src = tmp_path / "src"
    src.mkdir()
    _write_lines(str(src / "a.ndjson"), _mk_lines(range(5)))
    ckpt = str(tmp_path / "ckpt")
    q = run_pipeline(
        ndjson_stream(spark, str(src)),
        sink=chunked_sink(str(tmp_path / "spool")),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    batch0 = os.path.join(ckpt, "offsets", "0")
    with open(batch0, "rb") as f:
        committed = f.read()

    mgr = _checkpoint_file_manager(spark, ckpt)
    out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path("file://" + batch0), False)
    out.write(bytearray(b"v1\n{}\n"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    with open(batch0, "rb") as f:
        assert f.read() == committed
