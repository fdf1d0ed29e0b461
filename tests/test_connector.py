"""Connector enrichment semantics (SURVEY.md §2.1 invariants 1-5) against
FIXTURES.md B1/B2 fixture lines — batch-mode (the transforms are identical
in streaming; streaming mechanics are covered in test_streaming.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cses2humio_spark.streaming.pipeline import enrich_events, parse_events

GOOD_LINE = json.dumps(
    {
        "metadata": {
            "offset": 101,
            "eventCreationTime": 1723500000000,
            "eventType": "UserActivityAuditEvent",
        },
        "event": {
            "UserId": "jdoe@example.com",
            "OperationName": "twoFactorAuthenticate",
            "Success": True,
            "AuditKeyValues": [
                {"Key": "target_name", "ValueString": "jdoe@example.com"},
                {"Key": "quota", "ValueString": "42"},
            ],
        },
    }
)
COLLISION_LINE = json.dumps(
    {
        "metadata": {"offset": 102, "eventCreationTime": 1723500001000},
        "event": {
            "Success": True,
            "AuditKeyValues": [{"Key": "Success", "ValueString": "override"}],
        },
    }
)
NO_AKV_LINE = json.dumps(
    {
        "metadata": {"offset": 103, "eventCreationTime": 1723500002000},
        "event": {"OperationName": "detect", "Severity": 5},
    }
)
MALFORMED_LINE = '{"metadata": {"offset": 7, "eventCreation'
AKV_DUP_LINE = json.dumps(
    {
        "metadata": {"offset": 104, "eventCreationTime": 1723500003000},
        "event": {
            "AuditKeyValues": [
                {"Key": "k", "ValueString": "first"},
                {"Key": "k", "ValueString": "second"},
            ]
        },
    }
)

ALL_LINES = [GOOD_LINE, COLLISION_LINE, NO_AKV_LINE, MALFORMED_LINE, "", AKV_DUP_LINE]


@pytest.fixture(scope="module")
def enriched(spark):
    df = spark.createDataFrame([(l,) for l in ALL_LINES if l], ["value"])
    out = enrich_events(
        parse_events(df), app_id="test-app", with_metadata=True, host="testhost"
    )
    return {r.attributes.metadata.offset: r for r in out.collect()}


def test_malformed_dropped_stream_continues(enriched):
    # invariant 2: the malformed line is gone; the others all survive
    assert set(enriched) == {101, 102, 103, 104}


def test_envelope_shape(enriched):
    r = enriched[101]
    assert r.timestamp == 1723500000000
    assert json.loads(r.rawstring) == json.loads(GOOD_LINE)
    assert r.attributes.metadata.eventType == "UserActivityAuditEvent"


def test_kv_flatten_stringly_and_merged(enriched):
    ev = enriched[101].attributes.event
    # AKV pairs lifted to event.*, numbers stay strings (app.py:126)
    assert ev["target_name"] == "jdoe@example.com"
    assert ev["quota"] == "42"
    # original scalar payload keys survive, stringified
    assert ev["UserId"] == "jdoe@example.com"
    assert ev["Success"] == "true"
    # the array itself is dropped (app.py:127)
    assert "AuditKeyValues" not in ev


def test_kv_collision_last_wins(enriched):
    # invariant 4: AKV overrides the payload key (dict-update order)
    assert enriched[102].attributes.event["Success"] == "override"


def test_kv_dup_within_akv_last_wins(enriched):
    assert enriched[104].attributes.event["k"] == "second"


def test_missing_akv_is_noop(enriched):
    ev = enriched[103].attributes.event
    assert ev["OperationName"] == "detect"
    assert ev["Severity"] == "5"


def test_static_metadata_enrichment(enriched):
    r = enriched[101]
    assert r.attributes["@host"] == "testhost"
    assert r.attributes["@stream"] == "test-app"


def test_offset_from_parsed_records_only(spark):
    # SURVEY §2.1 invariant 2 edge: malformed FINAL line must not affect the
    # committable offset — max(parsed offsets) ignores it by construction
    df = spark.createDataFrame(
        [(GOOD_LINE,), (MALFORMED_LINE,)], ["value"]
    )
    parsed = parse_events(df)
    max_offset = parsed.agg(F.max("metadata.offset")).collect()[0][0]
    assert max_offset == 101


def test_property_flatten_roundtrip(spark):
    # property-style sweep: random-ish AKV lists incl unicode, empties,
    # collisions — last-wins against both payload and earlier AKV entries
    import random

    rng = random.Random(42)
    lines, expect = [], {}
    for i in range(50):
        base = {f"k{j}": rng.randint(0, 9) for j in range(rng.randint(0, 4))}
        akv = [
            {"Key": rng.choice([f"k{j}" for j in range(5)] + ["ü", ""]),
             "ValueString": f"v{rng.randint(0,99)}"}
            for _ in range(rng.randint(0, 6))
        ]
        ev = dict(base)
        if akv or rng.random() < 0.8:
            ev["AuditKeyValues"] = akv
        lines.append(
            json.dumps(
                {"metadata": {"offset": i, "eventCreationTime": 1}, "event": ev}
            )
        )
        merged = {k: str(v) for k, v in base.items()}
        for pair in akv:
            merged[pair["Key"]] = pair["ValueString"]
        expect[i] = merged
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    out = enrich_events(parse_events(df))
    for r in out.collect():
        off = r.attributes.metadata.offset
        got = dict(r.attributes.event) if r.attributes.event else {}
        assert got == expect[off], f"offset {off}: {got} != {expect[off]}"


def test_hypothesis_malformed_injection_count_conservation(spark):
    """SURVEY §5.5: for ANY mix of valid events and garbage lines,
    parsed + dropped == total — malformed input can shrink but never
    block or duplicate the stream."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    valid = st.builds(
        lambda off, ect: json.dumps(
            {"metadata": {"offset": off, "eventCreationTime": ect}, "event": {}}
        ),
        st.integers(0, 2**40),
        st.integers(0, 2**40),
    )
    # garbage: truncated JSON, non-JSON text, valid JSON missing the
    # envelope, unicode noise — everything the chunked feed can produce
    garbage = st.one_of(
        st.just('{"metadata": {'),
        st.text(min_size=1, max_size=40).filter(lambda s: not s.strip().startswith("{")),
        st.just('{"no_metadata": 1}'),
        st.just("[1, 2, 3]"),
    )

    def model_valid(line):
        try:
            d = json.loads(line)
        except (ValueError, TypeError):
            return False
        return isinstance(d, dict) and isinstance(d.get("metadata"), dict)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(st.one_of(valid, garbage), min_size=1, max_size=30))
    def run(lines):
        n_valid = sum(1 for l in lines if model_valid(l))
        # explicit schema: the kept list may be empty (all-whitespace input)
        df = spark.createDataFrame(
            [(l,) for l in lines if l.strip()], "value string"
        )
        parsed = parse_events(df)
        assert parsed.count() == n_valid

    run()


def test_variant_parse_drops_malformed(spark):
    """Spark 4 variant path keeps the R4 drop-malformed contract:
    try_parse_json -> null -> filtered, envelope paths still required."""
    from cses2humio_spark.streaming.pipeline import parse_events_variant

    df = spark.createDataFrame(
        [(GOOD_LINE,), (MALFORMED_LINE,), ('{"no_metadata": 1}',)], ["value"]
    )
    out = parse_events_variant(df)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].offset == 101


_META = '"metadata":{"offset":1,"eventCreationTime":1723500000000,"eventType":"T"}'


def _line(event: str) -> str:
    return "{" + _META + ',"event":' + event + "}"


#: (case, NDJSON line, flattened ``attributes.event`` — or DROPPED when
#: the line does not survive ``parse_events``). Any change to how a line
#: is parsed (a single typed parse, a map-typed envelope) must keep every
#: row of this table.
DROPPED = object()
EDGE_LINES = [
    ("dup_event_keys", _line('{"a":"1","b":"x","a":"2"}'), {"a": "2", "b": "x"}),
    (
        "keyless_akv_entries",
        _line(
            '{"p":"q","AuditKeyValues":[{"ValueString":"x"},'
            '{"Key":"k","ValueString":"v"},{"Key":null,"ValueString":"y"}]}'
        ),
        {"p": "q", "k": "v"},
    ),
    (
        "nested_bool_float_null_values",
        _line('{"n":{"x":1,"y":[1,2]},"b":true,"f":1.5,"e":1e3,"z":null,"i":7}'),
        {"n": '{"x":1,"y":[1,2]}', "b": "true", "f": "1.5", "e": "1000.0", "z": None, "i": "7"},
    ),
    ("event_array", _line("[1,2]"), DROPPED),
    ("event_string", _line('"str"'), DROPPED),
    ("event_missing", "{" + _META + "}", {}),
    ("metadata_null", '{"metadata":null,"event":{"a":"1"}}', DROPPED),
    (
        "event_creation_time_non_numeric",
        '{"metadata":{"offset":1,"eventCreationTime":"abc"},"event":{"a":"1"}}',
        DROPPED,
    ),
    ("akv_string", _line('{"a":"1","AuditKeyValues":"abc"}'), DROPPED),
    (
        "akv_single_object",
        _line('{"a":"1","AuditKeyValues":{"Key":"k","ValueString":"v"}}'),
        DROPPED,
    ),
    ("akv_number", _line('{"a":"1","AuditKeyValues":5}'), DROPPED),
    ("akv_null", _line('{"a":"1","AuditKeyValues":null}'), {"a": "1"}),
    ("akv_empty", _line('{"a":"1","AuditKeyValues":[]}'), {"a": "1"}),
    ("akv_ints", _line('{"a":"1","AuditKeyValues":[1,2]}'), DROPPED),
    (
        "akv_non_string_value",
        _line(
            '{"a":"1","AuditKeyValues":[{"Key":"k","ValueString":5},'
            '{"Key":"b","ValueString":true}]}'
        ),
        {"a": "1", "k": "5", "b": "true"},
    ),
    (
        "akv_string_holding_json_array",
        _line(
            '{"a":"1","AuditKeyValues":'
            + json.dumps(json.dumps([{"Key": "k", "ValueString": "v"}]))
            + "}"
        ),
        DROPPED,
    ),
    ("not_json", "not json at all", DROPPED),
    ("json_array_line", "[1,2,3]", DROPPED),
    ("truncated", '{"metadata":{"offset":7,"eventCrea', DROPPED),
]


def test_edge_lines_kept_dropped_and_flattened(spark):
    df = spark.createDataFrame(
        [(case, line) for case, line, _ in EDGE_LINES], "case string, value string"
    )
    got = {
        r.case: dict(r.attributes.event)
        for r in enrich_events(parse_events(df)).collect()
    }
    for case, _, expected in EDGE_LINES:
        if expected is DROPPED:
            assert case not in got, f"{case}: kept as {got.get(case)}"
        else:
            assert got.get(case, DROPPED) == expected, case


def test_kv_fold_independent_of_map_key_dedup_policy(spark):
    # the fold itself never builds a map with a repeated key, so it runs
    # under EXCEPTION too (parse_events pins LAST_WIN only for raw JSON)
    df = spark.createDataFrame([(COLLISION_LINE,), (AKV_DUP_LINE,)], ["value"])
    out = enrich_events(parse_events(df))
    key = "spark.sql.mapKeyDedupPolicy"
    spark.conf.set(key, "EXCEPTION")
    try:
        rows = {r.attributes.metadata.offset: r.attributes.event for r in out.collect()}
    finally:
        spark.conf.set(key, "LAST_WIN")
    assert rows[102] == {"Success": "override"}
    assert rows[104] == {"k": "second"}
