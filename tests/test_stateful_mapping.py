"""Conditional mapping rules."""

import json

import pytest
from pyspark.sql import types as T

from edgelake_spark.ingest.mapping import apply_mapping_policy


def test_mapping_conditions_first_match_wins(spark):
    policy = {
        "mapping": {
            "id": "m2",
            "schema": {
                "device": {"type": "varchar", "bring": "[device]"},
                "status": {
                    "type": "varchar",
                    "bring": "[status]",
                    "conditions": [
                        {"if": "[value] > 100", "then": "alarm"},
                        {"if": "[value] > 50", "then": "warn"},
                    ],
                },
                "value": {"type": "float", "bring": "[value]"},
            },
        }
    }
    rows = [
        {"device": "a", "status": "ok", "value": 10.0},
        {"device": "b", "status": "ok", "value": 60.0},
        {"device": "c", "status": "ok", "value": 200.0},
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    out = {r.device: r.status for r in apply_mapping_policy(spark, raw, policy).collect()}
    # rules apply in order; LAST when() wrapped wins for overlapping
    # conditions only if earlier — first listed rule has priority
    assert out == {"a": "ok", "b": "warn", "c": "alarm"}


def test_mapping_ignore_if_drops_rows(spark):
    policy = {
        "mapping": {
            "id": "m3",
            "ignore_if": "[value] < 0",
            "schema": {
                "device": {"type": "varchar", "bring": "[device]"},
                "value": {"type": "float", "bring": "[value]"},
            },
        }
    }
    rows = [{"device": "a", "value": 1.0}, {"device": "bad", "value": -5.0}]
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    got = apply_mapping_policy(spark, raw, policy).collect()
    assert [r.device for r in got] == ["a"]


def test_mapping_compound_conditions(spark):
    """and/or chains in condition rules (reference if-scripts support
    compound predicates; or binds looser than and)."""
    policy = {
        "mapping": {
            "id": "m4",
            "schema": {
                "device": {"type": "varchar", "bring": "[device]"},
                "grade": {
                    "type": "varchar",
                    "bring": "[grade]",
                    "conditions": [
                        {"if": "[value] > 50 and [temp] > 30", "then": "critical"},
                        {"if": "[value] > 50 or [temp] > 90", "then": "watch"},
                    ],
                },
            },
        }
    }
    rows = [
        {"device": "a", "grade": "ok", "value": 60.0, "temp": 40.0},  # and → critical
        {"device": "b", "grade": "ok", "value": 60.0, "temp": 10.0},  # or → watch
        {"device": "c", "grade": "ok", "value": 10.0, "temp": 95.0},  # or → watch
        {"device": "d", "grade": "ok", "value": 10.0, "temp": 10.0},  # neither
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    out = {r.device: r.grade for r in apply_mapping_policy(spark, raw, policy).collect()}
    assert out == {"a": "critical", "b": "watch", "c": "watch", "d": "ok"}


def test_mapping_imperative_script(spark):
    """Ordered if/then script semantics (reference process_if_code,
    mapping_policy.py:747-801): sequential assignment overwrites,
    ignore-script early break, ignore-event drop, ignore-attribute
    nulling — all compiled to Catalyst when() chains."""
    policy = {
        "mapping": {
            "id": "s1",
            "schema": {
                "device": {"type": "varchar", "bring": "[device]"},
                "value": {"type": "float", "bring": "[value]"},
                "status": {"type": "varchar", "bring": "[status]"},
            },
            "script": [
                # sequential overwrite: both lines match value>50 rows,
                # the LATER one wins, like imperative execution
                "if [value] > 50 then grade = high",
                "if [value] > 100 then grade = critical",
                # early break: device 'x' stops before the masking line
                "if [device] == x then ignore script",
                "if [status] == hide then ignore attribute status",
                "if [value] < 0 then ignore event",
                "source = script",
            ],
        }
    }
    rows = [
        {"device": "a", "status": "ok", "value": 60.0},
        {"device": "b", "status": "hide", "value": 200.0},
        {"device": "x", "status": "hide", "value": 10.0},
        {"device": "bad", "status": "ok", "value": -1.0},
    ]
    import json as _json

    raw = spark.createDataFrame([(_json.dumps(r),) for r in rows], "value string")
    out = {r.device: r for r in apply_mapping_policy(spark, raw, policy).collect()}
    assert set(out) == {"a", "b", "x"}  # 'bad' dropped by ignore event
    assert out["a"].grade == "high" and out["b"].grade == "critical"
    assert out["b"].status is None  # masked by ignore attribute
    # 'x' broke out before the masking line: keeps its status, and the
    # unconditional trailing assignment also never ran for it
    assert out["x"].status == "hide" and out["x"].grade is None
    assert out["x"].source is None and out["a"].source == "script"


def test_session_stream_matches_batch_semantics(spark, tmp_path):
    """Streaming gap-sessionizer == batch lag/cumsum sessionize for every
    CLOSED session, with state carrying open sessions across
    micro-batches (a session spanning two batches must not split)."""
    from edgelake_spark.streaming.stateful import session_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("user_id", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    b1 = [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00"},
        {"user_id": "u1", "ts": "2024-01-01 10:10:00"},
        {"user_id": "u2", "ts": "2024-01-01 09:00:00"},
    ]
    # u1's 10:20 event continues the batch-1 session; 11:30 opens a new
    # one (gap 70m) -> session 1 closes with events from BOTH batches
    b2 = [
        {"user_id": "u1", "ts": "2024-01-01 10:20:00"},
        {"user_id": "u1", "ts": "2024-01-01 11:30:00"},
        {"user_id": "u2", "ts": "2024-01-01 09:05:00"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    stream = spark.readStream.format("json").schema(schema).load(str(src))
    out = session_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from sess_out").count() == 0  # nothing closed yet
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
        closed = {
            (r.user_id, r.session_id): r
            for r in spark.sql("select * from sess_out").collect()
        }
    finally:
        q.stop()
    # only u1's first session closed: 3 events 10:00-10:20 spanning batches
    assert set(closed) == {("u1", 1)}
    row = closed[("u1", 1)]
    assert row.n_events == 3
    assert row.session_start.isoformat() == "2024-01-01T10:00:00"
    assert row.session_end.isoformat() == "2024-01-01T10:20:00"


def test_mapping_regex_group_pulls(spark):
    """re.group(N) bring values extract from the policy's re_match
    pattern applied to re_source — the reference's PLC tag-name mapping
    (mapping_policy.py:57,1153; mqtt_client.py:1234-1250)."""
    policy = {
        "mapping": {
            "id": "m_re",
            # PLC tag names like "plant1.line3.temp" carry the site and
            # line in the name itself
            "re_match": r"(\w+)\.line(\d+)\.(\w+)",
            "re_source": "[tag]",
            "schema": {
                "site": {"type": "varchar", "bring": "re.group(1)"},
                "line_no": {"type": "int", "bring": "re.group(2)"},
                "metric": {"type": "varchar", "bring": "re.group(3)"},
                "reading": {"type": "float", "bring": "[value]"},
            },
        }
    }
    rows = [
        {"tag": "plant1.line3.temp", "value": 21.5},
        {"tag": "plant2.line12.rpm", "value": 900.0},
        {"tag": "malformed-tag", "value": 1.0},  # no match → NULLs
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    got = {
        r.reading: (r.site, r.line_no, r.metric)
        for r in apply_mapping_policy(spark, raw, policy).collect()
    }
    assert got[21.5] == ("plant1", 3, "temp")
    assert got[900.0] == ("plant2", 12, "rpm")
    assert got[1.0] == (None, None, None)


def test_mapping_regex_group_requires_pattern(spark):
    policy = {
        "mapping": {
            "id": "m_bad",
            "schema": {"x": {"type": "varchar", "bring": "re.group(1)"}},
        }
    }
    raw = spark.createDataFrame([('{"a": 1}',)], "value string")
    with pytest.raises(ValueError, match="re_match"):
        apply_mapping_policy(spark, raw, policy)


def test_mapping_regex_group_in_script(spark):
    """re.group(N) also works as a script assignment RHS."""
    policy = {
        "mapping": {
            "id": "m_re_script",
            "re_match": r"(\w+)/(\w+)",
            "re_source": "[topic]",
            "schema": {"v": {"type": "float", "bring": "[v]"}},
            "script": ["room = re.group(2)"],
        }
    }
    raw = spark.createDataFrame(
        [('{"topic": "floor1/kitchen", "v": 3.5}',)], "value string"
    )
    row = apply_mapping_policy(spark, raw, policy).collect()[0]
    assert (row.v, row.room) == (3.5, "kitchen")


def test_anomaly_stream_flags_after_min_n(spark, tmp_path):
    """Streaming z-score monitor: values score against PRE-update state,
    flagging starts only after min_n observations, and the Welford
    state carries across batches."""
    from edgelake_spark.streaming.stateful import anomaly_stream

    src = tmp_path / "asrc"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("device", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    # batch 1: ten mild values — below min_n, nothing may flag
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"device": "d1", "value": float(v)}) for v in [10, 11, 9, 10, 12, 10, 9, 11, 10, 10])
    )
    stream = spark.readStream.format("json").schema(schema).load(str(src))
    out = anomaly_stream(stream, "device", "value", z_threshold=3.0, min_n=10)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("anom_out")
        .option("checkpointLocation", str(tmp_path / "ackpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("select * from anom_out").collect()[-1]
        assert first.n_total == 10 and first.n_flagged == 0

        # batch 2: one wild outlier + one mild value -> exactly one flag,
        # scored against the carried batch-1 state
        (src / "b2.json").write_text(
            "\n".join(json.dumps({"device": "d1", "value": v}) for v in [500.0, 10.0])
        )
        q.processAllAvailable()
        rows = spark.sql("select * from anom_out order by n_total").collect()
        assert rows[-1].n_total == 12
        assert rows[-1].n_flagged == 1
        assert rows[-1].last_flagged_value == 500.0
    finally:
        q.stop()


def test_open_session_survives_query_restart(spark, tmp_path):
    """A session OPEN at shutdown lives only in the state store; if the
    restore loses it, the restarted stream either drops the session or
    splits it in two. Stop after batch 1 (session open), start a NEW
    query instance from the same checkpoint, stream batch 2 whose gap
    closes it — ONE session spanning the restart must emit, counting
    events from both sides."""
    from edgelake_spark.streaming.stateful import session_stream

    src = tmp_path / "rs_src"
    src.mkdir()
    ckpt = str(tmp_path / "rs_ckpt")
    schema = T.StructType(
        [T.StructField("user_id", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    b1 = [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00"},
        {"user_id": "u1", "ts": "2024-01-01 10:10:00"},
    ]
    b2 = [
        {"user_id": "u1", "ts": "2024-01-01 10:20:00"},  # continues across restart
        {"user_id": "u1", "ts": "2024-01-01 11:30:00"},  # 70m gap -> closes it
    ]
    rows: list = []

    def start():
        out = session_stream(
            spark.readStream.format("json").schema(schema).load(str(src)),
            gap_minutes=30,
        )
        return (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert rows == []  # nothing closed; the open session is state only

    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    assert len(rows) == 1
    got = rows[0]
    assert (got.user_id, got.session_id, got.n_events) == ("u1", 1, 3)
    assert got.session_start.isoformat() == "2024-01-01T10:00:00"
    assert got.session_end.isoformat() == "2024-01-01T10:20:00"
