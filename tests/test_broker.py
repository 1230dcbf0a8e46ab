"""Kafka/broker consumer + dest=kafka sink, driven through the text
file-source double (same single `value` string column contract as a
Kafka source — see streaming/broker.py docstring)."""

import json

from edgelake_spark.streaming.broker import (
    BrokerConsumer,
    kafka_wire_format,
    parse_kafka_consumer_command,
    parse_topic_spec,
    write_query_to_broker,
)
from edgelake_spark.streaming.conditions import StreamingCondition
from edgelake_spark.streaming.monitor import DataMonitor
from edgelake_spark.txlog import TxTable
from tests.conftest import drop_last_commit


def test_parse_topic_spec():
    tm = parse_topic_spec(
        'name = sensor and dbms = lsl_demo and table = ping_sensor and '
        'column.timestamp.timestamp = "bring [timestamp]" and '
        'column.value.int = "bring [value]"'
    )
    assert tm.name == "sensor" and tm.dbms == "lsl_demo" and tm.table == "ping_sensor"
    assert tm.columns == {
        "timestamp": ("timestamp", "[timestamp]"),
        "value": ("int", "[value]"),
    }


def test_parse_kafka_consumer_command():
    cfg = parse_kafka_consumer_command(
        "run kafka consumer where ip = 198.74.50.131 and port = 9092 and "
        "reset = earliest and topic = (name = sensor and dbms = d and "
        'table = t and column.value.int = "bring [value]")'
    )
    assert cfg["ip"] == "198.74.50.131"
    assert cfg["port"] == 9092 and cfg["reset"] == "earliest"
    assert cfg["topic"].name == "sensor"


def test_engine_registers_consumer(spark):
    from edgelake_spark.engine import EdgeLakeEngine

    eng = EdgeLakeEngine(spark)
    df = eng.run(
        "run kafka consumer where ip = 10.0.0.5 and port = 9092 and topic = "
        '(name = t1 and dbms = d and table = x and column.v.int = "bring [v]")'
    )
    assert df.collect()[0].bootstrap == "10.0.0.5:9092"
    assert "t1" in eng.broker_consumers


def test_broker_consumer_end_to_end(spark, tmp_path):
    """Simulated topic messages → bring mapping → conditions → monitor →
    TxTable append, via the text-source double."""
    src = tmp_path / "topic"
    src.mkdir()
    msgs = [
        {"timestamp": "2024-01-01 00:00:00", "value": 5, "note": "ok"},
        {"timestamp": "2024-01-01 00:01:00", "value": 50, "note": "hot"},
        {"timestamp": "2024-01-01 00:02:00", "value": 7, "note": "ok"},
    ]
    (src / "m1.txt").write_text("\n".join(json.dumps(m) for m in msgs))

    tm = parse_topic_spec(
        'name = sensor and dbms = d and table = readings and '
        'column.ts.timestamp = "bring [timestamp]" and '
        'column.value.int = "bring [value]"'
    )
    mon = DataMonitor(value_column="value", intervals=2, interval_seconds=3600)
    consumer = BrokerConsumer(
        spark=spark,
        topic=tm,
        source="text",
        source_dir=str(src),
        conditions=[StreamingCondition.parse("if [value] > 10 then ignore entry")],
        monitor=mon,
    )
    out = tmp_path / "landed"
    q = consumer.start(str(out))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = TxTable(str(out)).read(spark)
    rows = sorted((r.ts.isoformat(), r.value) for r in landed.collect())
    # value=50 dropped by the condition; types are real timestamp/int
    assert rows == [("2024-01-01T00:00:00", 5), ("2024-01-01T00:02:00", 7)]
    assert dict(landed.dtypes)["value"] == "int"
    assert mon.snapshot()[0]["count"] == 2


def test_broker_consumer_replay_after_lost_commit_lands_once(spark, tmp_path):
    """The consumer lands through the StreamIngest sink: after the last
    `commits/<n>` of its checkpoint is lost, the restarted consumer
    replays epoch n and the sink skips it — the table keeps exactly the
    topic's rows instead of doubling them."""
    src = tmp_path / "topic"
    src.mkdir()
    (src / "m1.txt").write_text(
        "\n".join(json.dumps({"value": v}) for v in range(5))
    )
    tm = parse_topic_spec('name = replay and column.value.int = "bring [value]"')
    out = str(tmp_path / "landed")

    def run_once() -> None:
        consumer = BrokerConsumer(spark=spark, topic=tm, source="text", source_dir=str(src))
        q = consumer.start(out)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    drop_last_commit(f"{out}/_checkpoints/broker_replay")
    run_once()
    landed = TxTable(out).read(spark)
    assert sorted(r.value for r in landed.collect()) == list(range(5))


def test_kafka_wire_format_and_file_sink(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    wire = kafka_wire_format(df)
    assert wire.columns == ["value"]
    dest_dir = tmp_path / "kafka_out"
    msg = write_query_to_broker(df, f"kafka@file:{dest_dir}")
    assert "published" in msg
    back = [json.loads(r.value) for r in spark.read.text(str(dest_dir)).collect()]
    assert sorted(back, key=lambda d: d["k"]) == [{"k": 1, "s": "a"}, {"k": 2, "s": "b"}]


def test_engine_dest_kafka_file(spark, tmp_path):
    from datetime import datetime

    from edgelake_spark.engine import EdgeLakeEngine
    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    dest_dir = tmp_path / "q_out"
    eng.run(
        f'sql d dest = kafka@file:{dest_dir} '
        '"select event_id from events order by event_id limit 3"'
    )
    vals = sorted(
        json.loads(r.value)["event_id"]
        for r in eng.spark.read.text(str(dest_dir)).collect()
    )
    assert vals == [0, 1, 2]


def test_mqtt_client_alias_and_long_column_form(spark):
    from edgelake_spark.engine import EdgeLakeEngine
    from edgelake_spark.streaming.broker import parse_topic_spec

    tm = parse_topic_spec(
        'name = edgex and dbms = d and table = t and '
        'column.ts = (type = timestamp and value = "bring [readings][ts]" and optional = true) and '
        'column.v.int = "bring [v]"'
    )
    assert tm.columns["ts"] == ("timestamp", "[readings][ts]")
    assert tm.columns["v"] == ("int", "[v]")

    eng = EdgeLakeEngine(spark)
    df = eng.run(
        "run mqtt client where broker = 10.1.1.1 and port = 32150 and topic = "
        '(name = edgex and dbms = d and table = t and column.v.int = "bring [v]")'
    )
    assert df.collect()[0].bootstrap == "10.1.1.1:32150"
    assert "edgex" in eng.broker_consumers


def test_consumer_picks_up_registered_conditions(spark):
    from edgelake_spark.engine import EdgeLakeEngine

    eng = EdgeLakeEngine(spark)
    eng.run(
        "set streaming condition where dbms = d and table = x "
        "if [v] > 10 then ignore entry"
    )
    eng.run("data monitor where dbms = d and table = x and intervals = 2")
    eng.run(
        "run kafka consumer where ip = 10.0.0.5 and port = 9092 and topic = "
        '(name = t9 and dbms = d and table = x and column.v.int = "bring [v]")'
    )
    cfg = eng.broker_consumers["t9"]
    assert len(cfg["conditions"]) == 1 and cfg["conditions"][0].column == "v"
    assert cfg["monitor"] is not None


def test_run_message_broker_full_node_roundtrip(spark, tmp_path):
    """`run message broker` (reference member_cmd.py:21457,
    tcpip/message_server.py) through the shell: the node hosts the
    broker, a device publishes over real MQTT framing, and the
    registered `run mqtt client` consumer lands typed rows — one node,
    both halves."""
    import json as _json

    from edgelake_spark.engine import EdgeLakeEngine
    from edgelake_spark.streaming import mqtt as mq

    eng = EdgeLakeEngine(spark)
    row = eng.run("run message broker where internal_ip = 127.0.0.1").collect()[0]
    assert row.protocol == "mqtt" and row.port > 0
    try:
        eng.run(
            f"run mqtt client where broker = {row.ip} and port = {row.port} "
            "and topic = (name = tele and dbms = d and table = t and "
            'column.value.int = "bring [v]")'
        )
        cfg = eng.broker_consumers["tele"]
        consumer = BrokerConsumer(
            spark=spark,
            topic=cfg["topic"],
            bootstrap=f"{cfg['ip']}:{cfg['port']}",
            source="mqtt",
            source_dir=str(tmp_path / "spool"),
        )
        stream = consumer.mapped_stream()
        pub = mq.MqttPublisher(row.ip, row.port)
        pub.publish("tele", _json.dumps({"v": 41}), qos=1)
        assert consumer.mqtt_client.wait_for(1)
        pub.close()
        q = (
            stream.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(str(tmp_path / "out"))
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        consumer.mqtt_client.stop()
        assert [r.value for r in spark.read.parquet(str(tmp_path / "out")).collect()] == [41]
    finally:
        for b in eng.message_brokers:
            b.stop()


def test_run_message_broker_kafka_protocol(spark):
    from edgelake_spark.engine import EdgeLakeEngine
    from edgelake_spark.streaming import kafka as kf

    eng = EdgeLakeEngine(spark)
    row = eng.run(
        "run message broker where internal_ip = 127.0.0.1 and protocol = kafka"
    ).collect()[0]
    try:
        pub = kf.KafkaProducerClient(row.ip, row.port)
        assert pub.produce("x", [b"hello"]) == 0
        pub.close()
    finally:
        for b in eng.message_brokers:
            b.stop()
