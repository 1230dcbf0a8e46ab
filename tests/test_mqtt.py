"""MQTT 3.1.1 transport round trip: real wire framing over TCP sockets
between a publisher client, the in-process broker double, and the
`run mqtt client` subscriber, ending in the typed partitioned append —
reference edge_lake/tcpip/mqtt_client.py:2128-2318 / message_server.py."""

import json
import socket
import struct

from edgelake_spark.streaming import mqtt as mq
from edgelake_spark.streaming.broker import BrokerConsumer, parse_topic_spec


# ------------------------------------------------------------- wire codec


def test_remaining_length_varint_round_trip():
    for n in (0, 1, 127, 128, 16383, 16384, 2097151, 268435455):
        enc = mq._encode_len(n)
        # decode by hand (same algorithm read_packet uses)
        val, mult = 0, 1
        for b in enc:
            val += (b & 0x7F) * mult
            mult *= 128
        assert val == n
    assert mq._encode_len(127) == b"\x7f"
    assert mq._encode_len(128) == b"\x80\x01"  # spec §2.2.3 example


def test_publish_packet_parse_round_trip():
    pkt = mq.publish_packet("a/b", b'{"v": 1}', qos=1, pid=77)
    assert pkt[0] == (mq.PUBLISH << 4) | 0x02  # qos1 flags
    body = pkt[2:]  # 1-byte remaining length at this size
    topic, qos, pid, payload = mq.parse_publish(pkt[0] & 0x0F, body)
    assert (topic, qos, pid, payload) == ("a/b", 1, 77, b'{"v": 1}')


def test_topic_filter_matching():
    assert mq.topic_matches("sensor/+/temp", "sensor/s1/temp")
    assert not mq.topic_matches("sensor/+/temp", "sensor/s1/hum")
    assert mq.topic_matches("sensor/#", "sensor/s1/temp/x")
    assert mq.topic_matches("exact", "exact")
    assert not mq.topic_matches("exact", "exact/sub")
    assert not mq.topic_matches("a/+", "a")


def test_connect_packet_shape():
    pkt = mq.connect_packet("cid", keepalive=30)
    assert pkt[0] == mq.CONNECT << 4
    body = pkt[2:]
    assert body[:6] == b"\x00\x04MQTT"
    assert body[6] == 4  # protocol level 3.1.1
    assert body[7] == 0x02  # clean session
    assert struct.unpack(">H", body[8:10]) == (30,)
    assert body[12:] == b"cid"


# ------------------------------------------------- broker/client sessions


def test_broker_round_trip_qos1():
    broker = mq.MqttBroker().start()
    try:
        received = []

        class Probe(mq.MqttSubscriber):
            def _spool(self, payload):
                received.append(payload)
                self.received += 1

        sub = Probe(broker.host, broker.port, "t/+", spool_dir="/tmp").start()
        pub = mq.MqttPublisher(broker.host, broker.port)
        pub.publish("t/a", b"one", qos=1)  # exercises PUBACK both ways
        pub.publish("t/b", b"two", qos=0)
        # qos=1 so the PUBACK round trip guarantees the broker has
        # processed it before the published-count assertion below
        pub.publish("other", b"nope", qos=1)  # filtered by topic
        assert sub.wait_for(2)
        assert received == [b"one", b"two"]
        assert broker.published == 3
        pub.close()
        sub.stop()
    finally:
        broker.stop()


def test_broker_rejects_non_connect_first():
    broker = mq.MqttBroker().start()
    try:
        s = socket.create_connection((broker.host, broker.port))
        s.sendall(mq.pingreq_packet())  # protocol violation
        assert s.recv(1) == b""  # broker closes the session
        s.close()
    finally:
        broker.stop()


def test_broker_unsubscribe_acks_and_stops_delivery():
    broker = mq.MqttBroker().start()
    try:
        s = socket.create_connection((broker.host, broker.port))
        s.settimeout(10)
        s.sendall(mq.connect_packet("unsub"))
        assert mq.read_packet(s)[0] == mq.CONNACK
        s.sendall(mq.subscribe_packet(1, "t/a", qos=0))
        assert mq.read_packet(s)[0] == mq.SUBACK
        s.sendall(mq._packet(mq.UNSUBSCRIBE, 0x02, struct.pack(">H", 7) + mq._utf8("t/a")))
        assert mq.read_packet(s) == (mq.UNSUBACK, 0, b"\x00\x07")
        s.sendall(mq.subscribe_packet(2, "t/b", qos=0))
        assert mq.read_packet(s)[0] == mq.SUBACK
        # one publishing session routes in order: had t/a still been
        # subscribed, its PUBLISH would arrive before t/b's
        pub = mq.MqttPublisher(broker.host, broker.port)
        pub.publish("t/a", b"dropped", qos=1)
        pub.publish("t/b", b"kept", qos=1)
        ptype, flags, body = mq.read_packet(s)
        assert ptype == mq.PUBLISH
        assert mq.parse_publish(flags, body)[0::3] == ("t/b", b"kept")
        pub.close()
        s.close()
    finally:
        broker.stop()


# ------------------------------------------- full `run mqtt client` path


def test_run_mqtt_client_end_to_end(spark, tmp_path):
    """PUBLISH over real framing → subscriber spool → text source →
    bring mapping → typed parquet append: the full reference topology
    of `run mqtt client` with the engine command registering it."""
    from edgelake_spark.engine import EdgeLakeEngine

    broker = mq.MqttBroker().start()
    try:
        eng = EdgeLakeEngine(spark)
        df = eng.run(
            f"run mqtt client where broker = {broker.host} and port = {broker.port} "
            "and topic = (name = sensor and dbms = d and table = readings and "
            'column.ts.timestamp = "bring [timestamp]" and '
            'column.value.int = "bring [value]")'
        )
        assert df.collect()[0].bootstrap == f"{broker.host}:{broker.port}"
        cfg = eng.broker_consumers["sensor"]
        assert cfg["transport"] == "mqtt"

        spool = tmp_path / "spool"
        consumer = BrokerConsumer(
            spark=spark,
            topic=cfg["topic"],
            bootstrap=f"{cfg['ip']}:{cfg['port']}",
            source="mqtt",
            source_dir=str(spool),
        )
        stream = consumer.mapped_stream()  # starts the MQTT subscriber
        pub = mq.MqttPublisher(broker.host, broker.port)
        msgs = [
            {"timestamp": "2024-01-01 00:00:00", "value": 5},
            {"timestamp": "2024-01-01 00:01:00", "value": 9},
        ]
        for m in msgs:
            pub.publish("sensor", json.dumps(m), qos=1)
        assert consumer.mqtt_client.wait_for(2)
        pub.close()

        out = tmp_path / "landed"
        q = (
            stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(
                lambda b, _eid: b.write.mode("append").parquet(str(out))
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        consumer.mqtt_client.stop()

        landed = spark.read.parquet(str(out))
        rows = sorted((r.ts.isoformat(), r.value) for r in landed.collect())
        assert rows == [("2024-01-01T00:00:00", 5), ("2024-01-01T00:01:00", 9)]
        assert dict(landed.dtypes)["value"] == "int"
    finally:
        broker.stop()
