"""Broker (Kafka/MQTT) consumer: topic subscription + per-column
``bring`` mapping into a typed, partition-appended table.

Reference: ``run kafka consumer where ip = .. and port = .. and reset =
earliest and topic = (name = sensor and dbms = d and table = t and
column.timestamp.timestamp = "bring [timestamp]" and column.value.int =
"bring [value]")`` (edge_lake/cmd/member_cmd.py:9197, 21481) and the
MQTT client's identical topic→column mapping
(edge_lake/tcpip/mqtt_client.py:2128-2318 register / process_message).

Spark mapping: the subscription is ``readStream.format("kafka")`` —
messages arrive as a ``value`` column; the per-column bring specs
compile (via the mapping-policy engine) to JVM-side ``get_json_object``
pulls, so the whole consumer is a map-only stage feeding the
StreamIngest sink's TxTable append. Offsets/checkpointing come from
Structured Streaming's checkpoint (kept under the target table),
replacing the reference's hand-tracked consumer offsets.

The container has no external broker and no kafka connector jar. Tests
drive the identical topology two ways: through the ``text`` file source
double, and — since round 5 — over REAL Kafka wire framing via
``source='kafka-wire'`` (streaming/kafka.py: Metadata/ListOffsets/
Produce/Fetch against an in-process broker double, mirroring the MQTT
socket path). Both yield the same single string ``value`` column a
``format("kafka")`` source does — the mapping, conditions, monitor, and
sink stages are byte-for-byte the production ones.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edgelake_spark.ingest.mapping import apply_mapping_policy
from edgelake_spark.streaming.conditions import StreamingCondition
from edgelake_spark.streaming.ingest import StreamIngest
from edgelake_spark.streaming.monitor import DataMonitor

#: column.<name>.<type> = "bring [path]" (member_cmd.py:9197 example;
#: mqtt_client.py topic registration uses the same triple)
_COLUMN_RE = re.compile(
    r"column\.(\w+)\.(\w+)\s*=\s*\"?bring\s+(\[[^\"]*\]|\S+)\"?", re.IGNORECASE
)
#: the MQTT client's long form: column.<name> = (type = <t> and value =
#: "bring [path]" ...) (mqtt_client.py:2136 get_column_type_value)
_COLUMN_LONG_RE = re.compile(
    r"column\.(\w+)\s*=\s*\(\s*type\s*=\s*(\w+)\s+and\s+value\s*=\s*"
    r"\"bring\s+([^\"]*)\"",
    re.IGNORECASE,
)
_KV_RE = re.compile(r"\b(name|dbms|table)\s*=\s*(\w+)", re.IGNORECASE)


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the ``spark-sql-kafka`` connector is on the session's
    JVM classpath (jar shipped with the distro, --packages, or
    spark.jars). The ``format("kafka")`` branch needs it; the in-repo
    wire consumer (streaming/kafka.py) does not."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


@dataclass
class TopicMapping:
    """One topic's target table + column pulls."""

    name: str
    dbms: str
    table: str
    #: column → (edgelake type, bring path)
    columns: dict[str, tuple[str, str]]

    def to_mapping_policy(self) -> dict:
        """The equivalent mapping policy — the broker consumer reuses
        the mapping-policy compiler so Kafka/MQTT/REST ingest share one
        transform implementation (the reference routes all three through
        mapping_policy.apply_policy_schema)."""
        schema = {
            col: {"type": typ, "bring": path}
            for col, (typ, path) in self.columns.items()
        }
        return {"mapping": {"id": self.name, "dbms": self.dbms, "table": self.table, "schema": schema}}


def parse_topic_spec(spec: str) -> TopicMapping:
    """Parse ``(name = sensor and dbms = d and table = t and
    column.x.int = "bring [x]" ...)``."""
    kv = {m.group(1).lower(): m.group(2) for m in _KV_RE.finditer(spec)}
    columns = {
        m.group(1): (m.group(2), m.group(3)) for m in _COLUMN_RE.finditer(spec)
    }
    for m in _COLUMN_LONG_RE.finditer(spec):
        columns.setdefault(m.group(1), (m.group(2), m.group(3).strip()))
    if "name" not in kv:
        raise ValueError(f"topic spec missing name: {spec}")
    if not columns:
        raise ValueError(f"topic spec has no column mappings: {spec}")
    return TopicMapping(
        name=kv["name"], dbms=kv.get("dbms", ""), table=kv.get("table", kv["name"]),
        columns=columns,
    )


def parse_kafka_consumer_command(text: str) -> dict:
    """``run kafka consumer where ip = .. and port = .. and reset = ..
    and topic = (...)`` → {ip, port, reset, topic: TopicMapping}."""
    m = re.search(r"topic\s*=\s*\((.*)\)\s*$", text, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError("run kafka consumer: missing topic = (...)")
    topic = parse_topic_spec(m.group(1))
    head = text[: m.start()]
    opts = dict(re.findall(r"\b(ip|broker|port|reset)\s*=\s*([\w.\-/]+)", head, re.IGNORECASE))
    return {
        "ip": opts.get("ip", opts.get("broker", "localhost")),
        "port": int(opts.get("port", 9092)),
        "reset": opts.get("reset", "latest"),
        "topic": topic,
    }


@dataclass
class BrokerConsumer:
    """The consumer topology: source → bring-mapping → conditions →
    monitor → TxTable append. ``source='kafka'`` is the production
    path; ``source='mqtt'`` runs a real MQTT 3.1.1 subscriber
    (streaming/mqtt.py) that spools PUBLISH payloads into ``source_dir``
    for the file source; ``source='text'`` + ``source_dir`` is the bare
    in-container double (same ``value`` column contract)."""

    spark: SparkSession
    topic: TopicMapping
    bootstrap: str = "localhost:9092"
    reset: str = "latest"
    source: str = "kafka"
    source_dir: str | None = None
    max_per_trigger: int = 1000  # volume threshold, in source units
    conditions: list[StreamingCondition] = field(default_factory=list)
    monitor: DataMonitor | None = None
    mqtt_client = None  #: live MqttSubscriber when source='mqtt'
    kafka_client = None  #: live KafkaWireConsumer when source='kafka-wire'

    def _raw_stream(self) -> DataFrame:
        if self.source == "kafka":
            return (
                self.spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", self.bootstrap)
                .option("subscribe", self.topic.name)
                .option("startingOffsets", self.reset)
                .option("maxOffsetsPerTrigger", self.max_per_trigger)
                .load()
                .selectExpr("CAST(value AS STRING) AS value")
            )
        if self.source == "mqtt":
            # real socket transport: subscribe over MQTT framing, spool
            # payloads to source_dir, stream them as the value column
            if self.mqtt_client is None:
                from edgelake_spark.streaming.mqtt import MqttSubscriber

                host, _, port = self.bootstrap.partition(":")
                self.mqtt_client = MqttSubscriber(
                    host, int(port or 1883), self.topic.name, self.source_dir
                ).start()
        if self.source == "kafka-wire":
            # real socket transport without the connector jar: the
            # wire-protocol consumer (streaming/kafka.py) fetches over
            # genuine Kafka framing and spools values to source_dir
            if self.kafka_client is None:
                from edgelake_spark.streaming.kafka import KafkaWireConsumer

                host, _, port = self.bootstrap.partition(":")
                self.kafka_client = KafkaWireConsumer(
                    host, int(port or 9092), self.topic.name, self.source_dir,
                    reset=self.reset,
                ).start()
        if self.source in ("mqtt", "kafka-wire", "text"):
            return (
                self.spark.readStream.format("text")
                .option("maxFilesPerTrigger", self.max_per_trigger)
                .load(self.source_dir)
            )
        raise ValueError(f"unknown broker source: {self.source}")

    def mapped_stream(self) -> DataFrame:
        """The typed column stream — message payload through the topic's
        bring mapping (shared with mapping-policy ingest)."""
        return apply_mapping_policy(
            self.spark, self._raw_stream(), self.topic.to_mapping_policy()
        )

    def start(self, target_dir: str, trigger_sec: int = 0):
        """Run the consumer: lands typed rows in the TxTable at
        ``target_dir`` through the StreamIngest sink (exactly-once; a
        Delta/iceberg sink at cluster scale is the same call)."""
        sink = StreamIngest(
            spark=self.spark,
            target_dir=target_dir,
            max_time_sec=trigger_sec,
            conditions=self.conditions,
            monitor=self.monitor,
        )
        return sink.land(self.mapped_stream(), f"broker_{self.topic.name}")


# ------------------------------------------------------------------ sink


def kafka_wire_format(df: DataFrame) -> DataFrame:
    """Rows → the Kafka message contract: one JSON object per message in
    a single ``value`` column (how the reference publishes query results
    to ``dest = kafka@ip:port``, member_cmd.py:142-148)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def write_query_to_broker(df: DataFrame, dest: str, topic: str = "edgelake_query") -> str:
    """``dest = kafka@<servers>`` query output sink.

    Production path is ``format("kafka")`` (distributed publish, one
    producer per partition). ``kafka@file:<dir>`` is the in-container
    double: the identical wire-format DataFrame lands as text files, so
    everything up to the producer handoff is exercised for real.
    Returns a short status string.
    """
    target = dest.split("@", 1)[1]
    wire = kafka_wire_format(df)
    if target.startswith("file:"):
        wire.write.mode("overwrite").text(target[5:])
        return f"published to {target}"
    (
        wire.write.format("kafka")
        .option("kafka.bootstrap.servers", target)
        .option("topic", topic)
        .save()
    )
    return f"published to kafka@{target}"
