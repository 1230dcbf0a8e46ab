"""Streaming ingest: micro-batched appends with time/volume thresholds,
conditions, monitor wiring, and aggregation-ingest downsampling.

Reference flow (edge_lake/generic/streaming_data.py): rows arrive via
REST PUT / MQTT / Kafka, buffer per (dbms, table), flush every
``max_time`` seconds (default 60) or ``max_volume`` bytes (default
10 KB), then land in the operator's table. ``write_immediate`` bypasses
buffering. Aggregation-ingest (:410-478, stubbed in the OSS build)
downsamples the stream into ``agg_<dbms>.agg_<table>``.

Spark mapping: a file/kafka streaming source micro-batched by
``trigger(processingTime=...)`` IS the time threshold; source options
(maxFilesPerTrigger / maxOffsetsPerTrigger) are the volume threshold.
Each batch passes through streaming conditions and the data monitor in
``foreachBatch``, then commits to the table's TxTable with its epoch
token. At cluster scale the same topology runs with a Kafka source and
a Delta sink — nothing in this module assumes local mode.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edgelake_spark.streaming.conditions import StreamingCondition, apply_conditions
from edgelake_spark.streaming.monitor import DataMonitor
from edgelake_spark.checkpoint import materialize as _materialize
from edgelake_spark.txlog import TxTable

DEFAULT_MAX_TIME_SEC = 60  # reference streaming_data.py:28
DEFAULT_MAX_VOLUME_BYTES = 10_000  # reference streaming_data.py:29


@dataclass
class StreamIngest:
    """One table's ingest sink: stream → conditions → monitor → TxTable
    append.

    ``target_dir`` is always a TxTable root, and ``_handle_batch`` is
    the only place a streamed row lands. Delivery is EXACTLY-ONCE:
    foreachBatch replays the last uncommitted epoch after a failure, so
    each batch's append publishes atomically WITH an (ingest_query,
    epoch) idempotence token in the commit manifest, and a replayed
    epoch is recognized and skipped — data and token commit in the same
    hard-link CAS, leaving no window where one lands without the other.
    The streaming checkpoint lives at
    ``<target_dir>/_checkpoints/<query_name>``, so a restart always
    resumes the same epoch numbering. Staged files of an attempt that
    crashed before publish are unreferenced orphans; vacuum() reclaims
    them. This is the Spark-first upgrade of the reference's flush path
    (edge_lake/generic/streaming_data.py:124-194), whose file-append
    buffers re-land rows after a crash mid-flush.

    ``start`` streams ``source_dir`` (a file source of ``schema`` rows);
    ``land`` puts any streaming DataFrame through the same sink."""

    spark: SparkSession
    target_dir: str
    source_dir: str | None = None
    schema: T.StructType | None = None
    fmt: str = "json"
    max_time_sec: int = DEFAULT_MAX_TIME_SEC
    max_files_per_trigger: int = 16  # the volume threshold, in source units
    conditions: list[StreamingCondition] = field(default_factory=list)
    monitor: DataMonitor | None = None
    write_immediate: bool = False  # reference: bypass buffering

    #: rows written by flushes so far (reference counter_rows_flushed_,
    #: streaming_data.py:713 show_info)
    rows_flushed: int = 0
    #: epochs skipped as already-committed replays (observable evidence
    #: that idempotence actually engaged)
    epochs_skipped: int = 0

    _query_name: str = "edgelake_ingest"
    _committed_epoch: int | None = None  # lazy cache of the ledger scan

    def _last_committed_epoch(self, table: TxTable) -> int:
        """Highest epoch this query ever published, from the commit
        manifests — scanned ONCE per (re)started query instance, then
        maintained in memory; the scan is O(versions) of local JSON."""
        if self._committed_epoch is None:
            top = -1
            for m in table.history():
                meta = m.get("meta") or {}
                if meta.get("ingest_query") == self._query_name:
                    top = max(top, int(meta.get("epoch", -1)))
            self._committed_epoch = top
        return self._committed_epoch

    def _handle_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Replay check FIRST: a replayed epoch must not update monitor
        # counters or pay a materialization — its rows were already
        # processed by the committed run, so any side effect here would
        # drift monitor stats from rows_flushed.
        table = TxTable(self.target_dir)
        if epoch_id <= self._last_committed_epoch(table):
            self.epochs_skipped += 1  # replayed epoch: already durable
            return
        kept = apply_conditions(batch_df, self.conditions)
        if self.monitor is not None:
            self.monitor.process_batch(kept)
        out = kept.withColumn("insert_timestamp", F.current_timestamp())
        out = out.transform(_materialize)  # count + write from one materialization
        n = out.count()
        table.append(out, meta={"ingest_query": self._query_name, "epoch": epoch_id})
        self._committed_epoch = epoch_id
        self.rows_flushed += n

    def land(self, stream: DataFrame, query_name: str):
        """Start ``stream`` into the table through the sink; returns the
        StreamingQuery."""
        self._query_name = query_name
        self._committed_epoch = None  # new query instance: re-scan ledger
        writer = (
            stream.writeStream.queryName(query_name)
            .option(
                "checkpointLocation",
                os.path.join(self.target_dir, "_checkpoints", query_name),
            )
            .foreachBatch(self._handle_batch)
        )
        trigger_sec = 0 if self.write_immediate else self.max_time_sec
        if trigger_sec:
            writer = writer.trigger(processingTime=f"{trigger_sec} seconds")
        return writer.start()

    def start(self, query_name: str = "edgelake_ingest"):
        reader = (
            self.spark.readStream.format(self.fmt)
            .schema(self.schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .load(self.source_dir)
        )
        return self.land(reader, query_name)


def stream_parquet_source(spark: SparkSession, path: str) -> DataFrame:
    """File-stream source over a parquet dataset, applying the same
    timestamp[ns]→microsecond conversion ``catalog.load_parquet`` applies
    to batch reads (the testdata ships ns timestamps, which Spark reads
    as int64 under nanosAsLong). Lets replay/backfill pipelines stream
    the exact bytes the batch engine queries."""
    import pyarrow.parquet as pq

    from edgelake_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    schema = spark.read.parquet(path).schema
    stream_path = path
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        # the file-stream source requires a directory: stream the
        # file's own directory, filtered to the file's name
        stream_path = os.path.dirname(os.path.abspath(path))
        reader = reader.option("pathGlobFilter", os.path.basename(path))
    df = reader.parquet(stream_path)
    try:
        arrow_schema = pq.read_schema(path)
    except Exception:
        # directory datasets (engine-written) carry real us timestamps
        return df
    for f_ in arrow_schema:
        if str(f_.type).startswith("timestamp[ns") and f_.name in df.columns:
            df = df.withColumn(f_.name, F.timestamp_micros(F.expr(f"`{f_.name}` div 1000")))
    return df


def aggregation_ingest(
    stream_df: DataFrame,
    time_col: str,
    value_col: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Downsample a stream into per-window {min,max,sum,count,avg} — the
    agg_<table> pipeline the OSS reference stubs out
    (streaming_data.py:410-478, version.py:92-104). Event-time windows
    with a watermark bound state; attach .writeStream to land it."""
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"))
        .agg(
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.sum(value_col).alias("sum_value"),
            F.count(value_col).alias("count_value"),
            F.avg(value_col).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("interval_start"),
            F.col("w.end").alias("interval_end"),
            "min_value",
            "max_value",
            "sum_value",
            "count_value",
            "avg_value",
        )
    )
