"""Streaming surface on Structured Streaming.

EdgeLake's ingest path buffers rows per (dbms, table) and flushes on
time/volume thresholds (edge_lake/generic/streaming_data.py:27-33),
evaluates per-row conditions on each incoming batch
(streaming_conditions.py), keeps an in-memory ring of tumbling-interval
stats (data_monitor.py), and (in the enterprise build) downsamples
streams into agg_ tables (streaming_data.py:410-478 — stubbed in OSS;
implemented for real here).

Spark mapping: micro-batch thresholds → trigger(processingTime) +
maxFilesPerTrigger-style source options; conditions + monitor + alerts
→ foreachBatch; aggregation-ingest → windowed agg on event time.
"""

from edgelake_spark.streaming.conditions import StreamingCondition, apply_conditions
from edgelake_spark.streaming.monitor import DataMonitor
from edgelake_spark.streaming.ingest import StreamIngest, aggregation_ingest

__all__ = [
    "StreamingCondition",
    "apply_conditions",
    "DataMonitor",
    "StreamIngest",
    "aggregation_ingest",
]
