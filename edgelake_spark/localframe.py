"""Driver-side rows ↔ DataFrames, without Python RDDs or extra jobs.

``spark.createDataFrame(<python list>)`` parallelizes pickled rows: the
result is a ``LogicalRDD`` and every later scan of it starts Python
workers to unpickle the rows again (one task per partition, on every
query). ``local_frame`` builds one ``pyarrow.Table`` on the driver
instead and hands it to the JVM in Arrow form. Spark keeps it as a
``LocalRelation`` (a ``LocalTableScan`` in the physical plan), or as a
JVM-side Arrow RDD above ``spark.sql.execution.arrow.localRelationThreshold``;
no rescan ever crosses back into Python.

Every path in the package that turns Python rows into a DataFrame goes
through this one helper (``tests/test_localframe.py`` checks the source
for stray list-based ``createDataFrame`` calls).

Value rules follow the Arrow type of each field
(``pyspark.sql.pandas.types.to_arrow_schema``):
- dict rows are read by field name (a missing key is null); tuples,
  lists and ``Row`` objects by position, and must have one value per
  field;
- a naive ``datetime`` in a ``timestamp`` field is a UTC wall-clock
  value, which is how EdgeLake stores and compares time (the session
  time zone is UTC, see ``session.py``);
- a null in a field declared NOT NULL is an error, as on Spark's own
  list path.

The way back, a bounded head of a DataFrame, is ``collect_head``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``rows`` (an iterable of dicts, tuples or Rows) typed by
    ``schema`` (a StructType or a DDL string) → a JVM-local DataFrame."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    names = struct.names
    rows = [tuple(r.get(n) for n in names) if isinstance(r, dict) else r for r in rows]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(f"row {r!r} has {len(r)} values for {len(names)} fields {names}")
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(names)
    arrays = [pa.array(col, type=f.type) for col, f in zip(columns, arrow)]
    for arr, f in zip(arrays, struct.fields):
        if not f.nullable and arr.null_count:
            raise ValueError(f"field {f.name} is not nullable, but got None")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema=struct)


#: the low 33 bits of ``monotonically_increasing_id`` count rows within a partition
_ROW_IN_PARTITION = (1 << 33) - 1


def collect_head(df: DataFrame, n: int) -> list:
    """The first ``n`` rows of ``df`` (partition order) in ONE Spark job
    at any partition count. ``df.limit(n).collect()`` scans partitions in
    rounds (1, then 4× the partitions scanned so far), one job per round,
    so a short result over P partitions costs 1 + ⌈log4 P⌉ jobs. Here
    every partition keeps at most its first ``n`` rows and one collect
    reads them all; like a single round over all partitions, up to
    P·n rows reach the driver, which keeps the first ``n``. Meant for a
    small ``n`` over a scan that must stay parallel; a large head of a
    materialized frame is ``coalesce(1).limit(n)`` instead (one task,
    at most ``n`` rows to the driver)."""
    from pyspark.sql import functions as F

    within = F.monotonically_increasing_id().bitwiseAND(_ROW_IN_PARTITION)
    return df.filter(within < n).collect()[:n]
