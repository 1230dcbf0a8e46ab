"""Time-partitioned tables: EdgeLake's ``partition <dbms> <table> using
<column> by <N> <unit>`` on Spark.

The reference materializes one physical table per time bucket
(``par_<table>_<date>_...``, edge_lake/dbms/partitions.py:17-23) and
prunes them by comparing the WHERE clause against each bucket's range
(partitions.py:406-553). On Spark the same contract is a partitioned
dataset: the bucket becomes a partition column, `partitionBy` lays one
directory per bucket, and Catalyst partition pruning + parquet
row-group stats replace `is_par_with_data` — a WHERE on the time column
touches only matching directories, at any scale. Every partitioned
table is a txlog.TxTable, so writes publish atomically and a partition
drop is a manifest edit with time travel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARTITION_COL = "_par_bucket"

_TRUNC_UNITS = {"year": "year", "month": "month", "week": "week", "day": "day", "hour": "hour"}


def bucket_column(time_col: str, unit: str, count: int = 1) -> F.Column:
    """Partition-bucket value for a row: the bucket's start, formatted as
    a sortable string (what the reference encodes in the par_ name)."""
    unit = unit.lower().rstrip("s")
    if unit not in _TRUNC_UNITS:
        raise ValueError(f"unsupported partition unit: {unit}")
    trunc = F.date_trunc(_TRUNC_UNITS[unit], F.col(time_col))
    if count > 1:
        if unit == "day":
            # fixed-width multi-day buckets anchored at the epoch
            days = F.datediff(F.to_date(trunc), F.lit("1970-01-01"))
            start = F.date_add(F.lit("1970-01-01"), (days - days % count))
            return F.date_format(start, "yyyy-MM-dd")
        if unit == "month":
            months = (F.year(trunc) - 1970) * 12 + F.month(trunc) - 1
            bucket = months - months % count
            return F.concat_ws(
                "-",
                F.format_string("%04d", (bucket / 12).cast("int") + 1970),
                F.format_string("%02d", (bucket % 12) + 1),
            )
    fmt = {
        "year": "yyyy",
        "month": "yyyy-MM",
        "week": "yyyy-MM-dd",
        "day": "yyyy-MM-dd",
        "hour": "yyyy-MM-dd-HH",
    }[unit]
    return F.date_format(trunc, fmt)


def _bucket_of(rel_file: str) -> str | None:
    """Partition-bucket value embedded in a committed file's relative
    path (``data/<stage>/_par_bucket=<v>/part-...parquet``)."""
    marker = f"{PARTITION_COL}="
    if marker not in rel_file:
        return None
    return rel_file.split(marker, 1)[1].split("/", 1)[0]


def write_partitioned_tx(df: DataFrame, table, time_col: str, unit: str = "day",
                         count: int = 1, mode: str = "append") -> int:
    """``partition ... using <time_col> by <count> <unit>`` + write: one
    bucket directory per partition value, committed through a
    txlog.TxTable — atomic publish, snapshot isolation, and
    metadata-only partition drops with time travel. Reads go through
    ``table.read`` (WHERE on the bucket prunes via partition values AND
    parquet min/max stats; verify with .explain → PartitionFilters)."""
    staged = df.withColumn(PARTITION_COL, bucket_column(time_col, unit, count))
    if mode == "overwrite" or table.latest_version() == 0:
        return table.overwrite(staged, partition_by=PARTITION_COL)
    return table.append(staged, partition_by=PARTITION_COL)


def drop_partitions_before_tx(table, cutoff_bucket: str) -> list[str]:
    """``drop partition where date < ...``: a manifest edit, not a file
    delete (the reference drops whole par_ tables) — the dropped buckets
    still read at every prior version, and expire()+vacuum() reclaims
    them later."""
    def too_old(f: str) -> bool:
        b = _bucket_of(f)
        return b is not None and b < cutoff_bucket

    _v, removed = table.remove_files(too_old, op="drop_partition")
    return sorted({_bucket_of(f) for f in removed})


def tx_partitions(table) -> list[str]:
    """`get partitions` (the reference lists par_ tables,
    db_info.py:747-854): bucket values present in the LATEST committed
    manifest."""
    if not table.latest_version():
        return []
    m = table.manifest(table.latest_version())
    return sorted({b for b in (_bucket_of(f) for f in m["files"]) if b is not None})
