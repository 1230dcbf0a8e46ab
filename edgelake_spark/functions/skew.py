"""Skew handling: salted distinct counts.

At 100 TB a handful of hot keys (one device emitting 100× the events,
one dbms.table holding most rows) turn a shuffle join or a
count(distinct) into a single straggler task. Hot-key joins need no
helper: AQE's skew-join splitting (enabled in session.py) splits the
oversized sort-merge-join partitions at run time. A count(distinct)
has no such rescue, so this module pre-shapes it:

- ``salted_distinct_count``: two-stage exact distinct — stage 1
  dedups (group, salt(value)) partitions, stage 2 merges partial
  distinct counts per group. Same result as count(distinct) with the
  single wide shuffle split in two balanced ones.

Salting uses ``pmod(hash(value), buckets)`` (deterministic, no RNG) so
results are reproducible and retries are safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def salted_distinct_count(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact ``count(distinct value_col)`` per group via two balanced
    shuffles: dedup on (group, salt-of-value) first — each salt bucket
    holds a disjoint slice of the value space, so partial distinct
    counts add up exactly.

    Returns ``group_cols + [n_distinct]``.
    """
    salted = df.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        F.pmod(F.hash(F.col(value_col)), F.lit(buckets)).alias("__salt"),
    )
    partial = (
        salted.dropDuplicates(group_cols + ["__v"])
        .groupBy(*group_cols, "__salt")
        .agg(F.count("*").alias("__n"))
    )
    return (
        partial.groupBy(*group_cols)
        .agg(F.sum("__n").cast("bigint").alias("n_distinct"))
    )
