"""Salted distinct-count equals count(distinct)."""

from pyspark.sql import functions as F

from edgelake_spark.functions.skew import salted_distinct_count
from tests.conftest import SF_DIR


def test_salted_distinct_count_matches_count_distinct(spark):
    from edgelake_spark.catalog import register_sf_tables

    register_sf_tables(spark, SF_DIR)
    df = spark.table("events")
    expected = {
        (r.event_type, r.n)
        for r in df.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n"))
        .collect()
    }
    got = {
        (r.event_type, r.n_distinct)
        for r in salted_distinct_count(df, ["event_type"], "user_id", buckets=8).collect()
    }
    assert got == expected
