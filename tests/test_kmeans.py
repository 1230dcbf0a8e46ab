"""kmeans_refine: Lloyd rounds over DataFrame ops are deterministic and
reduce within-cluster distance vs the stride initialization; the recall
gate over the IVF index it trains keeps every query."""

from pyspark.sql import functions as F

from edgelake_spark.functions.similarity import kmeans_refine
from tests.conftest import SF_DIR


def _vectors(spark):
    from edgelake_spark.catalog import register_sf_tables

    register_sf_tables(spark, SF_DIR)
    return spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS demb FROM embeddings"
    ).localCheckpoint()


def _cost(spark, vectors, cents):
    d2 = (
        "aggregate(zip_with(demb, centroid, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn("__d2", F.expr(d2))
        .groupBy("vec_id")
        .agg(F.min("__d2").alias("d2"))
        .agg(F.sum("d2"))
        .collect()[0][0]
    )


def test_kmeans_reduces_cost_and_is_deterministic(spark):
    vectors = _vectors(spark)
    init = vectors.filter(F.col("vec_id") % 47 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("demb").alias("centroid")
    )
    refined = kmeans_refine(spark, vectors, iters=2).localCheckpoint()
    cost0 = _cost(spark, vectors, init)
    cost2 = _cost(spark, vectors, refined)
    assert cost2 < cost0  # Lloyd never increases the objective
    # deterministic: second run produces identical centroids
    again = kmeans_refine(spark, vectors, iters=2)
    a = sorted(tuple(r) for r in refined.collect())
    b = sorted(tuple(r) for r in again.collect())
    assert a == b


def test_ivf_recall_keeps_zero_match_queries(spark):
    """At sf0.001 the two probed buckets of query 2 hold none of its
    five true neighbours. The recall gate reports it as a zero-recall
    row on both engines instead of dropping it."""
    import duckdb

    from edgelake_spark.queries import ORACLE_SQL, SPARK_QUERIES

    got = {
        r.query_id: (r.n_matched, r.n_brute, r.recall)
        for r in SPARK_QUERIES["emb_ivf_recall"](spark, SF_DIR).collect()
    }
    assert sorted(got) == [0, 1, 2, 3, 4]
    assert got[2] == (0, 5, 0.0)
    duck = duckdb.connect()
    try:
        duck.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        )
        want = duck.execute(ORACLE_SQL["emb_ivf_recall"]).fetchall()
    finally:
        duck.close()
    assert {r[0]: tuple(r[1:]) for r in want} == got
