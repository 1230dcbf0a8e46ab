"""The session's generated-code cache holds the gate mix: a warm pass
over the same runners reuses its Janino-compiled classes instead of
recompiling them (edgelake_spark/session.py, CODEGEN_CACHE_ENTRIES)."""

from edgelake_spark.queries import SPARK_QUERIES
from tests.conftest import SF_DIR

RUNNERS = (
    "tpch_q1", "tpch_q3", "tpch_q5ish", "tpch_q18ish",
    "events_sessionize", "doc_minhash_pairs",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark) -> int:
    before = _compiles(spark)
    for name in RUNNERS:
        SPARK_QUERIES[name](spark, SF_DIR).collect()
    return _compiles(spark) - before


def test_warm_pass_reuses_compiled_classes(spark):
    cold = _pass(spark)
    warm = _pass(spark)
    # Spark's default of 100 entries holds fewer classes than these six
    # runners generate (151 cold): a warm pass then recompiles 120-150
    assert warm <= 5, f"warm pass compiled {warm} classes (cold pass: {cold})"
    # an extra_conf passed to get_spark must not shrink it back
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
