import os
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from edgelake_spark import get_spark

    s = get_spark(app_name="edgelake-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


#: the checkout these tests belong to: subprocesses run its code, not
#: another copy's
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


def drop_last_commit(checkpoint: str) -> None:
    """Forget the last committed batch of a streaming checkpoint, as a
    crash between a sink's write and Spark's batch commit does: the
    restarted query replays that epoch."""
    commits = os.path.join(checkpoint, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))


@pytest.fixture(scope="session")
def duck_views(duck):
    from edgelake_spark.catalog import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        duck.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_MED}/{t}.parquet')"
        )
    return duck


def spark_jobs(spark, fn):
    """Run ``fn()`` in a job group of its own; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
