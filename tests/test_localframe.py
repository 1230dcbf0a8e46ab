"""JVM-local frames: driver-side rows become a LocalRelation, never a
pickled Python RDD, and ingest views stay made of them."""

import ast
import json
import pathlib
import urllib.request
from datetime import datetime

import pytest

from edgelake_spark.engine import EdgeLakeEngine
from edgelake_spark.localframe import local_frame
from tests.conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / "edgelake_spark"


def _leaf_classes(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


@pytest.fixture
def rest(spark):
    from edgelake_spark.api import EdgeLakeRestServer

    engine = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    server = EdgeLakeRestServer(engine).start()
    yield engine, f"http://127.0.0.1:{server.port}/"
    server.stop()


def _put(base: str, table: str, rows: list[dict]) -> dict:
    req = urllib.request.Request(
        base, data=json.dumps(rows).encode(), method="PUT",
        headers={"dbms": "lf", "table": table},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_local_frame_types_and_shapes(spark):
    df = local_frame(
        spark,
        [(1, "a", [1.0, 2.0], b"xy"), {"i": 2, "arr": []}],
        "i bigint, s string, arr array<double>, bin binary",
    )
    assert _leaf_classes(df) == ["LocalRelation"]
    assert [tuple(r) for r in df.collect()] == [(1, "a", [1.0, 2.0], b"xy"), (2, None, [], None)]
    empty = local_frame(spark, [], "a int, b string")
    assert empty.collect() == [] and empty.columns == ["a", "b"]
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [(1,)], "a int, b string")
    from pyspark.sql import types as T

    strict = T.StructType([T.StructField("k", T.StringType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None,)], strict)


def test_put_rows_stay_local_relations_with_serial_row_ids(rest):
    """Three PUTs leave only LocalRelation leaves under the ingest view,
    and row_id runs 1..n+m+k over the PUTs with no repeats."""
    engine, base = rest
    sizes = [3, 4, 2]
    start = 0
    for n in sizes:
        rows = [{"v": start + i, "name": f"r{start + i}"} for i in range(n)]
        assert _put(base, "lf_sensor", rows) == {"ingested": n, "table": "lf.lf_sensor"}
        start += n
    view = engine.spark.table("__ingest_lf_sensor")
    assert _leaf_classes(view) == ["LocalRelation"] * len(sizes)
    got = engine.run('sql lf "select row_id, v from lf_sensor order by row_id"').collect()
    assert [r.row_id for r in got] == list(range(1, sum(sizes) + 1))
    assert [r.v for r in got] == list(range(sum(sizes)))
    assert engine.run("query destination").collect()[0].destination == "memory"
    assert engine.ingested_rows["__ingest_lf_sensor"] == sum(sizes)


def test_stream_command_and_drop_share_the_row_count(spark):
    engine = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    engine.run('stream [{"a": 1}, {"a": 2}] where dbms = lf and table = lf_stream')
    engine.run('stream {"a": 3} where dbms = lf and table = lf_stream')
    ids = engine.query("select row_id from lf_stream order by row_id").collect()
    assert [r.row_id for r in ids] == [1, 2, 3]
    # another engine on the session continues the view's count
    other = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    other.run('stream {"a": 4} where dbms = lf and table = lf_stream')
    ids = other.query("select row_id from lf_stream order by row_id").collect()
    assert [r.row_id for r in ids] == [1, 2, 3, 4]
    # a dropped table starts counting again
    engine.run("drop table lf_stream where dbms = lf")
    engine.run('stream {"a": 5} where dbms = lf and table = lf_stream')
    assert engine.query("select row_id from lf_stream").collect()[0].row_id == 1


def test_concurrent_ingest_loses_no_batch_and_repeats_no_id(spark):
    """Appends from more threads than cores (REST PUTs arrive on server
    threads) all land, with row ids 1..N and no repeats."""
    import sys
    import threading

    from edgelake_spark.ingest.infer import rows_to_dataframe

    engine = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    threads, batches, size = 8, 3, 5

    def worker(t):
        for b in range(batches):
            rows = [{"t": t, "b": b, "i": i} for i in range(size)]
            engine.ingest(
                "lf_busy", size,
                lambda first, rows=rows: rows_to_dataframe(spark, rows, first_row_id=first),
            )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        pool = [threading.Thread(target=worker, args=(t,)) for t in range(threads)]
        for th in pool:
            th.start()
        for th in pool:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in pool)
    n = threads * batches * size
    got = engine.query("select row_id, t, b, i from lf_busy").collect()
    assert sorted(r.row_id for r in got) == list(range(1, n + 1))
    assert len({(r.t, r.b, r.i) for r in got}) == n


def _create_dataframe_calls() -> set[tuple[str, str]]:
    """(file, enclosing function) of every ``createDataFrame(...)`` call
    under the package."""
    found = set()

    def visit(node, scope, rel):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.add((rel, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope, rel)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), "", path.relative_to(PKG).as_posix())
    return found


def test_no_list_based_create_dataframe_outside_the_helper():
    calls = _create_dataframe_calls()
    assert ("localframe.py", "local_frame") in calls
    stray = calls - {("localframe.py", "local_frame")}
    assert not stray, f"build driver-side rows with localframe.local_frame: {sorted(stray)}"


def test_collect_head_one_job_on_four_partitions(spark):
    """collect_head reads a bounded head in ONE Spark job at any
    partition count; ``limit(n).collect()`` scans partitions in rounds."""
    from edgelake_spark.localframe import collect_head
    from tests.conftest import spark_jobs

    df = spark.range(0, 1000, 1, 4).filter("id % 100 = 7")  # 10 rows, all 4 partitions
    rows, jobs = spark_jobs(spark, lambda: collect_head(df, 11))
    assert jobs == 1 and [r.id for r in rows] == list(range(7, 1000, 100))
    rows, jobs = spark_jobs(spark, lambda: collect_head(df, 3))
    assert jobs == 1 and [r.id for r in rows] == [7, 107, 207]
    _, jobs = spark_jobs(spark, lambda: df.limit(11).collect())
    assert jobs > 1
