"""Connected components for dedup clustering: BOTH branches of the
hybrid algorithm (driver union-find / distributed min-label + pointer
jumping) verified on adversarial graphs against a DuckDB recursive-CTE
oracle and each other. A 300-node path forces real pointer jumping:
plain min-label propagation would need 300 rounds, the 20-round cap
passes only because label := label[label] halves the diameter each
round."""

from __future__ import annotations

import random

import duckdb
import pytest

from edgelake_spark.functions.dedup import connected_components


def _synthetic_edges():
    """Path 0..300, star 1000 + 20 leaves, pairs, isolated 2-cycles —
    shuffled so input order carries no information."""
    edges = [(i, i + 1) for i in range(300)]  # diameter-300 path
    edges += [(1000, 1000 + i) for i in range(1, 21)]  # star
    edges += [(2000 + 2 * i, 2001 + 2 * i) for i in range(10)]  # pairs
    edges += [(305, 300)]  # extra edge re-entering the path
    rng = random.Random(7)
    rng.shuffle(edges)
    # randomize orientation too
    return [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]


def _duck_cc_oracle(edges):
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs(id1 BIGINT, id2 BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", edges)
    rows = con.execute(
        """
        WITH RECURSIVE edges AS (
          SELECT id1 AS a, id2 AS b FROM pairs
          UNION
          SELECT id2, id1 FROM pairs
        ),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS component_id
        FROM reach GROUP BY a ORDER BY doc_id
        """
    ).fetchall()
    con.close()
    return rows


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(_synthetic_edges(), "id1 long, id2 long")


def test_driver_branch_matches_oracle(spark, edge_df):
    got = [(r.doc_id, r.component_id) for r in connected_components(edge_df).collect()]
    assert got == _duck_cc_oracle(_synthetic_edges())


def test_distributed_branch_matches_oracle_and_driver(spark, edge_df):
    # driver_threshold=0 forces the min-label + pointer-jumping loop
    dist = [
        (r.doc_id, r.component_id)
        for r in connected_components(edge_df, driver_threshold=0).collect()
    ]
    assert dist == _duck_cc_oracle(_synthetic_edges())
    drv = [(r.doc_id, r.component_id) for r in connected_components(edge_df).collect()]
    assert dist == drv
    # sanity on the component structure itself
    comp = dict(dist)
    assert all(comp[i] == 0 for i in range(301)) and comp[305] == 0  # path + re-entry
    assert all(comp[1000 + i] == 1000 for i in range(21))  # star
    assert all(comp[2000 + 2 * i + k] == 2000 + 2 * i for i in range(10) for k in (0, 1))


def test_distributed_branch_raises_without_fixpoint(spark, edge_df):
    # one round cannot collapse a diameter-300 path: convergence is
    # checked, not assumed (no silent 12-round-cap answers)
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edge_df, driver_threshold=0, max_rounds=1)


@pytest.mark.parametrize("threshold", [None, 0])
def test_pair_plan_runs_once_and_stats_hold(spark, threshold):
    """connected_components owns the one barrier over its input: the
    pair plan runs once in either branch (a Python UDF counts the rows
    it sees), and ``stats`` reports the edges, branch and rounds."""
    from pyspark.sql import functions as F

    edges = [(i, i + 1) for i in range(12)] + [(100, 100 + i) for i in range(1, 6)]
    seen = spark.sparkContext.accumulator(0)

    def tap(x):
        seen.add(1)
        return x

    pairs = spark.createDataFrame(edges, "id1 long, id2 long").select(
        F.udf(tap, "long").asNondeterministic()("id1").alias("id1"), "id2"
    )
    kwargs = {} if threshold is None else {"driver_threshold": threshold}
    stats: dict = {}
    got = [tuple(r) for r in connected_components(pairs, stats=stats, **kwargs).collect()]
    assert got == _duck_cc_oracle(edges)
    assert seen.value == len(edges)
    assert stats["n_edges"] == len(edges)
    if threshold is None:
        assert stats["branch"] == "driver" and stats["rounds"] == 0
    else:
        assert stats["branch"] == "distributed" and stats["rounds"] >= 1


def test_branch_choice_is_one_job_on_four_partitions(spark, edge_df):
    """The driver/distributed choice over a 4-partition input costs the
    barrier plus ONE bounded collect, not a limit collect's rounds."""
    from tests.conftest import spark_jobs

    pairs = edge_df.repartition(4).localCheckpoint()
    assert pairs.rdd.getNumPartitions() == 4
    stats: dict = {}
    _, jobs = spark_jobs(spark, lambda: connected_components(pairs, stats=stats))
    assert stats["branch"] == "driver" and jobs == 2


def test_branch_choice_sends_at_most_threshold_plus_one_rows(spark, monkeypatch):
    """Over P partitions holding more than ``driver_threshold`` edges
    each, the branch choice brings at most ``driver_threshold + 1``
    rows to the driver, not P·(threshold + 1)."""
    from pyspark.sql import functions as F

    pairs = (
        spark.range(0, 80, 1, 4)  # a star: 20 edges in each partition
        .select(F.lit(0).cast("long").alias("id1"), (F.col("id") + 1).alias("id2"))
        .localCheckpoint()
    )
    assert pairs.rdd.getNumPartitions() == 4
    sizes = []
    real_collect = type(pairs).collect

    def counted(df):
        rows = real_collect(df)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(type(pairs), "collect", counted)
    stats: dict = {}
    out = connected_components(pairs, driver_threshold=10, stats=stats)
    monkeypatch.undo()
    assert stats["branch"] == "distributed" and stats["n_edges"] == 80
    assert sizes and max(sizes) <= 11
    assert {r.component_id for r in out.collect()} == {0}


def test_distributed_branch_on_real_lsh_pairs(spark):
    """The sf0.001 LSH candidate pairs through the distributed branch
    must agree with the driver branch (the gate path)."""
    from edgelake_spark.queries import _run_minhash_pairs
    from tests.conftest import SF_DIR

    pairs = _run_minhash_pairs(spark, SF_DIR).select("id1", "id2").localCheckpoint()
    drv = [(r.doc_id, r.component_id) for r in connected_components(pairs).collect()]
    dist = [
        (r.doc_id, r.component_id)
        for r in connected_components(pairs, driver_threshold=0).collect()
    ]
    assert drv == dist and len(drv) > 0


def test_doc_artifact_sweep_replaces_stale_states(spark, tmp_path):
    """A version (or dataset-state) change rebuilds the artifact and
    sweeps the stale sibling of the same source; other kinds and other
    sources are untouched."""
    import os
    import shutil

    from edgelake_spark import artifacts

    src = tmp_path / "ds"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                src / "documents.parquet")
    doc = str(src / "documents.parquet")

    build = lambda: spark.range(3).selectExpr("id AS doc_id")
    p1 = artifacts.path(spark, doc, "t_art", "v1")
    artifacts.parquet(spark, doc, "t_art", "v1", build)
    assert os.path.exists(os.path.join(p1, artifacts.MARKER))

    # semantics change -> new state tag; old state swept on build
    p2 = artifacts.path(spark, doc, "t_art", "v2")
    assert p2 != p1
    artifacts.parquet(spark, doc, "t_art", "v2", build)
    assert os.path.exists(os.path.join(p2, artifacts.MARKER))
    assert not os.path.exists(p1)

    # a different KIND of the same source survives the sweep
    p3 = artifacts.path(spark, doc, "t_other", "v1")
    artifacts.parquet(spark, doc, "t_other", "v1", build)
    assert os.path.exists(os.path.join(p3, artifacts.MARKER))
    artifacts.parquet(spark, doc, "t_art", "v3", build)
    assert os.path.exists(os.path.join(p3, artifacts.MARKER))  # untouched
    assert not os.path.exists(p2)
    for p in (artifacts.path(spark, doc, "t_art", "v3"), p3):
        shutil.rmtree(p, ignore_errors=True)  # keep the warehouse clean


def test_distributed_cc_leaves_no_round_directories(spark):
    """Each distributed run removes its cc-rounds-<uuid> directory, on
    success and on the no-fixpoint error, and its result stays readable
    after the removal."""
    import glob
    import os
    from urllib.parse import urlparse

    from edgelake_spark.checkpoint import ensure_checkpoint_dir

    root = urlparse(ensure_checkpoint_dir(spark)).path

    def n_round_dirs():
        return len(glob.glob(os.path.join(root, "**", "cc-rounds-*"), recursive=True))

    edges = [(i, i + 1) for i in range(12)] + [(100, 100 + i) for i in range(1, 6)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    drv = [tuple(r) for r in connected_components(pairs).collect()]
    before = n_round_dirs()
    for _ in range(3):
        dist = connected_components(pairs, driver_threshold=0)
        assert n_round_dirs() == before
        assert [tuple(r) for r in dist.collect()] == drv
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(pairs, driver_threshold=0, max_rounds=1)
    assert n_round_dirs() == before


def test_split_by_cluster_decoder_follows_engine():
    """The hex decoder of the cluster-hash expression is chosen by the
    engine argument, not by the text of the expression: a DuckDB
    expression that calls concat( still gets the DuckDB decoder."""
    from edgelake_spark import queries
    from edgelake_spark.functions import dedup as dd

    expr = "md5(concat('split:', CAST(cid AS VARCHAR)))"
    sql = queries._split_by_cluster_sql("duckdb", "SELECT 1", "SELECT 1", expr)
    assert dd.duck_hex60(expr) in sql and dd.spark_hex60(expr) not in sql
    sql = queries._split_by_cluster_sql("spark", "SELECT 1", "SELECT 1", expr)
    assert dd.spark_hex60(expr) in sql
