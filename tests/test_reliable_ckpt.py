"""Reliable-checkpoint mode: the checkpoint-heavy gate families must
produce byte-identical results when every materialization barrier runs
through ``df.checkpoint()`` (reliable, cluster-survivable storage)
instead of ``localCheckpoint()``.

The mode is a runtime session conf (``spark.edgelake.checkpoint.reliable``),
so the shared test session can flip it per-test; ``materialize`` reads
the conf at call time. Checkpoint files land in a tmpdir set once via
``spark.edgelake.checkpoint.dir``.
"""

from __future__ import annotations

import os

import pytest

from edgelake_spark import checkpoint as ck
from edgelake_spark.queries import SPARK_QUERIES
from tests.conftest import REPO_ROOT, SF_DIR

# one representative per checkpoint-discipline family (VERDICT r8 #1):
# explode-discipline _ckpt_view (winnow pairs), iterative distributed
# artifact reuse (dedup clusters via LSH pair graph), staged fixed-point
# (PCA: a Gram aggregate and a driver-side power iteration, no barrier
# of its own any more; kept to pin its results in either mode)
FAMILIES = [
    "doc_winnow_pairs",
    "doc_dedup_clusters",
    "emb_pca_power",
    # k−1 materialize rounds over the growing selected-set state: the
    # most barrier-dense gate in the inventory
    "emb_mmr_diversify",
]


@pytest.fixture()
def reliable_mode(spark, tmp_path):
    # set the SparkContext dir directly: ensure_checkpoint_dir latches
    # once per session, so relying on the conf would pin every test to
    # whichever reliable-mode test ran first
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.edgelake.checkpoint.reliable", "true")
    yield spark
    spark.conf.set("spark.edgelake.checkpoint.reliable", "false")


def _rows(df):
    return sorted(tuple(repr(v) for v in row) for row in df.collect())


def test_materialize_switches_substrate(reliable_mode, tmp_path):
    spark = reliable_mode
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = ck.materialize(df)
    assert out.count() == 100
    # reliable checkpoints write partition files under the configured dir
    ckpt_dir = tmp_path / "ckpt"
    assert any(ckpt_dir.rglob("rdd-*")), "no reliable checkpoint files written"


def test_env_falsy_spellings_disable(spark, monkeypatch):
    for off in ("", "0", "false", "FALSE", "no", "off"):
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", off)
        assert not ck.reliable_enabled(spark), f"{off!r} should disable"
    for on in ("1", "true", "yes"):
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", on)
        assert ck.reliable_enabled(spark), f"{on!r} should enable"


def test_local_mode_writes_no_files(spark, monkeypatch):
    # pin local mode explicitly so this test holds even when the whole
    # suite runs under SPARK_GRAFT_RELIABLE_CKPT=1 (the reliable-mode
    # sweep documented in SCALE.md)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "0")
    assert not ck.reliable_enabled(spark)
    out = ck.materialize(spark.range(10))
    assert out.count() == 10


def test_distributed_cc_in_reliable_mode(reliable_mode):
    """The iterative min-label + pointer-jumping loop (the heaviest
    checkpoint consumer: one barrier per round) forced via
    driver_threshold=0, end-to-end on reliable storage."""
    from edgelake_spark.functions.dedup import connected_components

    spark = reliable_mode
    # path 0-...-300 plus a star and isolated pairs — same shape as
    # test_dedup_cc's synthetic graph, small enough for one round-trip
    edges = (
        [(i, i + 1) for i in range(50)]
        + [(1000, 1000 + i) for i in range(1, 11)]
        + [(2000 + 2 * i, 2001 + 2 * i) for i in range(5)]
    )
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    stats: dict = {}
    got = {
        r.doc_id: r.component_id
        for r in connected_components(df, driver_threshold=0, stats=stats).collect()
    }
    assert stats["branch"] == "distributed" and stats["rounds"] >= 1
    assert all(got[i] == 0 for i in range(51))
    assert all(got[1000 + i] == 1000 for i in range(11))
    assert all(got[2000 + 2 * i + k] == 2000 + 2 * i for i in range(5) for k in (0, 1))


@pytest.mark.parametrize("name", FAMILIES)
def test_family_parity_in_reliable_mode(name, reliable_mode):
    spark = reliable_mode
    q = SPARK_QUERIES[name]
    reliable_rows = _rows(q(spark, SF_DIR))
    spark.conf.set("spark.edgelake.checkpoint.reliable", "false")
    local_rows = _rows(q(spark, SF_DIR))
    assert reliable_rows == local_rows, f"{name}: reliable vs local mismatch"


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_RUN_DRILL", "") in ("", "0"),
    reason="executor-loss drill spawns its own local-cluster[2,4,4096] "
    "(~2 min); run with SPARK_GRAFT_RUN_DRILL=1. Last recorded result: "
    "SCALE.md round-10 (both ops completed after a mid-job SIGKILL of "
    "one executor, hashes identical to unbroken runs).",
)
def test_executor_loss_drill():
    """End-to-end executor-loss drill: on a real two-executor cluster
    in reliable-checkpoint mode, SIGKILL one executor JVM mid-job and
    require (a) completion, (b) result hash identical to an unbroken
    run, (c) the kill verifiably landed before the job finished. The
    drill is its own process because a second SparkContext cannot
    coexist with the session fixture's."""
    import json
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "tools/drill_executor_loss.py"],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=570,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["ok"] is True
    for d in report["drills"]:
        loss = d["with_loss"]
        assert loss["status"] == "completed"
        assert loss["hash_matches_unbroken"] is True
        assert loss["killed_mid_job"] is True
