"""Executor-loss drill for reliable-checkpoint mode.

The r8/r9 rounds made every lineage-truncation barrier route through
``edgelake_spark.checkpoint.materialize`` with an opt-in RELIABLE mode
(``df.checkpoint()`` to durable storage) precisely because on a real
cluster an executor loss destroys ``localCheckpoint`` blocks and kills
the job. This drill proves the mode does what it claims — not just
that it is parity-green on an unbroken run:

1. starts a REAL multi-executor cluster (``local-cluster[2,4,4096]`` —
   two separate executor JVM processes, the smallest topology where an
   executor loss is survivable),
2. runs the two checkpoint-heaviest operator families — forced
   distributed connected components (min-label + pointer jumping, a
   materialize() barrier per round) and PCA power iteration — once
   unbroken to record the expected result hash,
3. re-runs each with a killer thread that SIGKILLs one live
   CoarseGrainedExecutorBackend process mid-job,
4. asserts the job COMPLETES and the result hash is IDENTICAL to the
   unbroken run.

Run:  python tools/drill_executor_loss.py            (reliable mode)
Emits one JSON line; a SCALE.md record and
tests/test_reliable_ckpt.py::test_executor_loss_drill consume it.

Results are integer/fixed-point (component ids; the PCA path stages
sums as BIGINT fixed-point), so recomputation after the loss must be
bit-identical, not merely close.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def executor_pids(app_id: str) -> list[int]:
    """PIDs of the live executor JVMs of application ``app_id`` (they
    exist only in local-cluster / standalone mode — local[*] runs
    everything in the driver JVM). Executors of other Spark
    applications on the host are left out: their command line carries
    another ``--app-id``."""
    out = subprocess.run(
        ["pgrep", "-f", f"CoarseGrainedExecutorBackend .*--app-id {app_id}( |$)"],
        capture_output=True,
        text=True,
    )
    return [int(p) for p in out.stdout.split()]


def _hash_rows(rows) -> str:
    lines = sorted(",".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Killer(threading.Thread):
    """Waits until the job is actually running stages, then SIGKILLs
    one executor process. Records what it did for the report."""

    def __init__(self, sc, settle_s: float = 1.5):
        super().__init__(daemon=True)
        self.sc = sc
        self.settle_s = settle_s
        self.killed_pid: int | None = None
        self.kill_time: float | None = None
        self.error: str | None = None

    def run(self) -> None:
        try:
            tracker = self.sc.statusTracker()
            deadline = time.time() + 60
            while time.time() < deadline:
                if tracker.getActiveStageIds():
                    break
                time.sleep(0.05)
            else:
                self.error = "no active stage within 60s"
                return
            time.sleep(self.settle_s)  # let tasks land on both executors
            pids = executor_pids(self.sc.applicationId)
            if not pids:
                self.error = "no executor processes found"
                return
            victim = pids[0]
            os.kill(victim, signal.SIGKILL)
            self.kill_time = time.time()
            self.killed_pid = victim
        except Exception as exc:  # pragma: no cover
            self.error = repr(exc)


def run_cc(spark):
    """Forced-distributed connected components over the sf0.1 LSH pair
    graph — every label round crosses a materialize() barrier."""
    from pyspark.sql import functions as F

    from edgelake_spark.functions import dedup as dd
    from edgelake_spark.checkpoint import materialize
    from edgelake_spark.queries import _run_minhash_pairs

    pairs = (
        _run_minhash_pairs(spark, SF_DIR)
        .select("id1", "id2")
        .transform(materialize)
    )
    stats: dict = {}
    out = dd.connected_components(pairs, driver_threshold=0, stats=stats)
    rows = out.collect()
    return rows, stats


def run_pca(spark):
    """PCA power iteration (Gram accumulation + checkpointed rounds)."""
    from edgelake_spark.queries import SPARK_QUERIES

    return SPARK_QUERIES["emb_pca_power"](spark, SF_DIR).collect(), {}


def drill(name: str, fn, spark, with_kill: bool, settle_s: float = 1.5) -> dict:
    rec: dict = {"op": name, "kill": with_kill}
    killer = Killer(spark.sparkContext, settle_s=settle_s) if with_kill else None
    t0 = time.time()
    try:
        if killer:
            killer.start()
        rows, stats = fn(spark)
        rec["status"] = "completed"
        rec["hash"] = _hash_rows(rows)
        rec["n_rows"] = len(rows)
        rec.update({f"cc_{k}": v for k, v in stats.items()})
    except Exception as exc:
        rec["status"] = "failed"
        rec["error"] = repr(exc)[:500]
    rec["wall_s"] = round(time.time() - t0, 1)
    if killer:
        killer.join(timeout=5)
        rec["killed_pid"] = killer.killed_pid
        rec["killer_error"] = killer.error
        # the kill only counts if it landed BEFORE the job finished —
        # an after-completion SIGKILL hits an idle executor and proves
        # nothing; main() requires killed_mid_job for ok=true
        rec["kill_at_s"] = (
            round(killer.kill_time - t0, 2) if killer.kill_time else None
        )
        rec["killed_mid_job"] = (
            killer.kill_time is not None and killer.kill_time - t0 < rec["wall_s"]
        )
    return rec


def main() -> None:
    reliable = os.environ.get("SPARK_GRAFT_RELIABLE_CKPT", "1") != "0"
    os.environ["SPARK_GRAFT_RELIABLE_CKPT"] = "1" if reliable else "0"
    # local-cluster executor launch needs SPARK_HOME; the pip install
    # carries the launcher scripts under the pyspark package dir
    if not os.environ.get("SPARK_HOME"):
        import pyspark

        os.environ["SPARK_HOME"] = os.path.dirname(pyspark.__file__)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from pyspark.sql import SparkSession

    from edgelake_spark.catalog import _REQUIRED_CONFS, ensure_session_confs

    builder = (
        SparkSession.builder.master("local-cluster[2,4,4096]")
        .appName("executor-loss-drill")
        .config("spark.sql.shuffle.partitions", "16")
        # the drill MUST survive one executor loss, not flake on the
        # task retries that loss implies
        .config("spark.task.maxFailures", "8")
        # decommissioned-executor shuffle data is gone; allow stage
        # retries to regenerate it
        .config("spark.stage.maxConsecutiveAttempts", "8")
    )
    for k, v in _REQUIRED_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    report: dict = {
        "mode": "reliable" if reliable else "local",
        "master": "local-cluster[2,4,4096]",
        "sf_dir": SF_DIR,
        "drills": [],
    }
    try:
        # make sure both executors registered before timing anything
        app_id = spark.sparkContext.applicationId
        deadline = time.time() + 120
        while len(executor_pids(app_id)) < 2 and time.time() < deadline:
            time.sleep(0.5)
        report["executors_at_start"] = len(executor_pids(app_id))

        for name, fn in (("dedup_clusters_distributed", run_cc), ("emb_pca_power", run_pca)):
            base = drill(name, fn, spark, with_kill=False)
            # settle a third of the (warm) baseline wall into the job
            # before killing, so short jobs are hit mid-flight, not at
            # the tail; the baseline ran first, so the loss run is warm
            # and its wall is at most the baseline's
            settle = max(0.3, min(1.5, base["wall_s"] / 3))
            loss = drill(name, fn, spark, with_kill=True, settle_s=settle)
            loss["hash_matches_unbroken"] = (
                base.get("hash") is not None and base.get("hash") == loss.get("hash")
            )
            report["drills"].append({"baseline": base, "with_loss": loss})
        report["ok"] = all(
            d["with_loss"]["status"] == "completed"
            and d["with_loss"]["hash_matches_unbroken"]
            and d["with_loss"]["killed_mid_job"]
            for d in report["drills"]
        )
    finally:
        spark.stop()
    print(json.dumps(report))
    sys.exit(0 if report.get("ok") else 1)


if __name__ == "__main__":
    main()
