"""100x scale datapoint: bench the headline families at sf10.

The standing question from the build brief is "would this still work,
and work fast, at 100x the data" — SCALE.md argued it per-plan and
measured it at 10x (sf1); this tool measures it at 100x. It
synthesizes sf10 (100 key-shifted, alphabet-permuted replicas of
sf0.1 — ~60 M lineitem rows / ~6 M events / ~50 k docs) with the same
bench._ensure_sfn scheme the sf1 tail uses, then times each family at
sf0.1, sf1, and sf10 in ONE session so the ratios are apples-to-apples.

Linear-or-better expectations (data 10x per step, cores fixed at 32):
a scan-bound family should scale ~10x per step once the data outgrows
the core count; a sub-linear ratio means fixed overhead still
dominates; a super-linear ratio is the scale smell the drill exists to
catch (pair-count blowup, spill, driver funnel).

Run:  python tools/bench_sf10.py            (~10 min cold, ~5 min cached)
Emits one JSON line; SCALE.md records the table.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF01_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO_DIR, ".bench_sf1"))
SF10_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR", os.path.join(REPO_DIR, ".bench_sf10"))

#: the r9-verdict representative set: broadcast join ladder, LSH band
#: join, window sessionize, SQL BPE encode, mergeable-sketch rollup,
#: per-stratum weighted sampling, plus forced-distributed CC (run
#: separately below — the hybrid would route sf0.1 to the driver branch)
FAMILIES = [
    "tpch_q3",
    "doc_minhash_pairs",
    "events_sessionize",
    "doc_bpe_apply",
    "events_cms_rollup",
    "doc_weighted_sample",
    "doc_dedup_incremental",
]

RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "2"))


def main() -> None:
    import bench
    from edgelake_spark import get_spark
    from edgelake_spark.queries import SPARK_QUERIES, _run_minhash_pairs
    from edgelake_spark.functions import dedup as dd
    from edgelake_spark.checkpoint import materialize

    spark = get_spark(app_name="edgelake-bench-sf10")
    t_start = time.time()
    bench._ensure_sfn(spark, SF01_DIR, SF1_DIR, replicas=10)
    bench._ensure_sfn(spark, SF01_DIR, SF10_DIR, replicas=100)
    synth_s = round(time.time() - t_start, 1)

    import gc

    def cleanup() -> None:
        for v in spark.catalog.listTables():
            if v.name.startswith("__"):
                spark.catalog.dropTempView(v.name)
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def fresh_session():
        """Per-FAMILY session restart: sf10 intermediates are GBs, and
        accumulated JVM state made identical sf10 runs vary 21→102 s
        within one long session (measured r10) — the same effect
        bench.py bounds with SPARK_GRAFT_RESTART_EVERY. Each family
        gets a fresh JVM, then warms each dataset's footers."""
        nonlocal spark
        spark.stop()
        spark = get_spark(app_name="edgelake-bench-sf10")
        for _, d in scales:
            SPARK_QUERIES["rows_count"](spark, d).collect()
        cleanup()
        return spark

    def cc_distributed(spark_, sf_dir):
        pairs = (
            _run_minhash_pairs(spark_, sf_dir)
            .select("id1", "id2")
            .transform(materialize)
        )
        return dd.connected_components(pairs, driver_threshold=0)

    runners = {name: SPARK_QUERIES[name] for name in FAMILIES}
    runners["doc_dedup_clusters_distributed"] = cc_distributed

    scales = [("sf0.1", SF01_DIR), ("sf1", SF1_DIR), ("sf10", SF10_DIR)]
    # warm each dataset's footers once so sf10's first timed family
    # doesn't pay the cold-file penalty the others skipped
    for _, d in scales:
        SPARK_QUERIES["rows_count"](spark, d).collect()
        cleanup()

    table: dict[str, dict] = {}
    for name, fn in runners.items():
        rec: dict = {}
        fresh_session()
        try:
            for label, d in scales:
                walls = []
                rows = 0
                for _ in range(RUNS):
                    t0 = time.time()
                    rows = len(fn(spark, d).collect())
                    walls.append(time.time() - t0)
                    cleanup()
                rec[label] = round(min(walls), 3)
                rec[f"{label}_rows"] = rows
            rec["ratio_10x"] = round(rec["sf1"] / rec["sf0.1"], 2)
            rec["ratio_100x"] = round(rec["sf10"] / rec["sf0.1"], 2)
            rec["ratio_sf1_to_sf10"] = round(rec["sf10"] / rec["sf1"], 2)
        except Exception as exc:
            # one family's failure must not zero the whole report —
            # the JSON line is the drill's artifact
            rec["error"] = repr(exc)[:300]
        table[name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "sf10 (100x) scaling drill",
                "synth_s": synth_s,
                "runs_per_point": RUNS,
                "families": table,
            }
        )
    )


if __name__ == "__main__":
    main()
