"""Driver-session replica: the correctness gate supplies its OWN bare
SparkSession (no builder configs at all). Round 1 failed 0/40 because the
engine assumed builder-time confs. This test spawns a subprocess that
builds exactly such a vanilla session — no nanosAsLong, no UTC timezone,
no Arrow — and runs timestamp-sensitive gate queries end-to-end against
their DuckDB oracles, proving ensure_session_confs() repairs any foreign
session at runtime (catalog.py:_REQUIRED_CONFS).
"""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO_ROOT

_SCRIPT = r"""
import math
from datetime import datetime

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from edgelake_spark.catalog import TESTDATA_TABLES

SF = "/root/testdata/sf0.01"
# exactly what the driver does: a session with NO engine configs, plus a
# deliberately non-UTC JVM default timezone to catch tz coupling
spark = (
    SparkSession.builder.master("local[8]")
    .appName("vanilla-gate-replica")
    .config("spark.driver.extraJavaOptions", "-Duser.timezone=America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

duck = duckdb.connect()
for t in TESTDATA_TABLES:
    duck.execute(
        f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, datetime):
        return repr(v.replace(tzinfo=None))
    return repr(v)


queries = entry_mod.queries()
oracles = entry_mod.oracle_sql()
# timestamp-heavy + agg + join coverage; every one died in round 1.
# The round-4 tail adds this session's timestamp/interval-sensitive
# gates (INTERVAL arithmetic, hourly trunc windows, running sums over
# ts order) so new time logic gets the same bare-session insurance.
for name in [
    "el_time_literals",
    "el_increments_grouped",
    "el_agg",
    "tpch_q3",
    "events_funnel",
    "events_seasonal",
    "events_cusum",
    # round-5: commit-log time travel (snapshot isolation under a
    # foreign tz) and the streaming sessionizer replay (event-time
    # state carry-over, timestamp round trips through the state store)
    "dml_time_travel",
    "stream_sessionize",
    "dml_merge",
    # the other two round-5 streaming replay gates in the driver
    # window: bucket-claim dedup and the ordered Welford monitor both
    # carry state through a replayed stream — same bare-session risk
    "stream_lsh_dedup",
    "stream_anomaly",
    # round-6 staged gates with timestamp arithmetic (epoch hour
    # buckets, year extraction) — the classic foreign-tz coupling
    "events_lag_corr",
    "orders_cohort_retention",
    # round-7 sketches: the HLL estimate is the float-heaviest new
    # surface (shared-literal parse + IEEE mult/div chain) — pin it
    # in a bare foreign-tz session too
    "events_hll_distinct",
    "doc_kmv_jaccard",
    # round-7 cont.: the PCA chain is the deepest float pipeline in
    # the repo (fixed-point sums + sqrt + division ladders), and the
    # z-order gate mixes timestamp bucketing with bit ops — both are
    # exactly the kind of surface a bare foreign-tz session breaks
    "emb_pca_power",
    "events_zorder_cells",
    # two-level rollup (date_trunc day buckets under a foreign tz) and
    # the streaming CMS replay (stateful Arrow round-trips)
    "events_hll_rollup",
    "stream_cms_cells",
]:
    df = queries[name](spark, SF)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    res = duck.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(cols) == sorted(dcols), (name, cols, dcols)
    assert len(rows) == len(drows), (name, len(rows), len(drows))
    idx_s = sorted(range(len(cols)), key=lambda i: cols[i])
    idx_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
    ms_s = sorted(tuple(norm(r[i]) for i in idx_s) for r in rows)
    ms_d = sorted(tuple(norm(r[i]) for i in idx_d) for r in drows)
    assert ms_s == ms_d, (name, next((a, b) for a, b in zip(ms_s, ms_d) if a != b))
    print(f"OK {name} rows={len(rows)}")
print("VANILLA_GATE_PASS")
"""


def test_vanilla_driver_session_gate():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO_ROOT,
    )
    assert "VANILLA_GATE_PASS" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )
