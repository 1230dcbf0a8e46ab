"""The round-close bench artifact: bench.py prints a short last line
that parses on its own and names the full result file, which
tools/compare_bench.py reads."""

from __future__ import annotations

import json

import bench
from tools.compare_bench import load_queries


def _synthetic_result(n_queries: int = 147) -> dict:
    queries = {f"query_with_a_long_name_{i:03d}": 0.5 + i / 100 for i in range(n_queries)}
    return {
        "metric": "edgelake_spark headline queries wall time",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "runs_per_query": 3,
        "degraded_to_single_run": sorted(queries)[:10],
        "samples_per_query": {n: 3 for n in queries},
        "cpus": 4,
        "sf": 0.1,
    }


def test_summary_line_parses_and_stays_short(tmp_path):
    result = _synthetic_result()
    full = tmp_path / "BENCH_FULL.json"
    line = bench.summary_line(result, str(full))
    assert len(line) < 1500
    d = json.loads(line)
    assert d["metric"] == result["metric"] and d["unit"] == "sec"
    assert d["value"] == result["value"]
    assert d["n_queries"] == 147 and d["degraded"] == 10
    assert d["cpus"] == 4 and d["sf"] == 0.1 and d["full"] == str(full)
    assert min(result["queries"].values()) < d["geomean_sec"] < max(result["queries"].values())


def test_compare_bench_reads_full_file_named_by_the_line(tmp_path):
    result = _synthetic_result()
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps(result))
    log = tmp_path / "bench.log"
    log.write_text("# warmup done\n" + bench.summary_line(result, str(full)) + "\n")
    wrapper = tmp_path / "BENCH_r11.json"
    wrapper.write_text(json.dumps({"rc": "0", "tail": log.read_text()}))
    want = (result["queries"], set(result["degraded_to_single_run"]))
    assert load_queries(str(full)) == want
    assert load_queries(str(log)) == want
    assert load_queries(str(wrapper)) == want
