#!/usr/bin/env python3
"""Self-check of the benchmark on sf0.001 tables with short runs.

    python3 perfbench/selfcheck.py

Asserts that every workload emits every metric BENCHMARK.json names,
with its unit, untraced and traced; that a corrupted expected digest
shows up as failed ops (``failed_frac`` > 0, ``correct`` false); and
that the benchmark exits non-zero, printing no result, in a directory
that holds only BENCHMARK.json and the benchmark itself. Takes a few
minutes (seven short Spark runs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _line(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"bad result keys: {sorted(line)}")
    return line


def _check_metrics(line: dict, wanted: list[dict], what: str) -> None:
    got = line["metrics"]
    if set(got) != {m["name"] for m in wanted}:
        raise SystemExit(f"{what}: metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        value = got[m["name"]]
        if value.get("unit") != m["unit"] or not isinstance(value.get("value"), (int, float)):
            raise SystemExit(f"{what}: {m['name']} is {value}, want unit {m['unit']}")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    common = ["--seed", "7", "--seconds", "1", "--tiny"]
    for workload in ("dashboard", "ingest", "batch"):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            line = _line(_run(REPO, "--workload", workload, "--trace", str(trace), *common))
            what = f"{workload} trace={trace}"
            _check_metrics(line, spec[section], what)
            if not line["correct"] or line["failed"] or line["attempted"] < 1:
                raise SystemExit(f"{what}: {line['failed']} of {line['attempted']} ops failed")
            if workload == "ingest" and trace:
                per_put = line["metrics"]["ingest.scan_leaves_per_put"]["value"]
                if not 0.5 <= per_put <= 1.5:
                    raise SystemExit(f"ingest.scan_leaves_per_put is {per_put}, want about 1")
            print(f"ok  {what}: {line['attempted']} ops", flush=True)

    line = _line(_run(REPO, "--workload", "dashboard", "--trace", "1", "--corrupt-digests", *common))
    if line["correct"] or line["metrics"]["failed_frac"]["value"] <= 0:
        raise SystemExit(f"corrupted digests were not caught: {line}")
    print(f"ok  corrupted digests: {line['failed']} of {line['attempted']} ops failed", flush=True)

    bare = os.path.join(HERE, "out", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "__pycache__"))
        proc = _run(bare, "--workload", "dashboard", "--trace", "0", *common)
        if proc.returncode == 0 or proc.stdout.strip():
            raise SystemExit("a checkout without the program must fail without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  no program: exit code", proc.returncode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
