#!/usr/bin/env python3
"""Edge-node benchmark for edgelake_spark.

    python3 perfbench/run.py --workload {dashboard,ingest,batch} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run starts a local Spark session
sized to this host, generates the workload's tables from the seed under
a scratch directory, takes expected results from DuckDB, sets the
program up (timed), runs about ``--seconds`` of closed-loop passes (a
pass count fixed by ``--seconds``, not by the clock), checks every
result, and removes everything it created except the result file
``perfbench/out/result-<workload>-s<seed>-t<trace>.json``.

Set-ups and passes are measured in wall time and in the CPU time of
the node's processes without the JIT compiler threads; the gated
end-to-end metrics are the CPU ones, which host CPU steal does not move.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
named in BENCHMARK.json; with ``--trace 1`` it carries the per-layer
metrics of a traced run (passes alternate untraced and traced, and the
difference is reported as the tracing overhead). See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

def _die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def _source_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "edgelake_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (kept alive for the
    whole run by ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                total += int(fh.read().split()[0])  # ns on CPU
        except OSError:
            continue
    return total / 1e9


def _cpu_sample(pid: int) -> tuple[float, float]:
    """(CPU seconds, JIT CPU seconds) used so far by the node: this
    process (the engine's Python side and the REST server thread) and
    the Spark JVM ``pid`` with its descendants, the Python workers, reaped
    children included. The kernel accounts steal (PARAVIRT_TIME_ACCOUNTING),
    so time the host gave this VM's CPUs to others is not in it."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    total = ru.ru_utime + ru.ru_stime
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces: fields follow its ")"
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # ppid; utime + stime + cutime + cstime
        stats[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for child, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(child)
    todo = [pid]
    while todo:
        p = todo.pop()
        if p in stats:
            total += stats[p][1] / _TICK
        todo.extend(children.get(p, ()))
    return total, _jit_cpu_s(pid)


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    jit_s: float
    ops: list
    traced: bool

    @property
    def work_cpu_s(self) -> float:
        """CPU of the pass without the JIT compiler threads, whose work
        fades as the JVM warms and follows no fixed schedule."""
        return self.cpu_s - self.jit_s


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM (and so its Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _prepare_env(root: str, cpus: int, heap_mb: int) -> dict[str, str]:
    dirs = {k: os.path.join(root, k) for k in ("tmp", "spark-local", "ckpt", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_CKPT_DIR=dirs["ckpt"],
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        PYSPARK_PYTHON=sys.executable,
        # every JVM, the launcher spark-submit runs first included: no
        # hsperfdata under /tmp, temp files under the scratch root
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=REPO + (os.pathsep + path if path else ""),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001 tables and one set-up (self-check)")
    ap.add_argument("--corrupt-digests", action="store_true",
                    help="corrupt every expected result (self-check)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "edgelake_spark", "__init__.py")):
        _die(f"no edgelake_spark package under {REPO}")
    try:
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as exc:
        _die(f"cannot read BENCHMARK.json: {exc}")

    cpus = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    heap_mb = min(3072, mem_mb // 4)
    root = os.path.join(OUT, f"scratch-{os.getpid()}")
    os.makedirs(root)
    repo_wh = os.path.join(REPO, "spark-warehouse")
    wh_existed = os.path.isdir(repo_wh)
    wh_before = set(os.listdir(repo_wh)) if wh_existed else set()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    try:
        result = _run(args, units, root, cpus, mem_mb, heap_mb, repo_wh)
    finally:
        # leave the checkout as it was: the scratch root and every
        # artifact the program persisted during this run go
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(repo_wh):
            for name in set(os.listdir(repo_wh)) - wh_before:
                shutil.rmtree(os.path.join(repo_wh, name), ignore_errors=True)
            if not wh_existed and not os.listdir(repo_wh):
                os.rmdir(repo_wh)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = result["metrics"]
    path = os.path.join(OUT, f"result-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    for name in sorted(metrics):
        print(f"{name:28s} {metrics[name]['value']:>16.6g} {metrics[name]['unit']}")
    print(f"result file: {os.path.relpath(path, REPO)}")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: metrics[m["name"]] for m in spec[section]},
    }
    print(json.dumps(line), flush=True)
    return 0


def _run(args, units, root, cpus, mem_mb, heap_mb, repo_wh) -> dict:
    dirs = _prepare_env(root, cpus, heap_mb)
    sys.path.insert(0, REPO)
    from layers import Tracer, dir_bytes
    from workloads import WORKLOADS, Context

    from edgelake_spark import get_spark

    # the workload's tables and expected results need no Spark: make
    # them while the Spark JVM starts
    ctx = Context(None, root, args.seed, args.tiny, args.corrupt_digests)
    workload = WORKLOADS[args.workload](ctx)
    prep_error: list[BaseException] = []

    def prepare():
        try:
            workload.prepare()
        except BaseException as exc:  # re-raised on the main thread
            prep_error.append(exc)

    prep = threading.Thread(target=prepare, name="perfbench-prepare")
    prep.start()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            # replaces the session default, so it is restated here
            "spark.driver.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid  # spark-submit execs the JVM
    ctx.spark = spark
    tracer = None
    try:
        prep.join()
        if prep_error:
            raise prep_error[0]
        artifact_dirs = [repo_wh, dirs["warehouse"]]
        artifacts0 = Tracer.artifact_names(artifact_dirs)
        setups = 1 if args.tiny else getattr(workload, "SETUPS", 3)
        setup_runs = []  # (wall seconds, CPU seconds, JIT CPU seconds)
        for i in range(setups):
            t, (c, j) = time.perf_counter(), _cpu_sample(jvm_pid)
            workload.setup()
            if i == 0:
                # the first set-up also warms what a set-up alone does
                # not, so no timed op is a first call
                workload.warmup()
            c1, j1 = _cpu_sample(jvm_pid)
            setup_runs.append((time.perf_counter() - t, c1 - c, j1 - j))
        artifacts_built = len(Tracer.artifact_names(artifact_dirs) - artifacts0)

        if args.trace:
            tracer = Tracer(spark, artifact_dirs)
            tracer.install()
            ctx.tracer = tracer
        # the pass count follows from --seconds and the workload's
        # nominal pass length, not from the clock, so every run does the
        # same work however busy the machine is. At least two: a single
        # pass's CPU time varies by about a tenth from run to run with
        # how far the JIT has got. A traced run alternates untraced and
        # traced passes, starting untraced.
        n_passes = max(2, round(args.seconds / workload.PASS_S))
        passes = []
        start = time.perf_counter()
        for i in range(n_passes):
            traced = bool(args.trace) and i % 2 == 1
            if tracer is not None:
                tracer.active = traced
            workload.before_pass()
            t, (c, j) = time.perf_counter(), _cpu_sample(jvm_pid)
            ops = workload.run_pass()
            wall = time.perf_counter() - t
            c1, j1 = _cpu_sample(jvm_pid)
            passes.append(Pass(wall, c1 - c, j1 - j, ops, traced))
        measured_s = time.perf_counter() - start
        if tracer is not None:
            tracer.active = False
            tracer.uninstall()
        finished = workload.finish()
        ckpt_left = dir_bytes(dirs["ckpt"], dirs["spark-local"])
        peak_rss_mb = _hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        workload.close()
        _stop_spark(spark)
    disk_left = dir_bytes(dirs["tmp"], dirs["spark-local"], dirs["ckpt"])

    ops = [op for p in passes for op in p.ops]
    untraced = [p for p in passes if not p.traced]

    def lat(kinds=None, src=untraced):
        return [op.latency_s for p in src for op in p.ops if kinds is None or op.kind in kinds]

    failed = sum(not op.ok for op in ops)
    put_rows = sum(getattr(workload, "ROWS_PER_PUT", 0) for op in ops if op.kind == "rest_put" and op.ok)
    values = dict.fromkeys(units, 0.0)
    values.update({
        "setup_s": statistics.median(c - j for _, c, j in setup_runs),
        "pass_cpu_s": statistics.median(p.work_cpu_s for p in untraced),
        "setup_wall_s": statistics.median(w for w, _, _ in setup_runs),
        "pass_s": statistics.median(p.wall_s for p in untraced),
        "jvm.jit_cpu_s": statistics.median(p.jit_s for p in untraced),
        "latency_p50_s": _quantile(lat(), 0.5),
        "latency_p90_s": _quantile(lat(), 0.9),
        "peak_rss_mb": peak_rss_mb,
        "failed_frac": failed / max(len(ops), 1),
        "disk_left_mb": disk_left / 1e6,
        "put_p50_s": _quantile(lat({"rest_put"}), 0.5),
        "fresh_read_p50_s": _quantile(lat({"rest_get"}), 0.5),
        "fresh_read_p90_s": _quantile(lat({"rest_get"}), 0.9),
        "dml_p50_s": _quantile(lat({"dml"}), 0.5),
        "ingest_rows_per_s": put_rows / measured_s,
        "spark.session_start_s": session_start_s,
        "setup.artifacts_built": artifacts_built,
        "checkpoint.bytes_left": ckpt_left,
        **finished,
    })
    if tracer is not None:
        per_op = tracer.per_op()
        per_op["queries.artifact_builds"] = tracer.totals.get("queries.artifact_builds", 0.0)
        values.update(per_op)
        traced_cpu = statistics.median(p.work_cpu_s for p in passes if p.traced)
        values["trace.overhead_frac"] = traced_cpu / values["pass_cpu_s"] - 1.0
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {"cpus": cpus, "mem_total_mb": mem_mb, "jvm_heap_mb": heap_mb},
        "sf": workload.sf,
        "git_sha": _git_sha(),
        "source_sha256": _source_sha(),
        "setups": [{"wall_s": w, "cpu_s": c, "jit_cpu_s": j} for w, c, j in setup_runs],
        "passes": [{"wall_s": p.wall_s, "cpu_s": p.cpu_s, "jit_cpu_s": p.jit_s, "traced": p.traced}
                   for p in passes],
        "measured_s": measured_s,
        "wall_s": time.perf_counter() - T_START,
        "latency_p50_by_kind_s": {
            k: _quantile(lat({k}), 0.5) for k in sorted({op.kind for op in ops})
        },
        "samples": {"all": len(lat()), **{k: len(lat({k})) for k in ("rest_put", "rest_get", "dml")}},
        "attempted": len(ops),
        "failed": failed,
        "errors": ctx.errors[:20],
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
