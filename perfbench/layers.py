"""Per-layer trace for the benchmark.

The trace is installed only in a traced run. It wraps the public
functions each layer exposes as module attributes (the engine's
entry point and the dialect, output, REST-ingest and txlog functions
it calls) and reads Spark's own counters: the query-execution phase
tracker, the status tracker and app status store under one job group
per op, and the SQL status store for the Python-eval plan nodes.

Nothing under ``edgelake_spark/`` is edited: every wrapper replaces a
module attribute at run time and calls the original.

One client is in flight at a time (closed loop), so the wrappers write
into a single "current op" record even when the engine runs on a REST
server thread.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

#: plan-node names of the Python/Arrow evaluation boundary
_PYTHON_NODES = re.compile(
    r"^(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|"
    r"FlatMapGroupsInArrow|ArrowWindowPython|ArrowAggregatePython)"
)
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

#: txlog methods that each end in one or more commits; the outermost
#: call is one "commit" span
_TX_COMMIT_METHODS = ("overwrite", "append", "delete_where", "update_where",
                      "merge_upsert", "compact_small", "compact")


def _parse_metric(text: str) -> float:
    """A SQL-metric display string ("1,234" or "total (...)\\n1.6 MiB (...)")
    as a number; sizes in bytes."""
    line = text.strip().splitlines()[-1] if text.strip() else "0"
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)


def dir_bytes(*paths: str) -> int:
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    total += os.lstat(os.path.join(dirpath, name)).st_size
                except OSError:
                    pass
    return total


class Tracer:
    """Span and counter collection around the program's layers."""

    def __init__(self, spark, artifact_dirs: list[str]):
        self.spark = spark
        self.sc = spark.sparkContext
        self.artifact_dirs = artifact_dirs
        self.active = False
        self.op: dict | None = None
        self.ops = 0
        self.totals: dict[str, float] = defaultdict(float)
        self._seq = 0
        self._last_execution = -1
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ wrappers

    def _patch(self, owner, name: str, make):
        original = getattr(owner, name)
        self._patches.append((owner, name, original))
        setattr(owner, name, make(original))

    def _timed(self, key: str, original, capture_df: bool = False):
        tracer = self

        def wrapper(*args, **kwargs):
            op = tracer.op
            if op is None:
                return original(*args, **kwargs)
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                t1 = time.time()
                op[key] += t1 - t0
                op["spans"].append((key, t0, t1))
                if capture_df and args:
                    op["df"] = args[0]

        return wrapper

    def install(self) -> None:
        from pyspark.sql import DataFrame

        import edgelake_spark.api.rest as rest
        import edgelake_spark.engine as engine
        import edgelake_spark.output as output
        import edgelake_spark.txlog as txlog

        tracer = self

        def make_run(original):
            def run(eng, command, *args, **kwargs):
                op = tracer.op
                if op is None:
                    return original(eng, command, *args, **kwargs)
                op["run_depth"] += 1
                if op["run_depth"] == 1:
                    # REST requests run on a server thread: tag it too
                    tracer.sc.setJobGroup(op["group"], op["kind"])
                    op["run_start"] = time.time()
                t0 = time.time()
                try:
                    result = original(eng, command, *args, **kwargs)
                    if not isinstance(result, str) and hasattr(result, "_jdf"):
                        op["df"] = result
                    return result
                finally:
                    op["run_depth"] -= 1
                    if op["run_depth"] == 0:
                        op["run_s"] += time.time() - t0

            return run

        def make_parse(original):
            timed = self._timed("parse_s", original)

            def parse(command):
                op = tracer.op
                if op is not None and op["run_start"] and not op["dispatched"]:
                    # the admin chain ran from `run` entry up to here
                    op["dispatched"] = True
                    op["dispatch_s"] += time.time() - op["run_start"]
                return timed(command)

            return parse

        def make_tx_commit(original):
            def commit(tx, *args, **kwargs):
                op = tracer.op
                if op is None or op["tx_depth"]:
                    return original(tx, *args, **kwargs)
                op["tx_depth"] += 1
                t0 = time.time()
                try:
                    return original(tx, *args, **kwargs)
                finally:
                    op["tx_depth"] -= 1
                    op["tx_commit_s"] += time.time() - t0

            return commit

        def make_publish(original):
            def publish(tx, *args, **kwargs):
                version = original(tx, *args, **kwargs)
                if tracer.op is not None:
                    tracer.op["tx_commits"] += 1
                return version

            return publish

        def make_stage(original):
            def stage(tx, *args, **kwargs):
                files, schema = original(tx, *args, **kwargs)
                if tracer.op is not None:
                    tracer.op["tx_bytes"] += sum(
                        os.path.getsize(os.path.join(tx.path, f)) for f in files
                    )
                return files, schema

            return stage

        self._patch(engine.EdgeLakeEngine, "run", make_run)
        self._patch(engine, "parse_sql_command", make_parse)
        self._patch(engine, "rewrite_select", lambda f: self._timed("rewrite_s", f))
        self._patch(engine, "apply_castings", lambda f: self._timed("cast_s", f))
        fmt = self._timed("format_s", output.format_result, capture_df=True)
        self._patches.append((engine, "format_result", engine.format_result))
        self._patches.append((output, "format_result", output.format_result))
        engine.format_result = fmt
        output.format_result = fmt
        self._patch(rest, "rows_to_dataframe", lambda f: self._timed("infer_s", f))
        # a REST PUT ends its ingest by registering the unioned view
        self._patch(DataFrame, "createOrReplaceTempView", lambda f: self._timed("view_s", f))
        for name in _TX_COMMIT_METHODS:
            if hasattr(txlog.TxTable, name):
                self._patch(txlog.TxTable, name, make_tx_commit)
        self._patch(txlog.TxTable, "_publish", make_publish)
        self._patch(txlog.TxTable, "_stage", make_stage)
        self._patch(txlog.TxTable, "read", lambda f: self._timed("tx_read_s", f))

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    # ---------------------------------------------------------------- ops

    def begin(self, kind: str) -> None:
        if not self.active:
            return
        # SQL executions of earlier (untraced) work are not this op's
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        executions = self._sql_store().executionsList()
        if executions.nonEmpty():
            self._last_execution = executions.last().executionId()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, kind)
        self.op = defaultdict(float)
        self.op.update(kind=kind, group=group, spans=[], run_depth=0, tx_depth=0,
                       dispatched=False, df=None, run_start=None,
                       artifacts_before=self.artifact_names(self.artifact_dirs))

    def end(self, latency_s: float, df=None) -> None:
        """Close the current op and fold its counters into the totals."""
        op = self.op
        if op is None:
            return
        self.op = None
        if df is not None:
            op["df"] = df
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        spark_counts, job_spans = self._spark_counters(op["group"])
        phases = self._catalyst_phases(op["df"])
        arrow = self._arrow_counters()
        exec_s = sum(e - s for s, e in job_spans)
        # output formatting collects the result, so its span holds the
        # lazy Catalyst phases and the jobs it launched: report self time
        format_s = op["format_s"]
        if format_s:
            f_spans = [(s, e) for key, s, e in op["spans"] if key == "format_s"]
            inside = sum(
                max(0.0, min(e, fe) - max(s, fs)) for s, e in job_spans for fs, fe in f_spans
            )
            format_s = max(0.0, format_s - inside - phases["optimization"] - phases["planning"])
        record = {
            "engine.dispatch_s": op["dispatch_s"],
            "dialect.parse_s": op["parse_s"],
            "dialect.rewrite_s": op["rewrite_s"],
            "dialect.cast_s": op["cast_s"],
            "catalyst.analysis_s": phases["analysis"],
            "catalyst.optimization_s": phases["optimization"],
            "catalyst.planning_s": phases["planning"],
            "spark.exec_s": exec_s,
            **spark_counts,
            "output.format_s": format_s,
            "queries.build_s": op["build_s"],
            "arrow.rows_to_python": arrow["rows"],
            "arrow.bytes_to_python": arrow["bytes"],
            "ingest.infer_s": op["infer_s"],
            "txlog.commit_s": op["tx_commit_s"],
            "txlog.commits": op["tx_commits"],
            "txlog.read_s": op["tx_read_s"],
            "txlog.bytes_written": op["tx_bytes"],
        }
        if op["kind"] == "rest_put":
            # ingest: row inference, then the union into and
            # registration of the __ingest_<table> view
            starts = [s for key, s, _ in op["spans"] if key == "infer_s"]
            ends = [e for key, _, e in op["spans"] if key == "view_s"]
            ingest_s = max(ends) - min(starts) if starts and ends else op["infer_s"]
            record["api.overhead_s"] = max(0.0, latency_s - ingest_s)
        elif op["kind"] == "rest_get":
            record["api.overhead_s"] = max(0.0, latency_s - op["run_s"])
        record["queries.artifact_builds"] = len(self.artifact_names(self.artifact_dirs) - op["artifacts_before"])
        for key, value in record.items():
            self.totals[key] += value
        self.ops += 1

    # ------------------------------------------------------ spark counters

    def _spark_counters(self, group: str):
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        counts = dict.fromkeys(
            ("spark.jobs", "spark.tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.spill_bytes", "spark.gc_s", "spark.task_failed"), 0.0)
        spans = []
        for job_id in tracker.getJobIdsForGroup(group):
            counts["spark.jobs"] += 1
            job = store.job(job_id)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                spans.append((start.get().getTime() / 1000.0, end.get().getTime() / 1000.0))
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # skipped stages have no attempt
                    continue
                counts["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                counts["spark.task_failed"] += st.numFailedTasks()
                counts["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                counts["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                counts["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                counts["spark.gc_s"] += st.jvmGcTime() / 1000.0
        return counts, spans

    @staticmethod
    def _catalyst_phases(df) -> dict[str, float]:
        phases = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
        if df is None:
            return phases
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in phases:
                phases[kv._1()] = kv._2().durationMs() / 1000.0
        return phases

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _arrow_counters(self) -> dict[str, float]:
        """Rows and bytes through the Python-eval plan nodes of every SQL
        execution that started since ``begin`` of this op."""
        out = {"rows": 0.0, "bytes": 0.0}
        jvm = self.sc._jvm
        sql_store = self._sql_store()
        executions = sql_store.executionsList()
        # the list is ordered by execution id: walk back from the newest
        for i in range(executions.size() - 1, -1, -1):
            execution_id = executions.apply(i).executionId()
            if execution_id <= self._last_execution:
                break
            nodes = sql_store.planGraph(execution_id).allNodes()
            values = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not _PYTHON_NODES.match(node.name()):
                    continue
                if values is None:
                    values = sql_store.executionMetrics(execution_id)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    key = {"number of output rows": "rows",
                           "data sent to Python workers": "bytes"}.get(metric.name())
                    if key is None:
                        continue
                    acc = jvm.org.apache.spark.util.AccumulatorContext.get(metric.accumulatorId())
                    if acc.isDefined():
                        out[key] += float(acc.get().value())
                    elif values.contains(metric.accumulatorId()):
                        out[key] += _parse_metric(values.apply(metric.accumulatorId()))
        return out

    @staticmethod
    def artifact_names(dirs) -> set[str]:
        names = set()
        for d in dirs:
            if os.path.isdir(d):
                names.update(os.path.join(d, n) for n in os.listdir(d))
        return names

    def scan_leaves(self, view: str) -> int:
        plan = self.spark.table(view)._jdf.queryExecution().analyzed()
        return plan.collectLeaves().size()

    def per_op(self) -> dict[str, float]:
        """Layer counters as means per traced op."""
        n = max(self.ops, 1)
        return {k: v / n for k, v in self.totals.items()}
