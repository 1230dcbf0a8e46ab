"""EdgeLakeEngine — the query entry point.

Replaces the reference's whole query lifecycle (parse → per-operator
fan-out → scratch-table unify → format; edge_lake/cmd/member_cmd.py:5187
_issue_sql, edge_lake/job/job_instance.py) with: dialect rewrite →
ONE Spark plan → optional presentation transforms. Catalyst supplies
predicate pushdown, partial/final aggregation, partition pruning and
AQE; nothing is hand-scheduled, so the same code path scales from
local[32] to a 1000-executor cluster.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import threading
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from edgelake_spark import catalog
from edgelake_spark.dialect.casting import TZ_NAMES, apply_castings
from edgelake_spark.dialect.options import SqlCommand, parse_sql_command
from edgelake_spark.dialect.rewriter import rewrite_select
from edgelake_spark.eventlog import LOG_SIZES, EventLog
from edgelake_spark.localframe import local_frame
from edgelake_spark.output import format_result
from edgelake_spark.script import _strip_quotes
from edgelake_spark.txlog import DV_MAX_ROWS, TxTable, deleted_rows

_view_counter = itertools.count()
_job_counter = itertools.count()

#: the command table (reference command tree: member_cmd.py:21051-21090):
#: lowercased prefix words → (usage, handler). @_command fills it from
#: EdgeLakeEngine's methods; `run` dispatches and `help` lists from it.
_COMMANDS: dict[tuple[str, ...], tuple[str, object]] = {}
#: longest prefix, in words (`generate insert from json`)
_MAX_PREFIX = 4


def _command(*prefixes: str, usage: str, verbs: tuple[str, ...] = ()):
    """Register the decorated method under each prefix; aliases share
    the handler. With ``verbs``, prefixes and usage are templates: one
    command per verb, whose handler is called with ``verb=`` that verb."""

    def register(fn):
        for prefix in prefixes:
            for verb in verbs or (None,):
                name, text, handler = prefix, usage, fn
                if verb is not None:
                    name, text = prefix.format(verb), usage.format(verb)
                    handler = partial(fn, verb=verb)
                key = tuple(name.lower().split())
                if key in _COMMANDS or len(key) > _MAX_PREFIX:
                    raise ValueError(f"cannot register command {name!r}")
                _COMMANDS[key] = (text, handler)
        return fn

    return register


def _lookup(command: str):
    """``(prefix, handler, rest)`` for the longest registered prefix of
    ``command`` (at most four dictionary lookups), or None. ``rest`` is
    the text after the prefix, in its original case."""
    words = command.split(None, _MAX_PREFIX)
    lowered = [w.lower() for w in words[:_MAX_PREFIX]]
    for n in range(len(lowered), 0, -1):
        entry = _COMMANDS.get(tuple(lowered[:n]))
        if entry is not None:
            rest = command.split(None, n)[n:]
            return " ".join(lowered[:n]), entry[1], rest[0].strip() if rest else ""
    return None


def _args(pattern: str, rest: str) -> re.Match | None:
    """Match a handler's whole argument text (any case, any lines)."""
    return re.fullmatch(pattern, rest, re.IGNORECASE | re.DOTALL)


_KV_RE = re.compile(r"(\w+)\s*=\s*(\"[^\"]*\"|'[^']*'|\S+)")


def _where(text: str, *required: str) -> dict[str, str]:
    """The ``k = v and k2 = "v 2"`` pairs of a where clause: keys
    lowercased, values quoted or bare, quotes stripped. Raises when a
    ``required`` key is missing."""
    opts = {k.lower(): _strip_quotes(v) for k, v in _KV_RE.findall(text)}
    for key in required:
        if key not in opts:
            raise ValueError(f"missing {key} = ...")
    return opts


def _flag(opts: dict, key: str, default: bool) -> bool:
    return opts.get(key, str(default)).lower() in ("true", "1")


def _dbms_table_match(flt: dict, dbms: str, table: str) -> bool:
    """True when (dbms, table) passes a where clause's dbms/table filters."""
    return all(not flt.get(k) or flt[k] == v for k, v in (("dbms", dbms), ("table", table)))


def _meta_filters(text: str) -> dict:
    """company/dbms/table equality filters of the metadata commands."""
    flt = _where(text)
    return {k: flt[k] for k in ("company", "dbms", "table") if k in flt}


class EdgeLakeEngine:
    """One engine per (SparkSession, data directory).

    ``now`` pins the rewrite-time clock (the reference resolves now()/
    date() to fixed literals at rewrite, unify_results.py:876-881) —
    inject a datetime for deterministic tests/oracles.
    """

    #: default blob-export cap for `file retrieve` without a unique key:
    #: exporting a whole blob table streams through the driver, so an
    #: unbounded default is an OOM path at 1M-blob tables. An explicit
    #: `limit = 0` opts back into unlimited (paged via toLocalIterator).
    RETRIEVE_CAP = 1000

    #: every append (and every point UPDATE or MERGE) adds a commit stage,
    #: one scan-union branch of the snapshot read; past this many stages
    #: a commit folds the small ones
    FOLD_STAGES = 64

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        now: datetime | None = None,
        node_identity: dict | None = None,
        work_dir: str | None = None,
    ):
        self.spark = spark
        # harden against driver-supplied sessions missing our configs
        # (UTC tz, nanos-as-long, Arrow) — see catalog._REQUIRED_CONFS
        catalog.ensure_session_confs(spark)
        self.now = now
        # stand-in identity for the single "operator node" — the
        # reference prepends these via extend=(@ip, @port, ...)
        self.node_identity = node_identity or {
            "ip": "127.0.0.1",
            "port": 32048,
            "dbms_name": "",
        }
        #: qualified name → Spark view name, for `create view` mappings
        self.views: dict[str, str] = {}
        #: ingest view → rows appended to it (the next row_id - 1); see
        #: ingest(), whose lock guards it and the view's union chain
        self.ingested_rows: dict[str, int] = {}
        self._ingest_lock = threading.Lock()
        #: table name → partitioned dataset path (attach_partitioned)
        self.partitioned_paths: dict[str, str] = {}
        #: topic name → parsed `run kafka consumer` config
        self.broker_consumers: dict[str, dict] = {}
        #: StreamIngest pipelines registered on this node (for
        #: `get streaming` counters)
        self.stream_ingests: list = []
        #: "dbms.table" → streaming conditions / data monitors, consumed
        #: by broker/file ingest pipelines targeting that table
        self.streaming_conditions: dict[str, list] = {}
        self.monitors: dict[str, object] = {}
        #: the node's policy ledger (reference: blockchain file/master)
        from edgelake_spark.policies import PolicyStore

        self.policy_store = PolicyStore()
        self._last_pass_through = False
        #: dest = buffer:<key> rendered outputs (reference assign_key /
        #: "buffer" destination, output_data.py:37-60)
        self.buffers: dict[str, str] = {}
        #: (dbms, table) → blobs temp view, fed by `file store`
        #: (reference bucket_dbms.py:110 store_file / :220 retrieve_files)
        self.blob_views: dict[tuple[str, str], str] = {}
        #: (dbms, table) → hashes of the stored blobs: the duplicate-hash
        #: index. The content lives only in the table's TxTable.
        self.blob_rows: dict[tuple[str, str], set[str]] = {}
        #: sched_id → TaskScheduler (reference task_scheduler.py's
        #: per-id task arrays); wake<=0 keeps schedulers tick-driven
        #: (deterministic — tests call .tick() with an explicit now)
        self.schedulers: dict[int, object] = {}
        self.scheduler_wake_seconds: float = 10.0
        #: EdgeLakeRestServer sets this on construction (`get processes`)
        self.rest_server = None
        #: the node dictionary (reference generic/params.py user_defined:
        #: `!name` substitution in every command, `set name = value`,
        #: `get dictionary`); seeded with the node identity like the
        #: reference seeds ip/port at boot
        self.params: dict[str, str] = {
            "ip": str(self.node_identity.get("ip", "")),
            "port": str(self.node_identity.get("port", "")),
        }
        #: per-query audit: statement, rewritten SQL, wall seconds
        #: (reference `query status/explain` — member_cmd.py:21665,
        #: job_instance bookkeeping). Bounded ring, newest last.
        self.query_log: list[dict] = []
        #: node event/error rings (reference generic/process_log.py):
        #: `get event log` / `get error log`, keyword filter, dedup fold
        self.event_log = EventLog()
        #: services a command starts: `run operator`, `run blobs
        #: archiver`, `run message broker`
        self.operator = None
        self.archiver = None
        self.message_brokers: list = []
        #: dbms name → the `dbms.table` names `connect dbms` attached
        self.connected_dbms: dict[str, list[str]] = {}
        #: topic → node → status struct pushed by `monitor <topic>`
        self.monitor_status: dict[str, dict] = {}
        #: transactional table layer (txlog.TxTable), "<kind>/<key>" →
        #: table: DML tables under <work_dir>/dml/<table>, blob stores
        #: under <work_dir>/blobs/<dbms>.<table>. A new engine on the
        #: same work_dir re-attaches every committed table (the
        #: reference's operator node persists in its local SQL engine);
        #: without a work_dir, a temp dir removed at exit is made on
        #: first use.
        self._work_dir_path = work_dir
        self.tx_tables: dict[str, TxTable] = {}
        self.sf_dir = sf_dir
        if sf_dir:
            catalog.register_sf_tables(spark, sf_dir)
        if work_dir is not None:
            self._attach_tables()

    def _resolve(self, name: str) -> str:
        if name in self.views:
            return self.views[name]
        short = catalog.view_name(name)
        return self.views.get(short, short)

    def ingest(self, table: str, n_rows: int, build, dbms: str = "",
               create: bool = True) -> str:
        """Append one batch of ``n_rows`` rows to ``table``'s ingest view
        ``__ingest_<table>`` and register ``table`` and ``dbms.table`` as
        its aliases; returns the qualified name. The one landing path of
        REST PUT and topic publish, the ``stream`` command and the
        operator's files.

        ``build(first_row_id)`` returns the batch's DataFrame. It runs
        under the ingest lock, so concurrent appends neither lose a batch
        nor share row ids: ``first_row_id`` is the count of rows already
        appended to the view + 1 (the reference's ``row_id SERIAL``).
        ``create = False`` refuses a table that has no ingest view yet."""
        view = f"__ingest_{table}"
        name = f"{dbms}.{table}" if dbms else table
        with self._ingest_lock:
            exists = self.spark.catalog.tableExists(view)
            if not exists and not create:
                raise ValueError(f"table {name} does not exist (create_table = false)")
            # a dropped view restarts the count; a view another engine on
            # this session made is counted once
            before = 0
            if exists:
                before = self.ingested_rows.get(view)
                if before is None:
                    before = self.spark.table(view).count()
            df = build(before + 1)
            if exists:
                df = self.spark.table(view).unionByName(df, allowMissingColumns=True)
            df.createOrReplaceTempView(view)
            self.ingested_rows[view] = before + n_rows
            self.views[name] = view
            self.views[table] = view
        return name

    def _purge_doomed_views(self, doomed) -> list[str]:
        """Drop the given temp views and EVERY remaining alias that
        still points at one of them — shared by drop table and
        disconnect/drop dbms so no alias can dangle at a dropped view
        instead of falling back to raw storage. Returns the purged
        alias names."""
        for v in doomed:
            try:
                self.spark.catalog.dropTempView(v)
            except Exception:
                pass
        purged = [a for a, t in self.views.items() if t in doomed]
        for alias in purged:
            self.views.pop(alias)
        return purged

    @staticmethod
    def _entry_plan(entry: dict) -> str:
        """Formatted physical plan for a query_log entry; cached so the
        DataFrame reference can be dropped once an entry is no longer
        the newest (avoids pinning checkpoint blocks — see _execute)."""
        if entry.get("plan") is None:
            df = entry["df"]
            entry["plan"] = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        return entry["plan"]

    @staticmethod
    def _plan_destinations(plan: str) -> list[dict]:
        """File-scan destinations from a formatted physical plan: one
        dict per distinct scan with the location root, the table name
        (path basename, or a TxTable's root), and the scan-time pruning
        predicates. A TxTable read of a partitioned table unions one
        scan per commit stage, so repeats of the same (location, table,
        filters) are dropped,
        keeping first-seen order. Non-file scans
        (checkpointed intermediates, in-memory relations) are reported
        as a single ``memory`` destination so a query never vanishes
        from the report."""
        out: list[dict] = []
        # formatted explain prints per-node detail blocks; Location
        # lines carry "<FileIndexCls> [path1, path2, ...]" (paths may be
        # elided with "..." beyond the first few)
        blocks = re.split(r"\n\s*\n", plan)
        for block in blocks:
            for loc in re.finditer(r"Location:\s*\S+\s*\[([^\]]*)\]", block):
                first_path = loc.group(1).split(",")[0].strip()
                if not first_path:
                    continue
                # a TxTable read lists files under <root>/data/<stage>/:
                # the destination is the table root
                tx_root = re.match(r"(.*)/data/[0-9a-f]{16}/", first_path)
                if tx_root:
                    first_path = tx_root.group(1)
                table = first_path.rstrip("/").rsplit("/", 1)[-1]
                table = re.sub(r"\.(parquet|csv|json|orc)$", "", table)
                filters = []
                for key in ("PartitionFilters", "PushedFilters"):
                    # capture to end-of-line: predicates like
                    # In(value, [1,2,3]) nest brackets, so a
                    # first-']' match would truncate them
                    fm = re.search(rf"{key}:\s*(\[.*?)\s*$", block, re.MULTILINE)
                    if fm and fm.group(1) != "[]":
                        filters.append(f"{key}={fm.group(1)}")
                dest = {"location": first_path, "table": table, "filters": "; ".join(filters)}
                if dest not in out:
                    out.append(dest)
        if not out:
            in_memory = "Scan ExistingRDD" in plan or "LocalTableScan" in plan
            kind = "memory" if in_memory else "local"
            out.append({"location": kind, "table": "", "filters": ""})
        return out

    # ------------------------------------------------------------ public

    def run(self, command: str):
        """Execute an EdgeLake command: ``sql <dbms> [options]
        "SELECT ..."``, a bare statement, or any command in the command
        table (`help` lists them).

        Returns a DataFrame for format=dataframe (default), else a
        rendered string (json / json:list / table).
        """
        # the canonical CLI prefix: `run client () <command>` routes the
        # command to query nodes (reference member_cmd.py:21027-21037);
        # single-engine here, so strip and run locally
        command = re.sub(r"^\s*run\s+client\s*\([^)]*\)\s*", "", command)
        # node-dictionary substitution (reference params.py
        # get_value_if_available): known `!name` keys resolve anywhere
        # in the command; unknown keys pass through untouched. `!=`
        # never matches (the char after `!` must start an identifier).
        command = re.sub(
            r"!([A-Za-z_]\w*)",
            lambda m: self.params.get(m.group(1), m.group(0)),
            command,
        )
        try:
            found = _lookup(command)
            if found is not None:
                _, handler, rest = found
                result = handler(self, rest)
                if result is not None:
                    return result
            cmd = parse_sql_command(command)
            self._last_pass_through = False
            df = self._execute(cmd)
        except Exception as exc:
            # reference logs command failures to the error ring
            # (process_log.add is called from error paths node-wide)
            self.event_log.add(
                "Error", f"{type(exc).__name__}: {exc} (command: {command.strip()})"
            )
            raise
        if cmd.options.get("table"):
            # repeatable query → named result (reference
            # member_cmd.py:115-117, system_query.<name>)
            df.createOrReplaceTempView(f"query_{cmd.options['table']}")
        dest = cmd.options.get("dest", "")
        if cmd.fmt == "test" or cmd.options.get("test"):
            # TEST format: Header/Output/Stat sections; with source=
            # compare against the golden file and return the verdict
            # (reference member_cmd.py:124-127, output_data.py:209-262)
            import json as _json

            from edgelake_spark.output import analyze_test_output, format_test_output

            rendered = format_test_output(
                df,
                "table",
                title=cmd.options.get("title", ""),
                command=cmd.statement,
                dbms=cmd.dbms,
                now=self.now,
            )
            if dest.startswith("file:"):
                with open(dest[5:], "w") as fh:
                    fh.write(rendered)
            src = cmd.options.get("source")
            if src:
                with open(src) as fh:
                    trusted = fh.read()
                return _json.dumps(analyze_test_output(trusted, rendered))
            return rendered
        if dest.startswith("kafka@"):
            # dest = kafka@ip:port — publish result rows as JSON messages
            # (reference dest_values member_cmd.py:142-148)
            from edgelake_spark.streaming.broker import write_query_to_broker

            write_query_to_broker(df, dest)
            return df
        if dest.startswith("buffer:") or dest == "buffer":
            # dest = buffer[:key] — rendered output kept engine-side
            # under a key (reference assign_key "buffer" destination,
            # output_data.py:37-60; read back with !key)
            key = dest[7:] or "last"
            fmt = cmd.fmt if cmd.fmt != "dataframe" else "json"
            self.buffers[key] = format_result(
                df, fmt, stat=cmd.options.get("stat", False)
            )
            return df
        if dest.startswith("file:"):
            # dest = file:<path> — reference routes formatted output to a
            # file (dest_values member_cmd.py:142-148; OutputManager).
            # Distributed write for parquet/json paths, driver-rendered
            # text otherwise.
            path = dest[5:]
            if path.endswith(".parquet"):
                df.write.mode("overwrite").parquet(path)
            elif path.endswith(".json"):
                df.write.mode("overwrite").json(path)
            else:
                fmt = cmd.fmt if cmd.fmt != "dataframe" else "json"
                stat = cmd.options.get("stat", False)
                with open(path, "w") as fh:
                    if self._last_pass_through and not stat and fmt != "table":
                        # stream chunks straight to the file — constant
                        # driver memory for arbitrarily wide scans
                        from edgelake_spark.output import stream_result

                        for chunk in stream_result(df, fmt):
                            fh.write(chunk)
                    else:
                        fh.write(format_result(df, fmt, stat=stat))
            return df
        if cmd.fmt == "dataframe":
            return df
        return format_result(
            df,
            cmd.fmt,
            stat=cmd.options.get("stat", False),
            pass_through=self._last_pass_through,
        )

    def query(self, statement: str, **options) -> DataFrame:
        """Run a dialect SELECT with keyword options; returns DataFrame."""
        cmd = SqlCommand(dbms=options.pop("dbms", ""), options=options, statement=statement)
        return self._execute(cmd)

    # ---------------------------------------------------------- commands
    # One method per command, registered by @_command in `help` order.
    # A handler gets the text after its prefix and parses only its own
    # arguments; it returns None for arguments it does not take, which
    # sends the command on to the sql path as an unmatched one.

    @_command("sql", usage='sql <dbms> [format = ..][dest = ..][timezone = ..][extend = (..)][include = (..)][table = ..] "SELECT ..."')
    def _sql(self, rest):
        return None  # `run` parses and executes the sql path itself

    @_command("create view", usage="create view <dbms.view> (<column> <type> [as <source>], ..)")
    def _create_view(self, rest):
        from edgelake_spark import admin

        m = _args(r"(\S+)\s*\((.*)\)", rest)
        if not m:
            return None
        qualified, spec = m.group(1), m.group(2)
        source = catalog.view_name(qualified)
        columns = admin.parse_view_columns(spec)
        view_name = f"__el_view_{len(self.views)}"
        self.spark.sql(admin.create_view_sql(columns, source)).createOrReplaceTempView(
            view_name
        )
        self.views[qualified] = view_name
        return self.spark.table(view_name)

    @_command("get rows count", usage="get rows count [where table = .. and estimate = true]")
    def _get_rows_count(self, rest):
        from edgelake_spark.admin import rows_count, rows_count_estimate

        opts = _where(rest)
        if "table" in opts:
            tables = [self._resolve(opts["table"])]
        else:
            tables = [t for t in catalog.TESTDATA_TABLES if self.spark.catalog.tableExists(t)]
        if opts.get("estimate", "").lower() == "true" and self.sf_dir:
            rows = rows_count_estimate(self.sf_dir, tables)
            return local_frame(self.spark, rows or [], "table_name string, n_rows long")
        return rows_count(self.spark, tables)

    @_command("info table", "info view", usage="info table|view <dbms> <table> columns|exists")
    def _info_table(self, rest):
        from edgelake_spark.admin import info_table_columns

        m = _args(r"(\S+)\s+(\S+)\s+(columns|exists)", rest)
        if not m:
            return None
        # `info view` (member_cmd.py:20984) shares the resolver: `create
        # view` mappings live in self.views like tables — try the
        # dbms-qualified name first (create view registers `vdb.events`,
        # not the bare short name)
        resolved = self._resolve(f"{m.group(1)}.{m.group(2)}")
        if m.group(3).lower() == "columns":
            return info_table_columns(self.spark, resolved)
        # exists iff a query on <dbms>.<table> would resolve — the
        # engine's table namespace is dbms-agnostic for registered
        # tables (sql <any-dbms> "... from events" works), so the
        # short-name fallback is deliberate, not a qualifier leak
        exists = self.spark.catalog.tableExists(resolved)
        return local_frame(
            self.spark, [(m.group(2), exists)], "table_name string, table_exists boolean"
        )

    @_command("backup table", usage="backup table where [dbms = .. and] table = .. and dest = <dir>")
    def _backup_table(self, rest):
        # reference member_cmd.py:21135 backup table: write the table's
        # data to `dest` as JSON (one file; the reference writes per
        # partition — one logical snapshot here)
        opts = _where(rest, "table", "dest")
        resolved = self._resolve(
            f"{opts['dbms']}.{opts['table']}" if opts.get("dbms") else opts["table"]
        )
        df = self.spark.table(resolved)
        os.makedirs(opts["dest"], exist_ok=True)
        out = os.path.join(opts["dest"], f"{opts['table']}.backup.json")
        # toJSON streams executor-side partitions; the driver writes
        # line by line (operator-facing export, like file retrieve)
        n = 0
        with open(out, "w") as fh:
            for line in df.toJSON().toLocalIterator():
                fh.write(line + "\n")
                n += 1
        self.event_log.add("File", f"backup table {opts['table']}")
        return local_frame(
            self.spark,
            [(opts["table"], out, n)], "table_name string, dest string, n_rows bigint"
        )

    @_command("get table versions", usage="get table versions [where table = ..]  (commit-log history)")
    def _get_table_versions(self, rest):
        # commit-log history of log-backed tables (txlog.py): one row
        # per committed version (Delta `DESCRIBE HISTORY` shape)
        want = _where(rest).get("table")
        rows = []
        for key, tx in sorted(self.tx_tables.items()):
            kind, _, name = key.partition("/")
            # blob-store keys are "dbms.table"; match the short table
            # name as well as the full key
            if want and catalog.view_name(want) not in (name, name.rsplit(".", 1)[-1]):
                continue
            for man in tx.history():
                rows.append(
                    (kind, name, man["version"], man["op"],
                     man["timestamp"], len(man["files"]))
                )
        return local_frame(
            self.spark, rows or [],
            "store string, table_name string, version int, op string, "
            "committed_at string, n_files int",
        )

    @_command("get partitions", usage="get partitions [where table = ..]")
    def _get_partitions(self, rest):
        from edgelake_spark.ingest.partitions import tx_partitions

        table = _where(rest).get("table")
        rows = []
        for name, path in sorted(self.partitioned_paths.items()):
            if table and catalog.view_name(name) != catalog.view_name(table):
                continue
            for bucket in tx_partitions(TxTable(path)):
                rows.append((name, bucket))
        return local_frame(
            self.spark, rows or [], "table_name string, partition string"
        )

    @_command("drop partition", usage="drop partition where table = <table> and date < <YYYY-MM[-DD]>")
    def _drop_partition(self, rest):
        from edgelake_spark.ingest.partitions import drop_partitions_before_tx

        m = _args(r"where\s+table\s*=\s*(\S+)\s+and\s+date\s*<\s*'?([\w-]+)'?", rest)
        if not m:
            return None
        table, cutoff = m.group(1), m.group(2)
        path = self.partitioned_paths[table]
        # the drop is a manifest edit (no file deletes); prior versions
        # still read the buckets
        dropped = drop_partitions_before_tx(TxTable(path), cutoff)
        self.attach_partitioned(table, path)
        return local_frame(
            self.spark, [(b,) for b in dropped] or [], "dropped_partition string"
        )

    @_command("drop table", usage="drop table <table> [where dbms = ..]")
    def _drop_table(self, rest):
        # reference drop table: remove the operator-local table. Drops
        # the view mappings and the table's commit log (the raw sf_dir
        # parquet is immutable input, never deleted).
        m = _args(r"(\S+)(.*)", rest)
        if not m:
            return None
        table, dbms = m.group(1), _where(m.group(2)).get("dbms")
        key = catalog.view_name(table)
        removed = []
        for alias in [table, key] + ([f"{dbms}.{table}"] if dbms else []):
            if self.views.pop(alias, None) is not None:
                removed.append(alias)
        dropped = self._drop_tx("dml", key)
        removed += self._purge_doomed_views({f"__ingest_{key}"})
        self.event_log.add("Event", f"Table {table} dropped")
        return local_frame(
            self.spark, [(table, bool(removed) or dropped)], "table_name string, dropped boolean"
        )

    @_command("test table", usage="test table <table>|* where dbms = <dbms>")
    def _test_table(self, rest):
        # reference member_cmd.py:14816 test_table — ledger schema vs
        # live schema consistency check
        from edgelake_spark import admin

        m = _args(r"(\S+)\s+where\s+dbms\s*=\s*(\S+)", rest)
        if not m:
            return None
        rows = admin.test_table_schema(
            self.spark, self.policy_store, m.group(2), m.group(1), self._resolve
        )
        return local_frame(
            self.spark, rows, "dbms string, table_name string, result string"
        )

    @_command("test node", usage="test node")
    def _test_node(self, rest):
        # reference test_node: validate the node's own services; here
        # the checks are catalog reachability and ledger integrity
        if rest:
            return None
        checks = []
        try:
            n = len(self.spark.catalog.listTables())
            checks.append(("catalog", f"Passed ({n} tables)"))
        except Exception as exc:
            checks.append(("catalog", f"Failed: {exc}"))
        checks.append(("ledger", f"Passed ({len(self.policy_store.policies)} policies)"))
        checks.append(
            ("sql", "Passed" if self.spark.sql("SELECT 1").collect()[0][0] == 1 else "Failed")
        )
        return local_frame(self.spark, checks, "service string, result string")

    @_command("connect dbms", usage="connect dbms <name> where type = .. [and path = <parquet dir>]")
    def _connect_dbms(self, rest):
        # reference member_cmd.py:20899 `connect dbms <name> where type =
        # sqlite/psql/..`: declare a logical dbms. Here every engine type
        # maps to the parquet layer; `path = <dir>` attaches the
        # directory's parquet files as <name>.<table>
        m = _args(r"(\S+)\s+where\s+(.*)", rest)
        if not m:
            return None
        name, opts = m.group(1), _where(m.group(2))
        attached = []
        path = opts.get("path")
        if path:
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet"):
                    t = f[: -len(".parquet")]
                    view = f"__dbms_{name}_{t}"
                    catalog.load_parquet(
                        self.spark, os.path.join(path, f)
                    ).createOrReplaceTempView(view)
                    self.views[f"{name}.{t}"] = view
                    attached.append(t)
        self.connected_dbms[name] = [f"{name}.{t}" for t in attached]
        self.event_log.add("Event", f"DBMS {name} connected")
        return local_frame(
            self.spark, [(name, opts.get("type", "parquet"), len(attached))],
            "dbms string, type string, n_tables int",
        )

    @_command("{} dbms", verbs=("disconnect", "drop"),
              usage="{} dbms <name>  (drop also forgets the managed state and DML commit logs)")
    def _disconnect_dbms(self, rest, verb):
        # disconnect keeps the storage; drop additionally forgets any
        # managed/DML state of the dbms's tables (the raw parquet inputs
        # are immutable and never deleted)
        if not _args(r"\S+", rest):
            return None
        name = rest
        dropped = self.connected_dbms.pop(name, [])
        doomed_views: set[str] = set()
        for qualified in dropped:
            target = self.views.pop(qualified, None)
            # the attach-time temp views are per-dbms; drop them so
            # repeated connect/disconnect cycles don't leak one cached
            # view per table for the session lifetime
            if target and target.startswith(f"__dbms_{name}_"):
                doomed_views.add(target)
        if verb == "drop":
            for qualified in [k for k in self.views if k.startswith(f"{name}.")]:
                # an earlier _drop_tx may already have purged this alias
                target = self.views.pop(qualified, "")
                if target.startswith("__"):  # engine-managed only —
                    # a `create view` alias may target a base table
                    doomed_views.add(target)
                # managed/DML state of this dbms's tables: the commit
                # log is keyed by short name (`dml/<t>`)
                self._drop_tx("dml", catalog.view_name(qualified))
            for key in [k for k in self.tx_tables if k.startswith(f"blobs/{name}.")]:
                self._drop_tx(*key.split("/", 1))
            self.event_log.add("Event", f"DBMS {name} dropped")
        # purge the doomed temp views and every remaining alias (bare
        # short names included) that still points at them
        self._purge_doomed_views(doomed_views)
        return local_frame(
            self.spark, [(name, len(dropped))], "dbms string, n_tables int"
        )

    # -- policies (the node's ledger)

    @_command("blockchain insert", usage="blockchain insert [where policy =] {..}")
    def _blockchain_insert(self, rest):
        import json

        m = re.search(r"policy\s*=\s*(\{.*\})\s*$", rest, re.DOTALL)
        self.policy_store.add(json.loads(m.group(1) if m else rest))
        return local_frame(self.spark, [(len(self.policy_store.policies),)], "policies int")

    @_command("blockchain get", usage="blockchain get <type> [where k = v and ..] [bring[.variant] [paths]]")
    def _blockchain_get(self, rest):
        # reference member_cmd.py:1614 blockchain_get
        import json

        m = _args(r"(\S+)(?:\s+where\s+(.*?))?(?:\s+(bring\b.*))?", rest)
        if not m:
            return None
        ptype, where, bring = m.group(1), m.group(2), m.group(3)
        result = self.policy_store.blockchain_get(
            ptype, _where(where) if where else None, bring
        )
        if bring:
            if isinstance(result, list) and all(isinstance(v, str) for v in result):
                # list-valued bring variants (list / ip_port / sorted
                # projections) render one value per row, matching the
                # reference's line-per-value output
                return local_frame(
                    self.spark, [(v,) for v in result] or [], "result string"
                )
            return local_frame(self.spark, [(str(result),)], "result string")
        return local_frame(
            self.spark, [(json.dumps(p, separators=(",", ":")),) for p in result] or [],
            "policy string",
        )

    @_command("blockchain load", usage="blockchain load <path>")
    def _blockchain_load(self, rest):
        # durable file ledger semantics via PolicyStore.save/load
        from edgelake_spark.policies import PolicyStore

        self.policy_store = PolicyStore.load(rest)
        return local_frame(self.spark, [(len(self.policy_store.policies),)], "policies int")

    @_command("blockchain save", usage="blockchain save <path>")
    def _blockchain_save(self, rest):
        n = self.policy_store.save(rest)
        return local_frame(self.spark, [(n,)], "policies int")

    #: per-type defaults for `create policy … with defaults` (reference
    #: members/policies.py:212 default_values_: ip/internal_ip resolve
    #: through the node dictionary, ports are the reference's fixed
    #: per-role defaults)
    _POLICY_DEFAULTS = {
        "master": (("port", 32048), ("rest_port", 32049)),
        "operator": (("port", 32148), ("rest_port", 32149)),
        "query": (("port", 32348), ("rest_port", 32349)),
        "publisher": (("port", 32248), ("rest_port", 32249)),
    }

    @_command("create policy", usage="create policy <type> [with defaults] [where k = v and ..]")
    def _create_policy(self, rest):
        """`create policy <type> [with defaults] where k = v and …`
        (reference member_cmd.py:12231 create_policy): builds
        ``{type: {k: v}}``; `with defaults` fills the per-role
        ip/port defaults AND inserts into the ledger (id/date stamped
        by PolicyStore.add); without defaults the policy is only
        rendered, so the assignment form `x = create policy …` stores
        the JSON in the node dictionary."""
        import json

        m = _args(r"(\w+)(\s+with\s+defaults)?(?:\s+where\s+(.*))?", rest)
        if not m:
            return None
        ptype, defaults = m.group(1).lower(), bool(m.group(2))
        inner: dict = _where(m.group(3) or "")
        if defaults:
            for key, src in (("ip", "external_ip"), ("internal_ip", "ip")):
                if key not in inner and self.params.get(src):
                    inner[key] = str(self.params[src]).lower()
            for key, value in self._POLICY_DEFAULTS.get(ptype, ()):
                inner.setdefault(key, value)
        policy = {ptype: inner}
        if defaults:
            self.policy_store.add(policy)
            policy = self.policy_store.policies[-1]  # id/date-stamped form
        return local_frame(
            self.spark, [(json.dumps(policy, separators=(",", ":")),)], "policy string"
        )

    @_command("prepare policy", usage="prepare policy <json>  (stamp id/date without insert)")
    def _prepare_policy(self, rest):
        # reference prepares a policy for a later blockchain insert
        import json

        from edgelake_spark.policies.bring import stamp_policy

        stamped = stamp_policy(json.loads(rest))
        body = next(iter(stamped.values()))
        return local_frame(
            self.spark, [(json.dumps(stamped), body.get("id", ""))],
            "policy string, policy_id string",
        )

    @_command("replace policy", usage="replace policy where id = <id> with <json>")
    def _replace_policy(self, rest):
        # drop the old policy, insert the new one
        import json

        m = _args(r"where\s+(.*?)\s+with\s+(.*)", rest)
        if not m:
            raise ValueError("replace policy where id = <id> with <json>")
        old_id = _where(m.group(1), "id")["id"]
        n_removed = self.policy_store.remove_by_id(old_id)
        self.policy_store.add(json.loads(m.group(2)))
        return local_frame(
            self.spark, [(old_id, n_removed)],
            "replaced_id string, n_policies int",
        )

    @_command("drop policy", "delete policy", usage="drop|delete policy where id = <id>")
    def _drop_policy(self, rest):
        # reference drop policy / blockchain delete policy
        pid = _where(rest, "id")["id"]
        n = self.policy_store.remove_by_id(pid)
        return local_frame(self.spark, [(pid, n)], "policy_id string, n_dropped int")

    @_command("config from policy", usage="config from policy where id = <policy id>")
    def _config_from_policy(self, rest):
        # reference config_from_policy: apply a config policy's
        # key-values to the node settings (here: the dictionary, which
        # every later command resolves through `!name`)
        pid = _where(rest, "id")["id"]
        for p in self.policy_store.policies:
            ptype = next(iter(p)) if len(p) == 1 else None
            body = p.get(ptype, {}) if ptype else {}
            if str(body.get("id", "")) == pid:
                applied = []
                for k, v in body.items():
                    if k in ("id", "date"):
                        continue
                    self.params[str(k)] = str(v)
                    applied.append((str(k), str(v)))
                return local_frame(
                    self.spark, applied or [], "key string, value string"
                )
        raise ValueError(f"config from policy: no policy with id {pid}")

    @_command("get data nodes", usage="get data nodes [where company = .. and dbms = .. and table = ..]")
    def _get_data_nodes(self, rest):
        from edgelake_spark.admin import get_data_nodes

        return get_data_nodes(self.spark, self.policy_store, **_meta_filters(rest))

    @_command("get virtual tables", usage="get virtual tables [info] [where company = .. and dbms = .. and table = ..]")
    def _get_virtual_tables(self, rest):
        from edgelake_spark.admin import get_virtual_tables

        return get_virtual_tables(
            self.spark,
            self.policy_store,
            with_info=rest.lower().startswith("info"),
            **_meta_filters(rest),
        )

    # -- node status and queries

    @_command("get status", usage="get status [where format = json and include = <key> ..]")
    def _get_status(self, rest):
        name = self.params.get("node_name", "edgelake-spark")
        if not rest:
            # reference `get status` liveness probe (member_cmd.py:15830
            # reply "<node name> running") — single-engine answer keeps
            # the Spark app coordinates as extra columns
            sc = self.spark.sparkContext
            return local_frame(
                self.spark, [(f"{name} running", sc.appName, sc.master, sc.defaultParallelism)],
                "status string, app string, master string, parallelism int",
            )
        # reference member_cmd.py:15855 get_status where-form: `format =
        # json` returns the status struct with `include =` dictionary
        # pulls. The reference writes `include = !key`; here the
        # engine's global `!name` substitution runs before dispatch, so
        # the bare-key form `include = key` is canonical (a `!key` for
        # an UNDEFINED key also works)
        import json

        if _where(rest).get("format", "json") != "json":
            raise ValueError("Wrong format in 'get status' command (use 'json')")
        reply = {"assigned_name": name, "status": "running"}
        for key in re.findall(r"include\s*=\s*!?(\w+)", rest):
            reply[key] = self.params.get(key, "")
        return json.dumps(reply)

    @_command("get processes", usage="get processes")
    def _get_processes(self, rest):
        # reference get_processes_stat (member_cmd.py:8521): the node's
        # service table with Running / Not declared status. Single-engine
        # equivalents where they exist; networking services stay "Not
        # declared" with the README rationale
        sc = self.spark.sparkContext
        rows = [
            ("Query Pool", "Running", f"SQL engine on {sc.master} ({sc.defaultParallelism} cores)"),
            ("TCP", "Not declared", "single-engine build: no peer networking (README non-goals)"),
            (
                "REST",
                "Running" if self.rest_server else "Not declared",
                f"http://{self.rest_server.host}:{self.rest_server.port}" if self.rest_server else "start via edgelake_spark.api.rest",
            ),
            ("Blockchain Sync", "Not declared", f"local policy ledger ({len(self.policy_store.policies)} policies)"),
        ]
        for sid, sched in sorted(self.schedulers.items()):
            n_tasks = len([t for t in sched.tasks if t.mode != "Removed"])
            rows.append(
                (f"Scheduler {sid}", "Running" if sched.running else "Declared", f"{n_tasks} task(s)")
            )
        if not self.schedulers:
            rows.append(("Scheduler", "Not declared", "run scheduler"))
        mqtt = [t for t, c in self.broker_consumers.items() if c.get("transport") == "mqtt"]
        kafka = [t for t, c in self.broker_consumers.items() if c.get("transport") != "mqtt"]
        rows.append(("MQTT", "Running" if mqtt else "Not declared", ", ".join(sorted(mqtt))))
        rows.append(("Kafka Consumer", "Running" if kafka else "Not declared", ", ".join(sorted(kafka))))
        rows.append(
            ("Streamer", "Running" if self.stream_ingests else "Not declared",
             f"{len(self.stream_ingests)} ingest pipeline(s)" if self.stream_ingests else "")
        )
        rows.append(
            ("Data Monitor", "Running" if self.monitors else "Not declared",
             ", ".join(sorted(self.monitors)) if self.monitors else "")
        )
        rows.append(
            ("Blobs Store", "Running" if self.blob_views else "Not declared",
             f"{len(self.blob_views)} table(s)" if self.blob_views else "")
        )
        op = self.operator
        rows.append(
            ("Operator", "Running" if op else "Not declared",
             f"{op.files_processed} file(s), {op.rows_ingested} row(s)" if op else "")
        )
        arch = self.archiver
        rows.append(
            ("Blobs Archiver", "Running" if arch else "Not declared",
             arch.status() if arch else "")
        )
        return local_frame(
            self.spark, rows, "process string, status string, details string"
        )

    @_command("query status", usage="query status")
    def _query_status(self, rest):
        # reference `query status/explain` (member_cmd.py:21665,
        # _query_status :7332): the source statement and the rewritten
        # local SQL of every logged job
        rows = [
            (e["job_id"], e["statement"], e["rewritten_sql"], e["pass_through"])
            for e in self.query_log
        ]
        return local_frame(
            self.spark, rows or [],
            "job_id bigint, statement string, rewritten_sql string, pass_through boolean",
        )

    @_command("query explain", usage="query explain [<job id>|last]")
    def _query_explain(self, rest):
        # the physical plan of one job: an unknown job id yields an
        # EMPTY result, like `query destination`; any other selector
        # means the latest job
        if rest.isdigit():
            entries = [e for e in self.query_log if e["job_id"] == int(rest)]
        else:
            entries = self.query_log[-1:]
        return local_frame(
            self.spark, [(e["job_id"], self._entry_plan(e)) for e in entries],
            "job_id bigint, plan string",
        )

    @_command("query destination", usage="query destination [all|<job id>]  (storage each job read + scan pruning)")
    def _query_destination(self, rest):
        # reference `query destination [all/ID]` (member_cmd.py:13191
        # get_query_dest): per job, the (Job, Destination, DBMS, Table,
        # Command) rows naming which nodes served the query.
        # Single-engine Spark has no peer nodes; the faithful answer is
        # which STORAGE each job actually read — the file-scan locations
        # from the captured physical plan, with the scan-time pruning
        # predicates (partition + pushed filters) that decided how much
        # of the table was touched.
        sel = rest.lower()
        if sel == "all":
            entries = list(self.query_log)
        elif sel.isdigit():
            # an unknown job id yields an EMPTY result — falling back to
            # the latest entry would silently report a different job's
            # destinations
            entries = [e for e in self.query_log if e["job_id"] == int(sel)]
        else:
            entries = self.query_log[-1:]
        rows = []
        for e in entries:
            for dest in self._plan_destinations(self._entry_plan(e)):
                rows.append(
                    (
                        e["job_id"],
                        dest["location"],
                        e.get("dbms") or "",
                        dest["table"],
                        dest["filters"],
                        e["statement"],
                    )
                )
        return local_frame(
            self.spark, rows or [],
            "job_id bigint, destination string, dbms string, "
            "table_name string, scan_filters string, statement string",
        )

    @_command("get {} log", verbs=tuple(LOG_SIZES), usage="get {} log [where <keyword> ..]")
    def _get_log(self, rest, verb):
        # reference show_events (process_log.py:137): ring contents
        # oldest-first, optional keyword filter over Type and Text
        m = _args(r"(?:where\s+(.*))?", rest)
        if not m:
            return None
        rows = self.event_log.show(verb, (m.group(1) or "").split() or None)
        return local_frame(
            self.spark, rows or [],
            "id long, count long, thread string, time string, "
            "type string, text string",
        )

    @_command("reset {} log", verbs=tuple(LOG_SIZES), usage="reset {} log")
    def _reset_log(self, rest, verb):
        # reference reset_events (process_log.py:201)
        if rest:
            return None
        n = self.event_log.reset(verb)
        return local_frame(
            self.spark, [(verb, n)], "log string, entries_cleared long"
        )

    # -- streaming, brokers and monitors

    @_command("get streaming", usage="get streaming")
    def _get_streaming(self, rest):
        # reference streaming_data.py:713 show_info — flush thresholds +
        # per-stream counters; live micro-batch stats come from Spark's
        # own streaming progress
        from edgelake_spark.streaming.ingest import (
            DEFAULT_MAX_TIME_SEC,
            DEFAULT_MAX_VOLUME_BYTES,
        )

        if rest:
            return None
        rows = [
            ("config", "threshold_time_sec", str(DEFAULT_MAX_TIME_SEC)),
            ("config", "threshold_volume_bytes", str(DEFAULT_MAX_VOLUME_BYTES)),
        ]
        for ing in self.stream_ingests:
            rows.append(
                ("ingest", ing.target_dir, f"flushed_rows={ing.rows_flushed}")
            )
        for topic, cfg in sorted(self.broker_consumers.items()):
            rows.append(
                ("consumer", topic, f"{cfg['topic'].dbms}.{cfg['topic'].table}")
            )
        for q in self.spark.streams.active:
            p = q.lastProgress
            n = p["numInputRows"] if p else 0
            rows.append(("stream", q.name or q.id, f"active input_rows={n}"))
        return local_frame(
            self.spark, rows, "scope string, item string, value string"
        )

    @_command("set streaming condition", "set streaming conditions",
              usage="set streaming condition where dbms = .. and table = .. [and limit = N] if [column] <op> <value> then <action>")
    def _set_streaming_condition(self, rest):
        # reference member_cmd.py:18886 set streaming condition
        from edgelake_spark.streaming.conditions import StreamingCondition

        m = _args(r"where\s+(.*?)\s+(if\s+.*)", rest)
        if not m:
            return None
        opts, rule = _where(m.group(1)), m.group(2)
        key = f"{opts.get('dbms', '')}.{opts.get('table', '*')}"
        cond = StreamingCondition.parse(rule, limit=int(opts.get("limit", 0)))
        self.streaming_conditions.setdefault(key, []).append(cond)
        return local_frame(
            self.spark, [(key, len(self.streaming_conditions[key]) - 1, rule.strip())],
            "table_key string, condition_id int, rule string",
        )

    @_command("get streaming conditions", usage="get streaming conditions [where dbms = .. and table = ..]")
    def _get_streaming_conditions(self, rest):
        flt = _where(rest)
        rows = []
        for key, conds in sorted(self.streaming_conditions.items()):
            dbms, _, table = key.partition(".")
            if _dbms_table_match(flt, dbms, table):
                for i, c in enumerate(conds):
                    rows.append((key, i, c.column, c.op, c.value, c.action, c.limit))
        return local_frame(
            self.spark, rows or [],
            "table_key string, condition_id int, column string, op string, "
            "value string, action string, limit int",
        )

    @_command("reset streaming condition", "reset streaming conditions",
              usage="reset streaming condition where dbms = .. and table = .. [and id = N ..]")
    def _reset_streaming_condition(self, rest):
        # reference member_cmd.py:18743 reset streaming condition
        opts = _where(rest)
        ids = [int(v) for v in re.findall(r"\bid\s*=\s*(\d+)", rest, re.IGNORECASE)]
        key = f"{opts.get('dbms', '')}.{opts.get('table', '*')}"
        removed = 0
        if key in self.streaming_conditions:
            if ids:
                conds = self.streaming_conditions[key]
                self.streaming_conditions[key] = [
                    c for i, c in enumerate(conds) if i not in ids
                ]
                removed = len(conds) - len(self.streaming_conditions[key])
            else:
                removed = len(self.streaming_conditions.pop(key))
        return local_frame(self.spark, [(removed,)], "removed int")

    @_command("data monitor", usage="data monitor where dbms = .. and table = .. [and intervals = N]"
              " [and time = N second|minute|hour] [and value_column = ..]")
    def _data_monitor(self, rest):
        # reference data_monitor.py:16-20 `data monitor where dbms=..
        # and intervals=N and time=K unit and value_column=v`
        from edgelake_spark.streaming.monitor import DataMonitor

        opts = dict(
            re.findall(
                r"\b(dbms|table|intervals|time|value_column)\s*=\s*"
                r"(\S+(?:\s+(?!and\b)\w+)?)",
                rest,
                re.IGNORECASE,
            )
        )
        tm = re.match(r"(\d+)(?:\s+(\w+))?", opts.get("time", "1 minute"))
        secs = int(tm.group(1)) * {"second": 1, "minute": 60, "hour": 3600}.get(
            (tm.group(2) or "minute").rstrip("s"), 60
        )
        key = f"{opts.get('dbms', '')}.{opts.get('table', '*')}"
        self.monitors[key] = DataMonitor(
            value_column=opts.get("value_column", "value"),
            intervals=int(opts.get("intervals", 10)),
            interval_seconds=secs,
        )
        return local_frame(
            self.spark, [(key, int(opts.get("intervals", 10)), secs)],
            "table_key string, intervals int, interval_seconds int",
        )

    @_command("get data monitor", usage="get data monitor [where dbms = .. and table = ..]")
    def _get_data_monitor(self, rest):
        flt = _where(rest)
        rows = []
        for key, mon in sorted(self.monitors.items()):
            dbms, _, table = key.partition(".")
            if _dbms_table_match(flt, dbms, table):
                for s in mon.snapshot():
                    rows.append(
                        (key, s["interval"], s["count"], s["min"], s["max"], s["sum"])
                    )
        return local_frame(
            self.spark, rows or [],
            "table_key string, interval int, count bigint, min double, max double, sum double",
        )

    @_command("run {}", verbs=("kafka consumer", "mqtt client", "msg client"),
              usage="run {} where ip|broker = .. [and port = .. and reset = ..] and topic ="
              ' (name = .. and dbms = .. and table = .. and column.<name>.<type> = "bring [..]" ..)')
    def _run_consumer(self, rest, verb):
        # registers the consumer config; BrokerConsumer.start runs the
        # stream. `run msg client` (member_cmd.py:21408 — the
        # reference's current name), its older `run mqtt client`
        # spelling (mqtt_client.py:2128) and `run kafka consumer`
        # (member_cmd.py:21481) share the same topic→bring mapping
        # semantics, so one parser serves all three; the transport kind
        # is kept so BrokerConsumer picks the MQTT socket subscriber
        # (streaming/mqtt.py) vs the Kafka source.
        from edgelake_spark.streaming.broker import parse_kafka_consumer_command

        cfg = parse_kafka_consumer_command(rest)
        cfg["transport"] = "kafka" if verb.startswith("kafka") else "mqtt"
        # attach any conditions/monitor registered for the target table,
        # so the consumer topology picks them up at start
        tkey = f"{cfg['topic'].dbms}.{cfg['topic'].table}"
        cfg["conditions"] = self.streaming_conditions.get(tkey, [])
        cfg["monitor"] = self.monitors.get(tkey)
        self.broker_consumers[cfg["topic"].name] = cfg
        return local_frame(
            self.spark, [(cfg["topic"].name, f"{cfg['ip']}:{cfg['port']}", cfg["reset"])],
            "topic string, bootstrap string, reset string",
        )

    @_command("run message broker", usage="run message broker [where internal_ip = .. and internal_port = .. and protocol = mqtt|kafka]")
    def _run_message_broker(self, rest):
        # reference member_cmd.py:21457 `run message broker where
        # internal_ip/internal_port`: the node's local broker that MQTT
        # devices publish into (tcpip/message_server.py). Here it starts
        # the real-framing broker doubles — MQTT 3.1.1 and Kafka wire
        # protocol — so `run kafka consumer` / `run mqtt client`
        # round-trip over genuine sockets.
        opts = _where(rest)
        host = opts.get("internal_ip", opts.get("ip", "127.0.0.1"))
        port = int(opts.get("internal_port", opts.get("port", 0)))
        proto = opts.get("protocol", "mqtt").lower()
        if proto == "kafka":
            from edgelake_spark.streaming.kafka import KafkaBroker

            broker = KafkaBroker(host, port).start()
        else:
            from edgelake_spark.streaming.mqtt import MqttBroker

            broker = MqttBroker(host, port).start()
        self.message_brokers.append(broker)
        self.event_log.add("Event", f"Message broker declared ({proto})")
        return local_frame(
            self.spark, [(proto, broker.host, broker.port)],
            "protocol string, ip string, port int",
        )

    @_command("run rest server", usage="run rest server [where internal_ip = .. and internal_port = .. and user = .. and password = .. and token = ..]")
    def _run_rest_server(self, rest):
        # reference member_cmd.py:21323 `run rest server where
        # internal_ip = .. and internal_port = .. [user/password]`; SSL
        # termination is a deployment-proxy concern here
        from edgelake_spark.api.rest import EdgeLakeRestServer

        opts = _where(rest)
        basic = None
        if "user" in opts or "password" in opts:
            basic = (opts.get("user", ""), opts.get("password", ""))
        server = EdgeLakeRestServer(
            self,
            host=opts.get("internal_ip", opts.get("ip", "127.0.0.1")),
            port=int(opts.get("internal_port", opts.get("port", 0))),
            auth_token=opts.get("token"),
            basic_auth=basic,
        ).start()
        self.event_log.add("Event", "REST server declared")
        return local_frame(
            self.spark,
            [(server.host, server.port, basic is not None or bool(opts.get("token")))],
            "ip string, port int, auth boolean",
        )

    @_command("stream", usage="stream <json row or array> where dbms = .. and table = ..")
    def _stream(self, rest):
        # reference stream_data (`stream [json] where dbms = .. and table
        # = ..`): push rows into the table's ingest buffer — the
        # command-line door into the same path REST PUT uses (rows
        # type-inferred, unioned into the __ingest_<table> view the
        # query layer resolves)
        import json

        from edgelake_spark.ingest.infer import rows_to_dataframe

        m = _args(r"(\{.*\}|\[.*\])\s+where\s+(.*)", rest)
        if not m:
            return None
        opts = _where(m.group(2), "table")
        payload = json.loads(m.group(1))
        rows = payload if isinstance(payload, list) else [payload]
        name = self.ingest(
            opts["table"], len(rows),
            lambda first: rows_to_dataframe(self.spark, rows, first_row_id=first),
            dbms=opts.get("dbms", ""),
        )
        return local_frame(
            self.spark, [(len(rows), name)], "ingested int, table string"
        )

    @_command("flush buffers", usage="flush buffers")
    def _flush_buffers(self, rest):
        # reference flush_memory_buffs: force buffered streaming data to
        # disk ignoring thresholds → drain every active Structured
        # Streaming query + one operator/archiver tick
        if rest:
            return None
        drained = 0
        for q in self.spark.streams.active:
            try:
                q.processAllAvailable()
                drained += 1
            except Exception:  # a dying query must not block a flush
                continue
        for holder in (self.operator, self.archiver):
            if holder is not None:
                try:
                    holder.process_once()
                    drained += 1
                except Exception:  # same policy as the queries: a
                    continue       # broken watch dir must not block
        self.event_log.add("Event", "Buffers flushed")
        return local_frame(self.spark, [(drained,)], "flushed int")

    @_command("monitor", usage="monitor <topic> where ip = .. and name = .. and info = {json}")
    def _monitor(self, rest):
        # reference monitor.monitor_info (`monitor <topic> where ip = ..
        # and name = .. and info = {json}`): nodes push status structs
        # per topic; `get monitored [topic]` reads them back with the
        # update time
        import json

        m = _args(r"(\w+)\s+where\s+(.*?)\binfo\s*=\s*(\{.*\})", rest)
        if not m:
            raise ValueError("monitor: info = {json} is required")
        topic, opts, info = m.group(1).lower(), _where(m.group(2)), json.loads(m.group(3))
        node = opts.get("name") or opts.get("ip") or "local"
        if opts.get("name") and opts.get("ip"):
            node = f"{opts['name']}@{opts['ip']}"
        stamp = (self.now or datetime.now()).strftime("%Y-%m-%d %H:%M:%S")
        self.monitor_status.setdefault(topic, {})[node] = {
            **info,
            "Update time": stamp,
        }
        return local_frame(
            self.spark, [(topic, node, len(info))], "topic string, node string, n_keys int"
        )

    @_command("get monitored", usage="get monitored [<topic>]")
    def _get_monitored(self, rest):
        import json

        if not rest:
            return local_frame(
                self.spark, [(t,) for t in sorted(self.monitor_status)] or [], "topic string"
            )
        topic = rest.lower()
        if topic not in self.monitor_status:
            raise ValueError(f"get monitored: topic not monitored: {topic}")
        rows = [
            (node, json.dumps(info, separators=(",", ":")))
            for node, info in sorted(self.monitor_status[topic].items())
        ]
        return local_frame(self.spark, rows, "node string, info string")

    # -- operator, archiver and blobs

    @_command("run operator", usage="run operator where watch_dir = .. [and err_dir = .. and archive_dir = ..]"
              " [and create_table|update_tsd_info|archive_json|compress_json = true|false]")
    def _run_operator(self, rest):
        # reference member_cmd.py:21740 / members/aloperator.py:
        # watch-dir → table ingest loop; tick-driven here
        from edgelake_spark.ingest.operator import OperatorNode

        opts = _where(rest, "watch_dir")
        self.operator = OperatorNode(
            engine=self,
            watch_dir=opts["watch_dir"],
            err_dir=opts.get("err_dir", os.path.join(opts["watch_dir"], "..", "err")),
            archive_dir=opts.get(
                "archive_dir", os.path.join(opts["watch_dir"], "..", "archive")
            ),
            create_table=_flag(opts, "create_table", True),
            update_tsd_info=_flag(opts, "update_tsd_info", True),
            archive_json=_flag(opts, "archive_json", True),
            compress_json=_flag(opts, "compress_json", True),
        )
        self.event_log.add("Event", "Operator declared")
        return local_frame(
            self.spark,
            [(opts["watch_dir"], self.operator.create_table, self.operator.update_tsd_info)],
            "watch_dir string, create_table boolean, update_tsd_info boolean",
        )

    @_command("get operator", usage="get operator")
    def _get_operator(self, rest):
        if rest:
            return None
        if self.operator is None:
            raise ValueError("no operator is running")
        return local_frame(
            self.spark, [self.operator.status()],
            "files_processed bigint, files_errored bigint, rows_ingested bigint, last_error string",
        )

    @_command("run blobs archiver", usage="run blobs archiver where bwatch_dir = .. and blobs_dir = .."
              " and archive_dir = .. [and dbms|folder|compress|reuse_blobs = true|false]")
    def _run_blobs_archiver(self, rest):
        # reference alarchiver.data_archiver flags (member_cmd: `run
        # blobs archiver where dbms = true and folder = true and
        # compress = false and reuse_blobs = true`); tick-driven here
        # (archiver.process_once()) like the task scheduler
        from edgelake_spark.ingest.archiver import BlobArchiver

        opts = _where(rest, "bwatch_dir", "blobs_dir", "archive_dir")
        self.archiver = BlobArchiver(
            engine=self,
            bwatch_dir=opts["bwatch_dir"],
            blobs_dir=opts["blobs_dir"],
            archive_dir=opts["archive_dir"],
            watch_dir=opts.get(
                "watch_dir", os.path.join(opts["archive_dir"], "..", "watch")
            ),
            err_dir=opts.get(
                "err_dir", os.path.join(opts["archive_dir"], "..", "err")
            ),
            update_dbms=_flag(opts, "dbms", True),
            archive_folder=_flag(opts, "folder", True),
            compress=_flag(opts, "compress", True),
            reuse_blobs=_flag(opts, "reuse_blobs", False),
        )
        self.event_log.add("Event", "Blobs archiver declared")
        return local_frame(
            self.spark, [(self.archiver.status(),)], "archiver string"
        )

    @_command("get archived files", usage="get archived files [YYYY-MM-DD]")
    def _get_archived_files(self, rest):
        if not _args(r"[\d-]*", rest):
            return None
        if self.archiver is None:
            raise ValueError("no blobs archiver is running")
        rows = self.archiver.archived_files(rest or None)
        return local_frame(
            self.spark, rows or [],
            "archive_date string, file_name string, n_bytes bigint, compressed boolean",
        )

    @_command("delete archive", usage="delete archive where days = N")
    def _delete_archive(self, rest):
        # reference member_cmd.py:17312: drop archive day dirs older
        # than N days (applies to both archivers' trees)
        from datetime import timedelta

        from edgelake_spark.ingest.operator import delete_archive_before

        days = int(_where(rest, "days")["days"])
        key = ((self.now or datetime.utcnow()) - timedelta(days=days)).strftime("%y%m%d")
        cutoff = (key[0:2], key[2:4], key[4:6])
        deleted = []
        for holder in (self.archiver, self.operator):
            if holder is not None:
                deleted += delete_archive_before(holder.archive_dir, cutoff)
        return local_frame(
            self.spark, [(d,) for d in sorted(set(deleted))] or [], "deleted_day string"
        )

    @_command("create work directories", usage="create work directories [where root = <dir>]")
    def _create_work_directories(self, rest):
        # reference utils_io._create_anylog_dirs: the operator node's
        # standard directory tree; root defaults to the engine work dir
        # so a durable node gets its dirs beside the commit logs
        root = _where(rest).get("root") or self._work_dir()
        names = ("watch", "bwatch", "blobs", "archive", "err", "data", "scripts")
        made = []
        for n in names:
            p = os.path.join(root, n)
            os.makedirs(p, exist_ok=True)
            self.params[f"{n}_dir"] = p  # !watch_dir etc. resolve
            made.append(p)
        return local_frame(
            self.spark, [(n, p) for n, p in zip(names, made)], "name string, path string"
        )

    @_command("file store", usage="file store where [dbms = .. and] table = .. and file = .. [and hash = .. and ignore = true]")
    def _file_store(self, rest):
        """`file store where dbms = X and table = Y [and hash = H] and
        file = PATH` — insert a file into the blobs store keyed by
        content hash (reference member_cmd.py:19225-19234 file_store,
        bucket_dbms.py:110 store_file; duplicate-hash handling
        bucket_dbms.py:205-214)."""
        from edgelake_spark.functions import multimodal

        self.event_log.add("File", f"file store {rest}")
        opts = _where(rest, "table", "file")
        dbms, table = opts.get("dbms", ""), opts["table"]
        row = multimodal.file_to_blob_row(opts["file"], opts.get("hash"))
        hashes = self.blob_rows.setdefault((dbms, table), set())
        if row[0] in hashes:
            # reference: duplicate key is an error unless
            # ignore_duplicate (multiple rows may point at one blob)
            if _flag(opts, "ignore", False):
                return local_frame(
                    self.spark, [(dbms, table, row[0], row[4], False)],
                    "dbms string, table_name string, blob_hash string, n_bytes bigint, stored boolean",
                )
            raise ValueError(f"duplicate blob hash {row[0]} in {dbms}.{table}")
        # each store is an atomic O(1 blob) append commit; the view reads
        # the committed parquet executor-side, so the driver keeps only
        # the hash, never the content bytes
        self.blob_views[(dbms, table)] = self._append(
            "blobs", f"{dbms}.{table}",
            local_frame(self.spark, [row], schema=multimodal.BLOB_SCHEMA),
        )
        hashes.add(row[0])
        return local_frame(
            self.spark, [(dbms, table, row[0], row[4], True)],
            "dbms string, table_name string, blob_hash string, n_bytes bigint, stored boolean",
        )

    @_command("file retrieve", usage="file retrieve where [dbms = .. and] table = .."
              " [and hash = .. and name = .. and version = .. and limit = N] [and dest = ..]")
    def _file_retrieve(self, rest):
        """`file retrieve where dbms = X and table = Y and hash = H and
        dest = PATH` (also `name = <source name>`, `limit = n`) — write
        matching blob content to dest (reference member_cmd.py:19377,
        bucket_dbms.py:220 retrieve_files: hash/name are unique keys →
        one file; otherwise dest is a directory)."""
        self.event_log.add("File", f"file retrieve {rest}")
        opts = _where(rest)
        dbms, table = opts.get("dbms", ""), opts.get("table", "")
        view = self.blob_views.get((dbms, table))
        if view is None:
            raise ValueError(f"no blobs stored for {dbms}.{table}")
        if opts.get("version"):
            # time-travel retrieve: the same commit-log versioning the
            # DML layer exposes
            df = self._tx_table("blobs", f"{dbms}.{table}").read(
                self.spark, version=int(opts["version"])
            )
        else:
            df = self.spark.table(view)
        unique_key = False
        if opts.get("hash"):
            df = df.filter(F.col("blob_hash") == opts["hash"])
            unique_key = True
        if opts.get("name"):
            df = df.filter(F.col("source_name") == opts["name"])
            unique_key = True
        # no unique key → whole-table export: cap at RETRIEVE_CAP by
        # default so a many-blob table cannot OOM the driver; an explicit
        # `limit = n` overrides (still bounded by the user's number)
        limit = int(opts.get("limit", 1 if unique_key else self.RETRIEVE_CAP))
        if limit:
            df = df.limit(limit)
        dest = opts.get("dest", "")
        out = []
        # toLocalIterator: one partition of blob rows in driver memory at
        # a time, not the whole (capped) result set at once. The one-row
        # look-ahead decides file-vs-directory dest: exactly one result
        # and a non-directory dest → write that file; otherwise dest is
        # a directory with one file per blob (the pre-cap behavior).
        it = df.toLocalIterator()
        first = next(it, None)
        second = next(it, None) if first is not None else None

        def rows():
            if first is not None:
                yield first
            if second is not None:
                yield second
            yield from it

        single_dest = bool(
            first is not None and second is None and dest and not os.path.isdir(dest)
        )
        for r in rows():
            if single_dest:
                path = dest
            else:  # multiple files (or dest is a dir): one file per blob
                os.makedirs(dest or ".", exist_ok=True)
                path = os.path.join(dest or ".", r.source_name)
            with open(path, "wb") as f:
                f.write(bytes(r.content))
            out.append((r.blob_hash, r.source_name, r.n_bytes, path))
        return local_frame(
            self.spark,
            out or [], "blob_hash string, source_name string, n_bytes bigint, dest string"
        )

    @_command("get files count", usage="get files count [where dbms = .. and table = ..]")
    def _get_files_count(self, rest):
        flt = _where(rest)
        rows = [
            (dbms, table, len(self.blob_rows.get((dbms, table), ())))
            for dbms, table in sorted(self.blob_views)
            if _dbms_table_match(flt, dbms, table)
        ]
        return local_frame(
            self.spark, rows or [], "dbms string, table_name string, n_files bigint"
        )

    # -- time file: TSD provenance (see edgelake_spark/tsd.py; reference
    # member_cmd.py:18540). The entries are what the tsd_name/tsd_id
    # system columns on ingested rows point back to.

    _TSD_SCHEMA = (
        "tsd_table string, row_id int, dbms string, table_name string, "
        "source string, hash string, instructions string, file_time string, "
        "file_name string, status1 string, status2 string"
    )

    def _tsd_frame(self, entries):
        rows = [
            (
                e.table, e.row_id, e.dbms, e.table_name, e.source,
                e.hash, e.instructions, e.file_time, e.file_name,
                e.status1, e.status2,
            )
            for e in entries
        ]
        return local_frame(self.spark, rows or [], self._TSD_SCHEMA)

    @_command("time file rename", usage="time file rename <path> to dbms = .. and table = .. [and source = .. and hash = .. and instructions = ..]")
    def _time_file_rename(self, rest):
        from edgelake_spark import tsd

        m = _args(r"(\S+)\s+to\s+(.*)", rest)
        if not m:
            raise ValueError("time file rename <path> to dbms = .. and table = ..")
        opts = _where(m.group(2), "dbms", "table")
        new_path = tsd.rename_to_convention(
            m.group(1),
            opts["dbms"],
            opts["table"],
            source=opts.get("source", "0"),
            hash_value=opts.get("hash"),
            instructions=opts.get("instructions", "0"),
            now=self.now,
        )
        return local_frame(self.spark, [(new_path,)], "file string")

    @_command("time file {}", verbs=("new", "add"), usage="time file {} <file name> [status1] [status2]")
    def _time_file_new(self, rest, verb):
        # `add` registers a file that must exist; `new` only its name
        import shlex

        parts = shlex.split(rest)
        if not parts:
            raise ValueError(f"time file {verb} [file name] [status1] [status2]")
        fname = parts[0]
        if verb == "add" and not os.path.exists(fname):
            raise ValueError(f"time file add: file does not exist: {fname}")
        entry = self.tsd().register(
            fname,
            status1=parts[1] if len(parts) > 1 else "",
            status2=parts[2] if len(parts) > 2 else "",
        )
        return self._tsd_frame([entry])

    @_command("time file update", usage="time file update <hash> [status1] [status2]")
    def _time_file_update(self, rest):
        import shlex

        parts = shlex.split(rest)
        if not parts:
            raise ValueError("time file update [hash] [status1] [status2]")
        n = self.tsd().update(
            parts[0],
            parts[1] if len(parts) > 1 else None,
            parts[2] if len(parts) > 2 else None,
        )
        return local_frame(self.spark, [(n,)], "updated int")

    @_command("time file get", usage="time file get [where k = v and ..]")
    def _time_file_get(self, rest):
        flt = _where(rest)
        entries = [
            e
            for e in self.tsd().entries
            if all(
                str(getattr(e, {"table": "table_name"}.get(k, k), "")) == v
                for k, v in flt.items()
            )
        ]
        return self._tsd_frame(entries)

    @_command("time file delete", usage="time file delete <row id> from <tsd table>")
    def _time_file_delete(self, rest):
        m = _args(r"(\d+)\s+from\s+(\S+)", rest)
        if not m:
            raise ValueError("time file delete [row id] from [tsd table]")
        n = self.tsd().delete(int(m.group(1)), m.group(2))
        return local_frame(self.spark, [(n,)], "deleted int")

    @_command("time file drop", usage="time file drop [<tsd table>|all]")
    def _time_file_drop(self, rest):
        n = self.tsd().drop(rest or "all")
        return local_frame(self.spark, [(n,)], "dropped int")

    @_command("generate insert from json", usage="generate insert from json where dbms_name = .. and table_name = .. and json_file = .. [and sql_dir = ..]")
    def _generate_insert(self, rest):
        """`generate insert from json where dbms_name = .. and
        table_name = .. and json_file = .. [and sql_dir = ..]`
        (reference member_cmd.py _map_json_to_insert /
        json_to_sql/map_json_to_insert.py): each JSON-lines row becomes
        an INSERT statement, typed by the same inference lattice as
        `admin.suggest_create`; `sql_dir` also writes the .sql file the
        reference drops for its SQL loader."""
        import json

        from edgelake_spark.ingest.infer import infer_schema

        opts = _where(rest, "dbms_name", "table_name", "json_file")
        with open(opts["json_file"]) as fh:
            rows = [json.loads(ln) for ln in fh if ln.strip()]
        if not rows:
            raise ValueError("generate insert from json: empty json file")
        schema = infer_schema(rows)
        target = f"{opts['dbms_name']}.{opts['table_name']}"
        stmts = []
        for row in rows:
            cols, vals = [], []
            for col, el_type in schema.items():
                if col not in row or row[col] is None:
                    continue
                cols.append(col)
                v = row[col]
                if el_type in ("INT", "BIGINT", "FLOAT", "DECIMAL", "BOOLEAN"):
                    vals.append(str(v).lower() if el_type == "BOOLEAN" else str(v))
                else:
                    vals.append("'" + str(v).replace("'", "''") + "'")
            stmts.append(
                f"INSERT INTO {target} ({', '.join(cols)}) VALUES ({', '.join(vals)});"
            )
        if opts.get("sql_dir"):
            base = os.path.splitext(os.path.basename(opts["json_file"]))[0]
            path = os.path.join(opts["sql_dir"], base + ".sql")
            os.makedirs(opts["sql_dir"], exist_ok=True)
            with open(path, "w") as fh:
                fh.write("\n".join(stmts) + "\n")
        return local_frame(
            self.spark, [(s,) for s in stmts], "insert_statement string"
        )

    # -- node dictionary and script values

    @_command("set", usage="set <name> = <value>  (empty value removes the key)")
    def _set(self, rest):
        # node dictionary write (reference params.add_param,
        # params.py:231): empty value removes the key
        m = _args(r"([A-Za-z_]\w*)\s*=\s*(.*)", rest)
        if not m:
            return None
        key, value = m.group(1), _strip_quotes(m.group(2))
        if value:
            self.params[key] = value
            action = "set"
        else:
            self.params.pop(key, None)
            action = "removed"
        return local_frame(
            self.spark, [(key, value, action)], "key string, value string, action string"
        )

    @_command("get dictionary", usage="get dictionary")
    def _get_dictionary(self, rest):
        # reference member_cmd.py:17191 `get dictionary`
        return local_frame(
            self.spark, sorted(self.params.items()) or [], "key string, value string"
        )

    @_command("echo", usage="echo <message>")
    def _echo(self, rest):
        # reference _echo (member_cmd.py:7484): write a message to the
        # node console/echo queue — the scheduler examples use `task echo
        # "..."`; here the message is the result row
        msg = _strip_quotes(rest)
        self.event_log.add("Event", msg)
        return local_frame(self.spark, [(msg,)], "echo string")

    @_command("print", usage="print <text with !name substitution>")
    def _print(self, rest):
        # reference _print (member_cmd.py `print` command): console
        # output with `!name` dictionary substitution — `run` already
        # resolved known keys
        return local_frame(self.spark, [(_strip_quotes(rest),)], "print string")

    @_command("incr", usage="incr <int operand> [value]  (assignment form: x = incr !x 2)")
    def _incr(self, rest):
        # reference _incr (member_cmd.py:12305): treat the operand as an
        # integer, add the value (default 1). Scripts use the assignment
        # form `x = incr !x 2`; `!x` resolves before this handler, so
        # the operand arrives as a numeric string.
        m = _args(r"(\S+)(?:\s+(-?\d+))?", rest)
        if not m:
            return None
        try:
            base = int(m.group(1))
        except ValueError:
            raise ValueError(f"incr: operand is not an integer: {m.group(1)!r}")
        return local_frame(
            self.spark, [(base + int(m.group(2) or 1),)], "incr bigint"
        )

    @_command("json", usage="json <object> [test]")
    def _json(self, rest):
        # reference _to_json (`json [obj] [test]`): validate a JSON
        # structure (dictionary `!name`s already substituted). `test`
        # returns true/false; the plain form returns the normalized JSON
        # string (assignment form `cluster = json !my_policy` stores it).
        import json

        m = _args(r"(.*?)(\s+test)?", rest)
        payload, is_test = m.group(1).strip(), bool(m.group(2))
        try:
            normalized = json.dumps(json.loads(payload), separators=(",", ":"))
        except ValueError:
            if is_test:
                return local_frame(self.spark, [("false",)], "json string")
            raise ValueError(f"json: not a valid JSON structure: {payload[:80]!r}")
        return local_frame(
            self.spark, [("true" if is_test else normalized,)], "json string"
        )

    @_command("python", usage="python <pure expression>  (sandboxed: no builtins/imports)")
    def _python(self, rest):
        # reference _python: evaluate a Python expression over
        # dictionary values (`new_dir = python !watch_dir.rsplit(…)`) —
        # here SANDBOXED to pure expressions: no builtins, no dunder
        # access, str/int/float/len/min/max/abs/round only (the
        # reference eval()s arbitrary code; an analytics engine should
        # not)
        if not rest:
            return None
        if "__" in rest or "import" in rest:
            raise ValueError("python: only pure expressions are allowed")
        safe = {
            "__builtins__": {},
            "str": str, "int": int, "float": float, "len": len,
            "min": min, "max": max, "abs": abs, "round": round,
        }
        try:
            value = eval(rest, safe, {})  # noqa: S307 — sandboxed above
        except Exception as exc:
            raise ValueError(f"python: {exc}")
        return local_frame(self.spark, [(str(value),)], "python string")

    @_command("from", usage='from <json> bring [paths] "literals" [separator = ..]')
    def _from(self, rest):
        # reference _execute_from (`from [json] bring [paths] …`): the
        # bring language over an arbitrary JSON object — the scripts'
        # standard way to pull fields out of a policy variable
        # (`ip_port = from !selected_operator bring ['operator']['ip']
        # ":" ['operator']['port']`). Reuses the ledger's bring
        # evaluator on a one-object list.
        import json

        m = _args(r"(\{.*\})\s+(bring\b.*)", rest)
        if not m:
            return None
        result = self.policy_store.run_bring([json.loads(m.group(1))], m.group(2), "*")
        if isinstance(result, list):
            result = "".join(str(v) for v in result)
        return local_frame(self.spark, [(str(result),)], "from string")

    @_command("help", usage="help [command prefix]")
    def _help(self, rest):
        # reference _print_help (`help [prefix]`): command inventory
        # with usage strings, filtered by prefix
        prefix = " ".join(rest.lower().split())
        rows = [
            (" ".join(key), usage)
            for key, (usage, _) in _COMMANDS.items()
            if " ".join(key).startswith(prefix)
        ]
        return local_frame(self.spark, rows or [], "command string, usage string")

    # -- scheduler and scripts (reference member_cmd.py:11961 `run
    # scheduler`, :11996 `schedule`, :12070 task ops, :16011 `get
    # scheduler`, :13318 `process <file>`)

    @_command("run scheduler", usage="run scheduler [<id>]")
    def _run_scheduler(self, rest):
        if not _args(r"\d*", rest):
            return None
        sched = self._get_scheduler(int(rest or 1))
        already = sched.running
        if not already and self.scheduler_wake_seconds > 0:
            sched.start(self.scheduler_wake_seconds)
        return local_frame(
            self.spark, [(sched.sched_id, "already running" if already else "started")],
            "scheduler_id int, status string",
        )

    @_command("exit scheduler", usage="exit scheduler [<id>]")
    def _exit_scheduler(self, rest):
        if not _args(r"\d*", rest):
            return None
        sched_id = int(rest or 1)
        sched = self.schedulers.get(sched_id)
        if sched:
            sched.stop()
        return local_frame(
            self.spark, [(sched_id, "stopped" if sched else "not running")],
            "scheduler_id int, status string",
        )

    @_command("get scheduler", usage="get scheduler [<id>]")
    def _get_scheduler_tasks(self, rest):
        if not _args(r"\d*", rest):
            return None
        rows = []
        for sid, sched in sorted(self.schedulers.items()):
            if not rest or sid == int(rest):
                rows.extend(sched.snapshot())
        return local_frame(
            self.spark, rows or [],
            "scheduler_id int, task_id int, mode string, name string, "
            "run_counter bigint, run_status string, start_time string, "
            "repeat_seconds bigint, task string",
        )

    @_command("schedule", usage="schedule time = <interval> [and name = .. and scheduler = N and start = ..] task <command>")
    def _schedule(self, rest):
        from edgelake_spark.scheduler import parse_interval_seconds

        m = _args(r"(.*?)\s+task\s+(.+)", rest)
        if not m:
            return None
        conds, opts = m.group(1), _where(m.group(1))
        # the interval may carry a unit word: `time = 10 seconds`
        tm = re.search(r"\btime\s*=\s*(\d+\s*[a-zA-Z]*)", conds, re.IGNORECASE)
        if not tm:
            raise ValueError("schedule: missing time = <interval>")
        sched = self._get_scheduler(int(opts.get("scheduler", 1)))
        task = sched.add_task(
            m.group(2).strip(),
            parse_interval_seconds(tm.group(1)),
            name=opts.get("name"),
            start=opts.get("start"),
        )
        return local_frame(
            self.spark, [(sched.sched_id, task.task_id, task.name or "", task.repeat_seconds)],
            "scheduler_id int, task_id int, name string, repeat_seconds bigint",
        )

    @_command("task {}", verbs=("stop", "resume", "remove", "init", "run"), usage="task {} where [scheduler = N and] name = .. | id = ..")
    def _task(self, rest, verb):
        opts = _where(rest)
        if ("name" in opts) == ("id" in opts):
            raise ValueError("task: provide exactly one of name= or id=")
        sched = self._get_scheduler(int(opts.get("scheduler", 1)))
        task = sched.change_mode(
            verb,
            name=opts.get("name"),
            task_id=int(opts["id"]) if "id" in opts else None,
            start=opts.get("start"),
        )
        return local_frame(
            self.spark, [(sched.sched_id, task.task_id, task.name or "", task.mode)],
            "scheduler_id int, task_id int, name string, mode string",
        )

    @_command("event", usage="event <name> [args..]  (name resolves to a script via the dictionary)")
    def _event(self, rest):
        # reference _event_trigger: an event name resolves through the
        # node dictionary to a script file, which runs with the event's
        # arguments as positional values
        import shlex

        m = _args(r"(\S+)(?:\s+(.*))?", rest)
        if not m:
            return None
        script = self.params.get(m.group(1))
        if not script:
            raise ValueError(f"Missing script for event: {m.group(1)}")
        args = " ".join(shlex.split(m.group(2))) if m.group(2) else ""
        return self.run(f"process {script} {args}".strip())

    @_command("process", usage="process <script file> [values..]  (script lines may also use wait <seconds> [for <condition>])")
    def _process(self, rest):
        from edgelake_spark.script import run_script_file

        m = _args(r"(\S+)(?:\s+(.*))?", rest)
        if not m or not (m.group(1).startswith(("/", "./", "~")) or "." in m.group(1)):
            return None  # not a script path
        values = m.group(2).split() if m.group(2) else None
        result = run_script_file(self.run, m.group(1), values=values, variables=self.params)
        if result.error:
            raise RuntimeError(f"script failed: {result.error}")
        rows = [(ln, cmd, type(r).__name__) for ln, cmd, r in result.executed]
        return local_frame(
            self.spark, rows or [], "line int, command string, result_type string"
        )

    def _get_scheduler(self, sched_id: int):
        """Lazily create the task scheduler for an id (reference
        task_scheduler.set_scheduler)."""
        from edgelake_spark.scheduler import TaskScheduler

        if sched_id not in self.schedulers:
            self.schedulers[sched_id] = TaskScheduler(
                sched_id, runner=self.run, clock=(lambda: self.now) if self.now else None
            )
        return self.schedulers[sched_id]

    # ------------------------------------------------------ table store

    def _work_dir(self) -> str:
        if self._work_dir_path is None:
            import atexit
            import tempfile

            self._work_dir_path = tempfile.mkdtemp(prefix="edgelake_tx_")
            # engines given no work_dir own their throwaway dir: reclaim
            # it at interpreter exit so repeated gate/bench runs don't
            # leak table-sized snapshots into /tmp across processes. NOT
            # GC-tied (weakref.finalize): DataFrames returned by a
            # short-lived engine lazily scan these files after the
            # engine is collected — deleting on GC broke every such
            # deferred read (measured: dml gate FileNotFoundException)
            atexit.register(shutil.rmtree, self._work_dir_path, ignore_errors=True)
        return self._work_dir_path

    def _tx_table(self, kind: str, key: str) -> TxTable:
        """Open the TxTable for (kind, key) under the work dir, once."""
        k = f"{kind}/{key}"
        t = self.tx_tables.get(k)
        if t is None:
            t = TxTable(os.path.join(self._work_dir(), kind, key))
            self.tx_tables[k] = t
        return t

    @staticmethod
    def _tx_view(kind: str, key: str) -> str:
        """The temp view over a table's latest snapshot: ``__dml_<table>``
        or ``__blobs_<dbms>_<table>``."""
        return f"__{kind}_{key}".replace(".", "_")

    def _attach_tables(self) -> None:
        """Re-attach every table an earlier engine committed under the
        work dir: register its view, and for a blob store load the hash
        set behind the duplicate check. Without this a restarted node
        would resolve queries to the raw storage tables (pre-DML data)
        and miss its blob stores."""
        for kind in ("dml", "blobs"):
            root = os.path.join(self._work_dir_path, kind)
            for key in sorted(os.listdir(root)) if os.path.isdir(root) else ():
                if not self._tx_table(kind, key).latest_version():
                    continue
                view = self._publish(kind, key)
                if kind == "dml":
                    self.views[key] = view
                    continue
                dbms, _, table = key.rpartition(".")
                self.blob_views[(dbms, table)] = view
                self.blob_rows[(dbms, table)] = {
                    r.blob_hash for r in self.spark.table(view).select("blob_hash").collect()
                }

    def _publish(self, kind: str, key: str) -> str:
        """Register the table's latest snapshot as its view; returns the
        view name."""
        view = self._tx_view(kind, key)
        self._tx_table(kind, key).read(self.spark).createOrReplaceTempView(view)
        return view

    def _fold(self, tx: TxTable) -> None:
        """Fold the small stages (``compact_small``) once the head
        manifest spans more than FOLD_STAGES stages or its deletion
        vectors hold more than ``txlog.DV_MAX_ROWS`` dead rows. The fold
        rewrites the small stages and, past that cap, the files that
        carry dead rows; the other files of a large stage stay, so a
        commit stays O(files changed) amortized."""
        m = tx.manifest(tx.latest_version())
        if (len({f.split("/", 2)[1] for f in m["files"]}) > self.FOLD_STAGES
                or deleted_rows(m) > DV_MAX_ROWS):
            tx.compact_small(self.spark)

    def _append(self, kind: str, key: str, df: DataFrame, meta: dict | None = None) -> str:
        """Commit ``df`` as an append, fold (``_fold``), and publish the
        view."""
        tx = self._tx_table(kind, key)
        tx.append(df, meta=meta)
        self._fold(tx)
        return self._publish(kind, key)

    def _drop_tx(self, kind: str, key: str) -> bool:
        """Forget a table: pop its TxTable, delete its directory, and
        purge its view and every alias of it (a blob store also leaves
        the blob registry). Returns whether the table existed."""
        tx = self.tx_tables.pop(f"{kind}/{key}", None)
        if tx is not None:
            shutil.rmtree(tx.path, ignore_errors=True)
        if kind == "blobs":
            dbms, _, table = key.rpartition(".")
            self.blob_views.pop((dbms, table), None)
            self.blob_rows.pop((dbms, table), None)
        self._purge_doomed_views({self._tx_view(kind, key)})
        return tx is not None

    def attach_partitioned(self, name: str, path: str) -> None:
        """Register a time-partitioned TxTable (written via
        ingest.partitions.write_partitioned_tx) under a table name."""
        if not TxTable.exists(path):
            raise ValueError(
                f"attach_partitioned: {path} has no commit log; write it "
                "with ingest.partitions.write_partitioned_tx"
            )
        self.partitioned_paths[name] = path
        TxTable(path).read(self.spark).createOrReplaceTempView(catalog.view_name(name))

    # ----------------------------------------------------------- internal

    _LEADING_RE = None  # compiled lazily

    def _substitute_leading_queries(self, statement: str) -> str:
        """``{<select ...> (<col>)}`` in WHERE: run the inner query
        first, substitute its scalar result as a literal — the
        reference's exact design (utils_sql.py:900-933
        get_leading_queries, job/leading_query.py), which also keeps
        plans cacheable because the outer query sees a constant."""
        if EdgeLakeEngine._LEADING_RE is None:
            EdgeLakeEngine._LEADING_RE = re.compile(
                r"\{\s*(select\b[^{}]*?)\((\w+)\)\s*\}", re.IGNORECASE | re.DOTALL
            )

        def _run(m: re.Match) -> str:
            inner, _column = m.group(1).strip(), m.group(2)
            row = self.query(inner).collect()
            if not row or row[0][0] is None:
                return "NULL"
            value = row[0][0]
            if isinstance(value, (int, float)):
                return str(value)
            return f"'{value}'"

        return EdgeLakeEngine._LEADING_RE.sub(_run, statement)

    def _execute(self, cmd: SqlCommand) -> DataFrame:
        if "{" in cmd.statement:
            cmd.statement = self._substitute_leading_queries(cmd.statement)
        dml = self._try_dml(cmd.statement)
        if dml is not None:
            return dml
        leading_cols: list[str] = []
        resolver = self._resolve

        if cmd.include or cmd.extend:
            union_view, leading_cols = self._build_union_view(cmd)
            resolver = lambda name: union_view  # noqa: E731
        elif cmd.options.get("version") is not None or cmd.options.get("as_of"):
            resolver = self._time_travel_resolver(
                cmd.options.get("version"), cmd.options.get("as_of")
            )

        rewritten = rewrite_select(
            cmd.statement,
            table_resolver=resolver,
            now=self.now,
            leading_cols=leading_cols,
        )
        # pass-through (no agg/group/order/distinct): the formatter may
        # stream rows via toLocalIterator instead of collecting —
        # reference fast path job_instance.py:562-575. Users can force
        # it off per query with pass_through = false.
        self._last_pass_through = rewritten.pass_through and cmd.options.get(
            "pass_through", True
        )
        df = self.spark.sql(rewritten.sql)
        # only the newest entry keeps a live DataFrame reference: plans
        # over localCheckpoint RDDs would otherwise pin block-manager
        # blocks for up to 200 queries (the checkpoint-block pile-up
        # SCALE.md documents). Older entries carry the plan string.
        for e in self.query_log:
            if e.get("df") is not None:
                e["plan"] = self._entry_plan(e)
                e["df"] = None
        self.query_log.append(
            {
                "job_id": next(_job_counter),
                "statement": cmd.statement,
                "rewritten_sql": rewritten.sql,
                "pass_through": bool(self._last_pass_through),
                "dbms": cmd.dbms,
                "df": df,
            }
        )
        del self.query_log[:-200]  # bounded
        # mirror into the node query-log ring (`get query log` — the
        # reference routes query messages through process_log with the
        # "Query" info type)
        self.event_log.add("Query", cmd.statement)

        per_column = cmd.options.get("per_column")
        if per_column and cmd.options.get("limit"):
            # per-entity limit: with extended tables the limit applies
            # per source (reference unify_results.py:1325-1329)
            order_cols = [c for c in df.columns if c != per_column]
            w = Window.partitionBy(per_column).orderBy(*order_cols)
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= int(cmd.options["limit"]))
                .drop("__rn")
            )
            # the window shuffle broke the statement's ORDER BY —
            # re-apply it so the result keeps its total order
            if rewritten.order_items:
                sort_cols = []
                for item in rewritten.order_items:
                    if item.upper().endswith(" DESC"):
                        sort_cols.append(F.expr(item[:-5].strip()).desc())
                    else:
                        sort_cols.append(F.expr(item))
                df = df.orderBy(*sort_cols)
        elif cmd.options.get("limit"):
            df = df.limit(int(cmd.options["limit"]))

        # timezone BEFORE castings — the reference converts time columns
        # to the display zone first, then casts/formats
        # (utils_columns.py:1660-1705 change_columns_values)
        df = self._apply_timezone(df, cmd.timezone)
        df = apply_castings(df, rewritten.castings)
        return df

    # -------------------------------------------------------------- DML

    def tsd(self):
        """The node's TSD provenance store (lazy; tsd.py — reference
        tsd_info tables). Shared by `time file` commands and the blobs
        archiver."""
        from edgelake_spark import tsd as _tsd

        if not hasattr(self, "tsd_store"):
            self.tsd_store = _tsd.TsdStore()
        return self.tsd_store

    def _time_travel_resolver(self, version, as_of: str | None):
        """`sql <db> version = N "..."` / `as_of = <iso ts>`: resolve
        log-backed (DML-touched) tables to the requested committed
        snapshot instead of the latest. Tables without a commit log
        resolve normally — time travel only exists where commits do."""

        def resolve(name: str) -> str:
            key = catalog.view_name(name)
            tx = self.tx_tables.get(f"dml/{key}")
            if tx is None or not tx.latest_version():
                return self._resolve(name)
            snap = tx.read(
                self.spark,
                version=int(version) if version is not None else None,
                timestamp=as_of,
            )
            view = f"__dml_{key}_asof"
            snap.createOrReplaceTempView(view)
            return view

        return resolve

    def _managed_snapshot(self, table: str) -> str:
        """Copy-on-first-write onto the transactional table layer: the
        first DML snapshots the underlying table as version 1 of a
        log-backed TxTable (txlog.py); every DML statement is then an
        atomic parquet commit — crash-consistent, with time travel via
        the `version =` / `as_of =` query options and history via
        `get table versions`. (Reference: DML runs on the operator's
        local DB — member_cmd.py:159-165 sql_commands; durability
        re-expressed as snapshot isolation over immutable parquet.)
        Returns the table's key under ``dml/``."""
        key = catalog.view_name(table)
        resolved = self._resolve(table)
        managed = self._tx_view("dml", key)
        tx = self._tx_table("dml", key)
        head = tx.latest_version()
        snapshot = (
            head == 0
            and resolved != managed
            and self.spark.catalog.tableExists(resolved)
        )
        if snapshot:
            head = tx.overwrite(self.spark.table(resolved), op="snapshot")
        if resolved != managed:
            self.views[table] = managed
            self.views[key] = managed
        # every commit republishes the view (_commit_dml), so it is
        # current unless this call took the snapshot or it is missing
        if head and (snapshot or not self.spark.catalog.tableExists(managed)):
            self._publish("dml", key)
        return key

    def _commit_dml(self, key: str, commit) -> DataFrame:
        """Run ``commit(tx)`` (a TxTable DML returning the head version)
        on table ``key``; when it committed, fold and republish the view.
        Returns the view."""
        tx = self._tx_table("dml", key)
        before = tx.latest_version()
        if commit(tx) != before:
            self._fold(tx)
            self._publish("dml", key)
        return self.spark.table(self._tx_view("dml", key))

    def _try_dml(self, statement: str):
        text = statement.strip().rstrip(";")
        m = re.match(
            r"insert\s+into\s+(\S+)\s*\(([^)]*)\)\s*values\s*\((.*)\)\s*$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            from edgelake_spark.dialect.parser import split_top_level

            table, cols, values = m.group(1), m.group(2), m.group(3)
            key = self._managed_snapshot(table)
            tx = self._tx_table("dml", key)
            col_names = [c.strip() for c in cols.split(",")]
            exprs = ", ".join(
                f"{v.strip()} AS {c}" for c, v in zip(col_names, split_top_level(values))
            )
            row = self.spark.sql(f"SELECT {exprs}")
            if tx.latest_version():
                # the head snapshot, not the view: another engine on the
                # same work_dir may have committed since this one published
                base = tx.read(self.spark)
                # conform the row to the table schema (missing cols →
                # NULL, engine-coerced types); when that reproduces the
                # schema exactly, commit O(1 row) as an append — at a
                # 100 TB table an INSERT must never rewrite the table
                conformed = base.limit(0).unionByName(row, allowMissingColumns=True)
                if conformed.schema == base.schema:
                    return self.spark.table(self._append("dml", key, conformed, {"op": "insert"}))
                # schema evolution (new columns): copy-on-write
                tx.overwrite(base.unionByName(row, allowMissingColumns=True), op="insert")
                return self.spark.table(self._publish("dml", key))
            return self.spark.table(self._append("dml", key, row, {"op": "insert"}))
        m = re.match(
            r"merge\s+into\s+(\S+)\s+using\s+\((.*)\)\s+on\s+([\w\s,]+)$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # superset of the reference DML (BASELINE north star —
            # Delta-style table management): full-row upsert, the CDC
            # MERGE special case. Matched keys are replaced by the
            # source row, unmatched source rows insert; a deletion vector
            # plus one stage of source rows, or above txlog.DV_MAX_ROWS
            # matches a file-granular rewrite (txlog.merge_upsert).
            table, source_sql, keys = m.group(1), m.group(2), m.group(3)
            key = self._managed_snapshot(table)
            key_cols = [k.strip() for k in keys.split(",") if k.strip()]
            # the source subquery resolves through the engine (dialect
            # rewriting + managed-view indirection), so it sees DML'd
            # state, not the raw storage table
            source = self.query(source_sql)
            return self._commit_dml(key, lambda tx: tx.merge_upsert(self.spark, source, key_cols))
        m = re.match(r"delete\s+from\s+(\S+)(?:\s+where\s+(.*))?$", text, re.IGNORECASE | re.DOTALL)
        if m:
            table, cond = m.group(1), m.group(2)
            key = self._managed_snapshot(table)
            # txlog.delete_where: a point DELETE records the dead rows'
            # positions (no data file written); a bulk one rewrites only
            # the files holding matching rows — a DELETE of one
            # partition's rows from a 100 TB table moves that partition
            return self._commit_dml(key, lambda tx: tx.delete_where(self.spark, cond))
        m = re.match(
            r"update\s+(\S+)\s+set\s+(.*?)(?:\s+where\s+(.*))?$", text, re.IGNORECASE | re.DOTALL
        )
        if m:
            from edgelake_spark.dialect.parser import split_top_level

            table, sets, cond = m.group(1), m.group(2), m.group(3)
            key = self._managed_snapshot(table)
            # SQL UPDATE evaluates every RHS against the pre-update row:
            # txlog.update_where builds all assignments first and applies
            # them in ONE select (so `set a = b, b = a` swaps instead of
            # cascading), staging only the updated rows (point UPDATE) or
            # rewriting only the files with matching rows (bulk)
            assignments = {}
            for assignment in split_top_level(sets):
                col, _, expr = assignment.partition("=")
                assignments[col.strip()] = expr.strip()
            return self._commit_dml(
                key, lambda tx: tx.update_where(self.spark, assignments, cond)
            )
        return None

    def _build_union_view(self, cmd: SqlCommand) -> tuple[str, list[str]]:
        """include=(dbms.table,...) → UNION ALL with NULL padding;
        extend=(@ip, @table_name as t, ...) → identity columns prepended
        per source (reference member_cmd.py:5330-5470 partition_query,
        unify_results.py:924-948 process_extended_columns).

        unionByName(allowMissingColumns=True) reproduces the reference's
        NULL padding of missing columns (get_adjusted_projection,
        member_cmd.py:5413).
        """
        from edgelake_spark.dialect.parser import parse_select

        primary = self._resolve(parse_select(cmd.statement).table)
        tables = [primary] + [self._resolve(t) for t in cmd.include]

        extend_specs = []  # (source_kind, alias)
        for spec in cmd.extend:
            spec = spec.strip()
            alias = None
            if " as " in spec:
                spec, alias = (s.strip() for s in spec.split(" as ", 1))
            if spec.startswith("@"):
                kind = spec[1:]
            elif spec.startswith("+"):
                kind = spec[1:]
            else:
                kind = spec
            extend_specs.append((kind, alias or kind.replace(".", "_")))

        parts = []
        for t in tables:
            df = self.spark.table(t)
            id_values = dict(self.node_identity)
            id_values["table_name"] = t
            id_values.setdefault("dbms_name", "")
            for kind, alias in reversed(extend_specs):
                value = id_values.get(kind, "")
                df = df.select(F.lit(value).alias(alias), "*")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        view = f"__el_union_{next(_view_counter)}"
        out.createOrReplaceTempView(view)
        return view, [alias for _, alias in extend_specs]

    def _apply_timezone(self, df: DataFrame, tz: str) -> DataFrame:
        """Presentation-layer timezone conversion of result time columns
        only (reference utils_columns.py:1592-1658 utc_to_timezone)."""
        tz = (tz or "utc").lower()
        if tz in ("", "utc"):
            return df
        zone = TZ_NAMES.get(tz, tz)
        for f_ in df.schema.fields:
            if isinstance(f_.dataType, T.TimestampType):
                df = df.withColumn(f_.name, F.from_utc_timestamp(F.col(f_.name), zone))
        return df
