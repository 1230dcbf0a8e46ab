"""The three workloads: each is one closed-loop client in this process.

A workload generates its tables from the seed, takes its expected
results once outside timing, sets the program up (timed, see
``setup``), and then runs passes: a pass is a fixed unit of client
work whose shape does not depend on the seed or on timing, so its
wall time and latency quantiles repeat from run to run.

- ``dashboard``: dialect ``sql`` commands with ``format = json`` and
  Grafana panels, the query-node path.
- ``ingest``: REST PUTs of sensor rows with a read of the table being
  filled after every PUT, interleaved with one INSERT, one UPDATE and
  one DELETE a pass on a txlog-managed copy of ``orders``, the
  operator-node path.
- ``batch``: passes over a fixed list of analytics and training-data
  gate runners.
"""

from __future__ import annotations

import json
import os
import random
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

import datagen
import oracle
from layers import dir_bytes

#: the engine's rewrite-time clock, pinned so results do not depend on
#: when the benchmark runs
NOW = datetime(2024, 2, 1)


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool


@dataclass
class Context:
    spark: object
    root: str
    seed: int
    tiny: bool
    corrupt: bool
    tracer: object = None
    errors: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def _run_op(ctx: Context, kind: str, fn) -> Op:
    """Time ``fn`` (which returns True when its result checks out) as one
    op; an exception or a wrong result is a failed op."""
    tracer = ctx.tracer
    if tracer is not None:
        tracer.begin(kind)
    t0 = time.perf_counter()
    df = None
    try:
        ok, df = fn()
    except Exception as exc:  # a failed op is counted, not fatal
        ok = False
        ctx.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
    latency = time.perf_counter() - t0
    if tracer is not None:
        tracer.end(latency, df)
    return Op(kind, latency, bool(ok))


def _expect(digest: str, corrupt: bool) -> str:
    return ("0" * 8 + digest[8:]) if corrupt else digest


# =====================================================================
# dashboard
# =====================================================================

_PARENT = {"minute": "hour", "hour": "day", "day": "month"}


def _incr_duck(unit: str, n: int, col: str = "ts") -> str:
    return (
        f"CAST(date_trunc('{_PARENT[unit]}', {col}) AS TIMESTAMP) AS increments_trunc, "
        f"CAST(CAST(extract({unit} FROM {col}) AS INTEGER) // {n} AS BIGINT) AS increments_extract"
    )


def _day_range(r: random.Random) -> tuple[str, str]:
    d = r.randrange(1, 27)
    return f"2024-01-{d:02d} 00:00:00", f"2024-01-{d + 2:02d} 00:00:00"


def _dashboard_commands(r: random.Random, i: int, n_events: int, n_users: int) -> list[tuple]:
    """Pass ``i``: one command of each kind. The shapes (bucket units,
    window lengths, selectivities) depend only on ``i``, so pass ``i``
    does the same work for every seed; positions are drawn from ``r``.
    Each entry is (kind, command-or-panel, DuckDB SQL)."""
    cmds = []
    a = r.randrange(0, n_events - 5)
    cols = "event_id, ts, user_id, event_type, value"
    cmds.append((
        "point_lookup",
        f'sql edge format = json limit = 10 "select {cols} from events '
        f'where event_id >= {a} and event_id < {a + 5}"',
        f"SELECT {cols} FROM events WHERE event_id >= {a} AND event_id < {a + 5}",
    ))
    c = r.randrange(0, max(n_users * 10, 1))
    ocols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
    cmds.append((
        "point_lookup",
        f'sql edge format = json limit = 100 "select {ocols} from orders where o_custkey = {c}"',
        f"SELECT {ocols} FROM orders WHERE o_custkey = {c}",
    ))
    unit, n = [("minute", 30), ("hour", 1), ("hour", 2), ("hour", 6), ("day", 1)][i % 5]
    lo, hi = _day_range(r)
    aggs = "count(*) as n, min(value) as mn, max(value) as mx"
    cmds.append((
        "increments",
        f'sql edge format = json "select increments({unit}, {n}, ts), {aggs} from events '
        f"where ts >= '{lo}' and ts < '{hi}'\"",
        f"SELECT {_incr_duck(unit, n)}, {aggs} FROM events "
        f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' GROUP BY 1, 2",
    ))
    punit, pn = [("hour", 3), ("hour", 12), ("day", 1), ("day", 3)][i % 4]
    at = f"2024-01-{r.randrange(5, 29):02d} {r.randrange(0, 24):02d}:00:00"
    anchor = f"(SELECT MAX(ts) FROM events WHERE ts <= TIMESTAMP '{at}')"
    cmds.append((
        "period",
        f'sql edge format = json "select {aggs} from events '
        f"where period({punit}, {pn}, '{at}', ts)\"",
        f"SELECT {aggs} FROM events WHERE ts > {anchor} - INTERVAL {pn} {punit.upper()} "
        f"AND ts <= {anchor}",
    ))
    u = r.randrange(0, max(n_users - 50, 1))
    cmds.append((
        "group_cast",
        f'sql edge format = json "select event_type, count(*) as n, max(value)::float(2) as mx, '
        f"min(ts)::datetime('%Y-%m-%d %H:%M') as first_seen from events "
        f'where user_id >= {u} and user_id < {u + 50} group by event_type order by event_type"',
        f"SELECT event_type, count(*) AS n, max(value) AS mx, "
        f"strftime(min(ts), '%Y-%m-%d %H:%M') AS first_seen FROM events "
        f"WHERE user_id >= {u} AND user_id < {u + 50} GROUP BY event_type",
    ))
    y = r.randrange(1995, 2001)
    cmds.append((
        "group_cast",
        f'sql edge format = json "select o_orderpriority, o_orderstatus, count(*) as n, '
        f"min(o_totalprice) as lo, max(o_orderdate)::datetime('%Y-%m-%d') as last_day "
        f"from orders where o_orderdate >= '{y}-01-01' and o_orderdate < '{y + 1}-01-01' "
        f'group by o_orderpriority, o_orderstatus order by o_orderpriority, o_orderstatus"',
        f"SELECT o_orderpriority, o_orderstatus, count(*) AS n, min(o_totalprice) AS lo, "
        f"strftime(max(o_orderdate), '%Y-%m-%d') AS last_day FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{y}-01-01' AND o_orderdate < TIMESTAMP '{y + 1}-01-01' "
        f"GROUP BY o_orderpriority, o_orderstatus",
    ))
    u = r.randrange(0, n_users - n_users // 4)
    users = f"user_id >= {u} and user_id < {u + n_users // 4}"
    cmds.append((
        "include_extend",
        f"sql edge format = json extend = (@table_name as source_table) include = (events) "
        f'"select event_type, count(*) as n, max(value) as mx from events '
        f'where {users} group by event_type order by event_type"',
        f"SELECT source_table, event_type, count(*) AS n, max(value) AS mx FROM ("
        f"SELECT 'events' AS source_table, * FROM events UNION ALL "
        f"SELECT 'events' AS source_table, * FROM events) "
        f"WHERE {users} GROUP BY source_table, event_type",
    ))
    a = r.randrange(0, n_events - 20)
    cmds.append((
        "timezone",
        f"sql edge format = json timezone = pt \"select event_id, "
        f"ts::datetime('%Y-%m-%d %H:%M:%S') as t from events "
        f'where event_id >= {a} and event_id < {a + 20} order by event_id"',
        f"SELECT event_id, strftime(ts - INTERVAL 8 HOUR, '%Y-%m-%d %H:%M:%S') AS t "
        f"FROM events WHERE event_id >= {a} AND event_id < {a + 20}",
    ))
    lo, hi = _day_range(r)
    hours = [1, 2, 3, 6][i % 4]
    panel = {
        "range": {"from": lo.replace(" ", "T") + ".000Z", "to": hi.replace(" ", "T") + ".000Z"},
        "interval": f"{hours}h",
        "targets": [{
            "target": "events", "type": "timeseries",
            "payload": {"table": "events", "time_column": "ts", "value_column": "value",
                        "functions": ["min", "max", "count"]},
        }],
    }
    cmds.append((
        "grafana",
        panel,
        f"SELECT {_incr_duck('hour', hours)}, max(ts) AS timestamp, min(value) AS min_val, "
        f"max(value) AS max_val, CAST(count(value) AS BIGINT) AS count_val FROM events "
        f"WHERE ts >= TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}' GROUP BY 1, 2",
    ))
    return cmds


class Dashboard:
    name = "dashboard"
    tables = ("events", "orders")
    #: passes with distinct parameters; a longer run cycles through them
    POOL_PASSES = 12
    #: nominal wall of one pass: a run makes --seconds / PASS_S passes
    PASS_S = 2.5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf = 0.001 if ctx.tiny else 0.1
        self.engine = None
        self.pool: list[list[tuple]] = []
        self.warm_pass: list[tuple] = []
        self.passes_run = 0

    def prepare(self) -> None:
        ctx = self.ctx
        self.data_dir = datagen.generate(ctx.path("data"), ctx.seed, self.sf, self.tables)
        self.warm_dir = datagen.generate(ctx.path("warm"), ctx.seed, 0.001, self.tables)
        n_events = int(1_000_000 * self.sf)
        n_users = max(int(15_000 * self.sf), 10)
        r = random.Random(ctx.seed)
        duck = oracle.Oracle(self.data_dir, self.tables)
        try:
            for i in range(self.POOL_PASSES):
                ops = []
                for kind, cmd, sql in _dashboard_commands(r, i, n_events, n_users):
                    cols, rows = duck.query(sql)
                    if kind == "grafana":
                        digest = oracle.digest_grafana(oracle.grafana_series("events", cols, rows))
                    else:
                        digest = oracle.digest_rows(rows)
                    ops.append((kind, cmd, _expect(digest, ctx.corrupt)))
                self.pool.append(ops)
        finally:
            duck.close()
        warm_r = random.Random(ctx.seed + 1)
        self.warm_pass = [(k, c, "") for k, c, _ in _dashboard_commands(warm_r, 0, 1000, 15)]

    def _execute(self, engine, kind: str, cmd):
        from edgelake_spark.api.grafana import grafana_query

        if kind == "grafana":
            return oracle.digest_grafana(grafana_query(engine, cmd))
        return oracle.digest_json_result(engine.run(cmd))

    def setup(self) -> None:
        """Engine construction over the warm-up tables, one pass of every
        command shape there (JIT and codegen warm-up), then the engine
        over the timed tables."""
        from edgelake_spark import EdgeLakeEngine

        spark = self.ctx.spark
        warm = EdgeLakeEngine(spark, self.warm_dir, now=NOW)
        for kind, cmd, _ in self.warm_pass:
            self._execute(warm, kind, cmd)
        self.engine = EdgeLakeEngine(spark, self.data_dir, now=NOW)

    def warmup(self) -> None:
        pass  # every set-up runs each command shape on sf0.001 tables

    def before_pass(self) -> None:
        pass

    def run_pass(self) -> list[Op]:
        ops = []
        for kind, cmd, expected in self.pool[self.passes_run % len(self.pool)]:
            ops.append(_run_op(self.ctx, kind, lambda: (self._execute(self.engine, kind, cmd) == expected, None)))
        self.passes_run += 1
        return ops

    def finish(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# =====================================================================
# ingest
# =====================================================================


class Ingest:
    name = "ingest"
    tables = ("orders",)
    #: one pass is one cycle on a fresh table: PUTS_PER_PASS PUTs, each
    #: followed by a read of that table and by an INSERT, an UPDATE and
    #: a DELETE in turn
    PUTS_PER_PASS = 3
    PASS_S = 5.0
    ROWS_PER_PUT = 200

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf = 0.001 if ctx.tiny else 0.01
        self.rng = random.Random(ctx.seed)
        self.server = None
        self.engine = None
        self.nodes = 0
        self.passes_run = 0
        self.seq = 0
        self.acked: dict[str, list[int]] = {}
        self.put_bytes = 0
        self.dml_turn = 0
        self.leaves: list[tuple[int, int]] = []

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        ctx = self.ctx
        self.data_dir = datagen.generate(ctx.path("data"), ctx.seed, self.sf, self.tables)
        t = pq.read_table(os.path.join(self.data_dir, "orders.parquet"),
                          columns=["o_orderkey", "o_totalprice"])
        self.orders0 = {
            int(k): round(float(p) * 100)
            for k, p in zip(t.column(0).to_pylist(), t.column(1).to_pylist())
        }

    # ---- set-up

    def _node(self) -> None:
        """A fresh operator node: a durable engine on a new work_dir
        behind a loopback REST server, with the ledger reset."""
        from edgelake_spark import EdgeLakeEngine
        from edgelake_spark.api import EdgeLakeRestServer

        self.close()
        self.nodes += 1
        self.work_dir = self.ctx.path(f"work-{self.nodes}")
        os.makedirs(self.work_dir)
        self.engine = EdgeLakeEngine(self.ctx.spark, self.data_dir, now=NOW, work_dir=self.work_dir)
        self.server = EdgeLakeRestServer(self.engine).start()
        self.base = f"http://127.0.0.1:{self.server.port}/"
        self.ledger = dict(self.orders0)
        self.acked = {}
        self.put_bytes = 0
        self.dml_turn = 0

    def setup(self) -> None:
        """A fresh node with ``orders`` snapshotted into the txlog, then
        PUTs into a new table, each followed by a read of it."""
        self.before_pass()
        warm = f"warm_{self.nodes}"
        for _ in range(2):
            self._put(warm, 20)
            self._read_fresh(warm)

    def before_pass(self) -> None:
        """Every pass starts on a fresh node, so a pass does the same work
        however many passes ran before it (txlog state would otherwise
        grow with the number of passes, which depends on speed). A DML
        that matches no row then snapshots ``orders`` into the txlog, so
        no timed DML carries the full-table copy of the first write."""
        self._node()
        self.engine.run('sql edge "delete from orders where o_orderkey < 0"')

    # ---- client calls

    def _http(self, req) -> bytes:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.read()

    def _put(self, table: str, n: int) -> bool:
        rows = []
        for _ in range(n):
            self.seq += 1
            rows.append({
                "device": f"dev{self.rng.randrange(32)}",
                "reading": round(self.rng.uniform(-20.0, 120.0), 3),
                "ts": f"2024-01-{self.rng.randrange(1, 29):02d} "
                      f"{self.rng.randrange(24):02d}:{self.rng.randrange(60):02d}:00",
                "seq": self.seq,
            })
        body = json.dumps(rows).encode()
        req = urllib.request.Request(self.base, data=body, method="PUT",
                                     headers={"dbms": "edge", "table": table})
        reply = json.loads(self._http(req))
        ok = reply.get("ingested") == n
        if ok:
            self.acked.setdefault(table, []).extend(r["seq"] for r in rows)
            self.put_bytes += len(body)
        return ok

    def _read_fresh(self, table: str) -> bool:
        # the ``::str`` casting takes the read through the dialect's
        # casting step as well
        cmd = (f'sql edge format = json "select count(*) as n, sum(seq) as s, '
               f'min(seq) as lo, max(seq)::str as hi from {table}"')
        req = urllib.request.Request(self.base, headers={"command": cmd})
        got = json.loads(self._http(req))["Query"][0]
        seqs = self.acked.get(table, [])
        want = {"n": len(seqs), "s": sum(seqs), "lo": min(seqs), "hi": str(max(seqs))}
        if self.ctx.corrupt:
            want["n"] += 1
        return got == want

    def _dml(self) -> tuple[bool, float]:
        """One INSERT, UPDATE or DELETE (in turn) on ``orders``; the
        statement is timed, then the table is checked against the ledger."""
        r = self.rng
        turn = self.dml_turn % 3
        self.dml_turn += 1
        keys = sorted(self.ledger)
        if turn == 0:
            key = 10_000_000 + self.dml_turn
            cents = r.randrange(100_000, 50_000_000)
            stmt = (f"insert into orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                    f"o_orderdate, o_orderpriority) values ({key}, {r.randrange(1000)}, 'O', "
                    f"{cents / 100:.2f}, timestamp'2024-01-15 00:00:00', '3-MEDIUM')")
            self.ledger[key] = cents
        elif turn == 1:
            key = keys[r.randrange(len(keys))]
            delta = r.randrange(1, 10_000)
            stmt = f"update orders set o_totalprice = o_totalprice + {delta / 100:.2f} where o_orderkey = {key}"
            self.ledger[key] += delta
        else:
            key = keys[r.randrange(len(keys))]
            stmt = f"delete from orders where o_orderkey = {key}"
            del self.ledger[key]
        t0 = time.perf_counter()
        self.engine.run(f'sql edge "{stmt}"')
        elapsed = time.perf_counter() - t0
        got = json.loads(self.engine.run(
            'sql edge format = json "select count(*) as n, cast(sum(cast(o_totalprice as '
            'decimal(25,2))) as string) as total, max(o_orderkey) as hi from orders"'
        ))["Query"][0]
        total = sum(self.ledger.values())
        want = {"n": len(self.ledger) + (1 if self.ctx.corrupt else 0),
                "total": f"{total // 100}.{total % 100:02d}", "hi": max(self.ledger)}
        return got == want, elapsed

    def warmup(self) -> None:
        """Each DML kind once, so no timed DML is the first of its kind."""
        for _ in range(3):
            self._dml()

    # ---- measurement

    def run_pass(self) -> list[Op]:
        ctx = self.ctx
        table = f"sensor_{self.passes_run}"
        self.passes_run += 1
        ops = []
        for i in range(self.PUTS_PER_PASS):
            ops.append(_run_op(ctx, "rest_put", lambda: (self._put(table, self.ROWS_PER_PUT), None)))
            if ctx.tracer is not None and ctx.tracer.active:
                self.leaves.append((i + 1, ctx.tracer.scan_leaves(f"__ingest_{table}")))
            ops.append(_run_op(ctx, "rest_get", lambda: (self._read_fresh(table), None)))
            holder = {}

            def dml():
                ok, holder["t"] = self._dml()
                return ok, None

            op = _run_op(ctx, "dml", dml)
            # the op's latency is the statement alone; the ledger check
            # after it is client work, not DML latency
            op.latency_s = holder.get("t", op.latency_s)
            ops.append(op)
        return ops

    def finish(self) -> dict:
        """Durability of acked rows (a new engine, in a new session, on
        the same work_dir) and the store's size against user bytes."""
        from edgelake_spark import EdgeLakeEngine

        acked = sum(len(v) for v in self.acked.values())
        fresh = EdgeLakeEngine(self.ctx.spark.newSession(), self.data_dir, now=NOW, work_dir=self.work_dir)
        visible = 0
        for table in self.acked:
            try:
                visible += fresh.query(f"select count(*) as n from {table}").collect()[0][0]
            except Exception:  # the table is not there after a restart
                pass
        orders_bytes = os.path.getsize(os.path.join(self.data_dir, "orders.parquet"))
        files_live = 0
        for tx in self.engine.tx_tables.values():
            v = tx.latest_version()
            files_live += len(tx.manifest(v)["files"]) if v else 0
        leaves = {}
        if self.leaves:
            n = len(self.leaves)
            mx = sum(p for p, _ in self.leaves) / n
            my = sum(l for _, l in self.leaves) / n
            var = sum((p - mx) ** 2 for p, _ in self.leaves) or 1.0
            leaves = {
                "ingest.scan_leaves": max(l for p, l in self.leaves if p == self.PUTS_PER_PASS),
                "ingest.scan_leaves_per_put": sum((p - mx) * (l - my) for p, l in self.leaves) / var,
            }
        return {
            "acked_rows_durable_frac": visible / acked if acked else 0.0,
            "store_bytes_per_user_byte": dir_bytes(self.work_dir) / (orders_bytes + self.put_bytes),
            "txlog.files_live": files_live,
            **leaves,
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            if self.server._thread is not None:
                self.server._thread.join(timeout=30)
            self.server = None


# =====================================================================
# batch
# =====================================================================

BATCH_RUNNERS = (
    "tpch_q1", "tpch_q3", "tpch_q5ish", "tpch_q18ish", "orders_bucketed_join",
    "events_sessionize", "events_asof_orders", "doc_minhash_pairs", "doc_dedup_clusters",
    "emb_ivf_topk", "emb_pca_power", "multimodal_features", "doc_pipeline_train_set",
)


class Batch:
    name = "batch"
    tables = datagen.ALL_TABLES
    #: the cold pass builds every artifact: one set-up per run
    SETUPS = 1
    PASS_S = 10.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        # a pass is ~10 s of mostly fixed per-runner cost at any scale up
        # to sf0.01, and a cold pass ~30 s: sf0.001 keeps a run in budget
        self.sf = 0.001

    def prepare(self) -> None:
        from edgelake_spark.queries import ORACLE_SQL

        ctx = self.ctx
        self.data_dir = datagen.generate(ctx.path("data"), ctx.seed, self.sf, self.tables)
        duck = oracle.Oracle(self.data_dir, self.tables)
        try:
            self.expected = {}
            for name in BATCH_RUNNERS:
                cols, rows = duck.query(ORACLE_SQL[name])
                self.expected[name] = _expect(oracle.digest_named(cols, rows), ctx.corrupt)
        finally:
            duck.close()

    def _call(self, name: str):
        from edgelake_spark.queries import SPARK_QUERIES

        t0 = time.perf_counter()
        df = SPARK_QUERIES[name](self.ctx.spark, self.data_dir)
        tracer = self.ctx.tracer
        if tracer is not None and tracer.op is not None:
            tracer.op["build_s"] += time.perf_counter() - t0
        return df, df.columns, [tuple(r) for r in df.collect()]

    def setup(self) -> None:
        """A cold pass over every runner: warms the JIT and codegen paths
        and builds (or attaches) each runner's persisted artifacts."""
        for name in BATCH_RUNNERS:
            self._call(name)

    def warmup(self) -> None:
        pass  # the set-up itself is the cold pass

    def before_pass(self) -> None:
        pass

    def run_pass(self) -> list[Op]:
        ops = []
        for name in BATCH_RUNNERS:
            def op(name=name):
                df, cols, rows = self._call(name)
                return oracle.digest_named(cols, rows) == self.expected[name], df

            ops.append(_run_op(self.ctx, name, op))
        return ops

    def finish(self) -> dict:
        return {}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, Batch)}
