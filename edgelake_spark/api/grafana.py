"""Grafana JSON-datasource façade (reference edge_lake/api/al_grafana.py).

The reference turns Grafana panel requests into dialect SQL: the panel's
time range becomes the WHERE clause, the panel interval (or explicit
``data_points``) becomes an ``increments(...)`` or ``period(...)`` query,
and results are shaped into Grafana's ``timeserie`` datapoints
(``[[value, epoch_ms], ...]``) or ``table`` rows
(al_grafana.py:60-180 AlQueryParams, :2115-2125 increments emission,
:1189-1450 reply formatting). No engine impact — this module only builds
dialect SQL strings and formats the resulting DataFrame, so the query
itself runs fully distributed.

Endpoints (mounted on EdgeLakeRestServer):
- ``POST /search`` → list of queryable ``dbms.table`` names.
- ``POST /query`` → per-target SQL build + run + format.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Any

#: Grafana interval suffix → increments unit (al_grafana.py:108-134;
#: sub-second panels clamp to 1 second, the smallest dialect unit)
_INTERVAL_UNITS = {"s": "second", "m": "minute", "h": "hour", "d": "day"}

#: default aggregates when the payload names none (al_grafana.py
#: get_increments_timeseries_stmt: avg/min/max over the value column)
_DEFAULT_FUNCTIONS = ("avg", "min", "max")


def parse_interval(interval: str) -> tuple[str, int]:
    """``"30s"/"1m"/"2h"/"500ms"`` → (unit, n). Unknown → 1 minute."""
    interval = (interval or "").strip()
    if interval.endswith("ms"):
        return "second", 1
    if interval and interval[-1] in _INTERVAL_UNITS and interval[:-1].isdigit():
        return _INTERVAL_UNITS[interval[-1]], max(1, int(interval[:-1]))
    return "minute", 1


def _iso(ts: str) -> str:
    """Grafana range timestamps (``2024-01-01T00:00:00.000Z``) → dialect
    literal (UTC-naive, second precision)."""
    ts = ts.replace("T", " ").rstrip("Z")
    return ts.split(".")[0] if "." in ts else ts


def build_target_sql(
    target: dict[str, Any],
    time_from: str,
    time_to: str,
    interval: str,
    max_data_points: int | None = None,
) -> tuple[str, str, bool]:
    """One Grafana target → (dialect SQL, table name, is_timeseries).

    The payload (Grafana's "Additional JSON Data") may override table,
    time/value columns, functions, extra ``where``, ``sql`` (verbatim
    user statement), or request ``type`` period/increments."""
    payload = target.get("payload") or target.get("data") or {}
    if isinstance(payload, str):
        payload = json.loads(payload) if payload.strip() else {}
    name = payload.get("table") or target.get("target", "")
    dbms = payload.get("dbms", "")
    table = f"{dbms}.{name}" if dbms and "." not in name else name
    timeseries = (
        payload.get("grafana", {}).get("format_as", target.get("type", "timeseries"))
        == "timeseries"
    )

    if payload.get("sql"):  # user-provided statement passes through
        return payload["sql"], table, timeseries

    time_col = payload.get("time_column", "ts")
    value_col = payload.get("value_column", "value")
    where = f" and ({payload['where']})" if payload.get("where") else ""
    lo, hi = _iso(time_from), _iso(time_to)
    range_cond = f"{time_col} >= '{lo}' and {time_col} <= '{hi}'{where}"
    limit = int(payload.get("limit", 0)) or (max_data_points or 0)
    limit_sql = f" limit {limit}" if limit else ""

    if not timeseries:
        sel = payload.get("columns", "*")
        if isinstance(sel, list):
            sel = ", ".join(sel)
        return (
            f"select {sel} from {table} where {range_cond}"
            f" order by {time_col}{limit_sql}",
            table,
            False,
        )

    funcs = payload.get("functions") or list(_DEFAULT_FUNCTIONS)
    func_items = ", ".join(f"{f}({value_col}) as {f}_val" for f in funcs)
    if payload.get("type") == "period":
        unit, n = parse_interval(interval)
        # the payload's extra filter rides as period()'s 5th argument so
        # it constrains both the anchor subquery and the range
        # (reference al_grafana.py:2251, 2173-2174 append where_cond
        # inside the period(...) call)
        period_filt = f", and ({payload['where']})" if payload.get("where") else ""
        sql = (
            f"select max({time_col}) as timestamp, {func_items} from {table} "
            f"where period({unit}, {n}, '{hi}', {time_col}{period_filt}){limit_sql}"
        )
    elif payload.get("data_points"):
        # let the engine's auto-increments planner pick unit/n
        sql = (
            f"select increments({time_col}, {int(payload['data_points'])}), "
            f"max({time_col}) as timestamp, {func_items} "
            f"from {table} where {range_cond}"
        )
    else:
        unit, n = parse_interval(interval)
        sql = (
            f"select increments({unit}, {n}, {time_col}), "
            f"max({time_col}) as timestamp, {func_items} "
            f"from {table} where {range_cond}{limit_sql}"
        )
    return sql, table, True


def _epoch_ms(v: Any) -> float:
    if isinstance(v, datetime):
        return v.replace(tzinfo=v.tzinfo or timezone.utc).timestamp() * 1000.0
    return float(v)


def format_timeseries(table: str, columns: list[str], rows: list) -> list[dict]:
    """Rows → one Grafana series per value column:
    ``{"target": "<table>.<col>", "datapoints": [[value, epoch_ms]]}``.
    The ``timestamp`` column is the x-axis; increments bucket keys
    (``*_trunc``/``_extract``) are plumbing and skipped."""
    try:
        t_idx = columns.index("timestamp")
    except ValueError:
        t_idx = 0
    series_cols = [
        (i, c)
        for i, c in enumerate(columns)
        if i != t_idx and not c.endswith(("_trunc", "_extract"))
    ]
    out = []
    for i, col in series_cols:
        pts = [
            [row[i], _epoch_ms(row[t_idx])]
            for row in rows
            if row[t_idx] is not None
        ]
        pts.sort(key=lambda p: p[1])
        out.append({"target": f"{table}.{col}", "datapoints": pts})
    return out


def format_table(columns: list[str], rows: list) -> list[dict]:
    def col_type(i: int) -> str:
        for row in rows:
            v = row[i]
            if v is None:
                continue
            if isinstance(v, datetime):
                return "time"
            if isinstance(v, (int, float)):
                return "number"
            return "string"
        return "string"

    return [
        {
            "type": "table",
            "columns": [{"text": c, "type": col_type(i)} for i, c in enumerate(columns)],
            "rows": [
                [v.isoformat() if isinstance(v, datetime) else v for v in row]
                for row in rows
            ],
        }
    ]


def grafana_query(engine, body: dict[str, Any]) -> list[dict]:
    """Handle a Grafana ``POST /query`` body against the engine."""
    rng = body.get("range", {})
    time_from = rng.get("from", "1970-01-01T00:00:00Z")
    time_to = rng.get("to", "2100-01-01T00:00:00Z")
    interval = body.get("interval", "1m")
    max_points = body.get("maxDataPoints")
    out: list[dict] = []
    for target in body.get("targets", []):
        sql, table, timeseries = build_target_sql(
            target, time_from, time_to, interval, max_points
        )
        dbms = table.split(".")[0] if "." in table else "dbms"
        df = engine.run(f'sql {dbms} "{sql}"')
        columns = df.columns
        rows = [tuple(r) for r in df.collect()]
        if timeseries:
            out.extend(format_timeseries(table.split(".")[-1], columns, rows))
        else:
            out.extend(format_table(columns, rows))
    return out


def grafana_search(engine) -> list[str]:
    """``POST /search`` → queryable tables (panel dropdown)."""
    return sorted(
        t.name for t in engine.spark.catalog.listTables() if not t.name.startswith("__")
    )
