"""Result digests from DuckDB over the same parquet files.

Rows are compared order-insensitively with floats rounded to ten
significant digits (the last bits of a double aggregate depend on the
order the engine adds in); timestamps compare by their ``str`` form,
which is how the engine's JSON output renders them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime, timezone


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, datetime):
        return str(v.replace(tzinfo=None))
    if isinstance(v, date):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def digest_rows(rows) -> str:
    """Digest of a multiset of row tuples (columns in select order)."""
    canon = sorted(json.dumps([_norm(v) for v in row], default=str) for row in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()


def digest_named(columns, rows) -> str:
    """Digest with columns put in name order first (the gate catalogue's
    comparison: engines may emit the same columns in another order)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return digest_rows([[row[i] for i in idx] for row in rows]) + ":" + ",".join(sorted(columns))


def digest_json_result(text: str) -> str:
    """Digest of an engine ``format = json`` result ({"Query": [...]})."""
    rows = json.loads(text).get("Query", [])
    return digest_rows([list(r.values()) for r in rows])


def _epoch_ms(v) -> float:
    if isinstance(v, datetime):
        return v.replace(tzinfo=v.tzinfo or timezone.utc).timestamp() * 1000.0
    return float(v)


def grafana_series(table: str, columns, rows) -> list[dict]:
    """Grafana timeseries shape of an increments result: one series per
    value column, ``[value, epoch_ms]`` points on the ``timestamp`` axis."""
    t = columns.index("timestamp")
    out = []
    for i, col in enumerate(columns):
        if i == t or col.endswith(("_trunc", "_extract")):
            continue
        points = sorted(([row[i], _epoch_ms(row[t])] for row in rows), key=lambda p: p[1])
        out.append({"target": f"{table}.{col}", "datapoints": points})
    return out


def digest_grafana(series: list[dict]) -> str:
    canon = json.dumps([[s["target"], _norm(s["datapoints"])] for s in series], default=str)
    return hashlib.sha1(canon.encode()).hexdigest()


class Oracle:
    """A DuckDB connection with one view per generated table."""

    def __init__(self, data_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def query(self, sql: str):
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
