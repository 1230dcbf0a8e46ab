"""Admin/metadata command surface: create view, get rows count,
info table columns, suggest create (`get partitions` lives with the
partitioned TxTables in ingest/partitions.py).

Reference: edge_lake/cmd/member_cmd.py — `create view` :21065-21079
(column renaming via `using`, NULL padding via `not used`),
`get rows count [where ... group = table]` :16740,
`info table ... columns` :21000, `suggest create`
:21193 (via suggest_create_table.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edgelake_spark.dialect.parser import split_top_level
from edgelake_spark.ingest.infer import infer_schema
from edgelake_spark.localframe import local_frame

_TYPE_TO_SPARK = {
    "serial": "bigint",
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
    "float": "double",
    "double": "double",
    "bool": "boolean",
    "boolean": "boolean",
    "varchar": "string",
    "uuid": "string",
    "cidr": "string",
    "time": "string",
    "timestamp": "timestamp",
    "date": "date",
}


def _spark_type(sql_type: str) -> str:
    t = sql_type.strip().lower()
    if t.startswith("char"):
        return "string"
    if t.startswith("decimal"):
        return t
    return _TYPE_TO_SPARK.get(t, "string")


def parse_view_columns(spec: str) -> list[dict]:
    """Parse the create-view column list. Each item is one of
    ``col TYPE``, ``col using source TYPE``, ``col not used``
    (reference member_cmd.py:21068 example)."""
    out = []
    for item in split_top_level(spec):
        item = item.strip()
        if not item:
            continue
        m = re.match(r"(\S+)\s+not\s+used$", item, re.IGNORECASE)
        if m:
            out.append({"name": m.group(1), "source": None, "type": "varchar"})
            continue
        m = re.match(r"(\S+)\s+using\s+(\S+)\s*(.*)$", item, re.IGNORECASE)
        if m:
            out.append(
                {
                    "name": m.group(1),
                    "source": m.group(2),
                    "type": m.group(3).strip() or "varchar",
                }
            )
            continue
        m = re.match(r"(\S+)\s*(.*)$", item)
        name = m.group(1)
        out.append({"name": name, "source": name, "type": m.group(2).strip() or "varchar"})
    return out


def create_view_sql(columns: list[dict], source_table: str) -> str:
    """Spark SQL for the unifying view: renames via `using`, NULLs for
    `not used` — how EdgeLake presents one schema over heterogeneous
    tables (db_info.py:1432, unify_results.py:1050-1063)."""
    items = []
    for col in columns:
        target = _spark_type(col["type"])
        if col["source"] is None:
            items.append(f"CAST(NULL AS {target}) AS {col['name']}")
        else:
            items.append(f"CAST({col['source']} AS {target}) AS {col['name']}")
    return f"SELECT {', '.join(items)} FROM {source_table}"


def rows_count_estimate(sf_dir: str, tables: list[str]) -> list[tuple[str, int]]:
    """estimate = true: metadata-only counts from parquet footers — no
    scan, the same answer-from-statistics idea as the reference's
    estimate mode (db_info.py:1874-1901 estimate_rows). At 100 TB this
    is the difference between a catalog lookup and a cluster job."""
    import os

    import pyarrow.parquet as pq

    out = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            out.append((t, pq.ParquetFile(path).metadata.num_rows))
    return out


def rows_count(spark: SparkSession, tables: list[str]) -> DataFrame:
    """`get rows count ... group = table` — one row per table."""
    parts = [
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in tables
    ]
    return spark.sql(" UNION ALL ".join(parts) + " ORDER BY table_name")


def info_table_columns(spark: SparkSession, table: str) -> DataFrame:
    """`info table <t> columns` — column name/type listing."""
    df = spark.table(table)
    rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return local_frame(spark, rows, "column_name string, column_type string")


def suggest_create(table_name: str, rows: list[dict], with_system_columns: bool = True) -> str:
    """`suggest create` — CREATE TABLE DDL inferred from JSON rows,
    system columns first (reference suggest_create_table.py:255
    create_table_sql)."""
    schema = infer_schema(rows)
    lines = []
    if with_system_columns:
        lines += [
            "\trow_id SERIAL PRIMARY KEY,",
            "\tinsert_timestamp TIMESTAMP NOT NULL DEFAULT NOW(),",
            "\ttsd_name CHAR(3),",
            "\ttsd_id INT,",
        ]
    for col, el_type in schema.items():
        suffix = " NOT NULL DEFAULT NOW()" if el_type in ("TIMESTAMP", "DATE", "TIME") else ""
        lines.append(f"\t{col} {el_type}{suffix},")
    body = "\n".join(lines).rstrip(",")
    return f"CREATE TABLE IF NOT EXISTS {table_name}(\n{body}\n);"


def get_data_nodes(
    spark: SparkSession,
    store,
    company: str = "*",
    dbms: str = "*",
    table: str = "*",
) -> DataFrame:
    """`get data nodes` — which operator node hosts which table, from
    cluster + operator policies in the ledger (reference
    member_cmd.py:16226-16359 get_data_nodes over
    metadata.get_operators_by_company; the title row :16264).

    One row per (table, operator) pair. In the Spark world an "operator
    node" maps to an executor-hosted dataset partition, but the
    metadata answer — who serves the data — comes from the same ledger
    policies the reference uses.
    """
    clusters = {}
    for p in store.blockchain_get("cluster"):
        body = p["cluster"]
        clusters[str(body.get("id", body.get("name", "")))] = body
    rows = []
    for p in store.blockchain_get("operator"):
        body = p["operator"]
        cluster_id = str(body.get("cluster", ""))
        cluster = clusters.get(cluster_id, {})
        tables = cluster.get("table", [])
        if isinstance(tables, dict):
            tables = [tables]
        for t in tables or [{}]:
            row = (
                cluster.get("company", body.get("company", "")),
                t.get("dbms", ""),
                t.get("name", ""),
                cluster_id,
                body.get("name", ""),
                str(body.get("member", "")),
                f"{body.get('ip', '')}:{body.get('port', '')}",
                f"{body.get('local_ip', body.get('ip', ''))}:{body.get('port', '')}",
                bool(body.get("main", True)),
            )
            rows.append(row)
    df = local_frame(
        spark, rows or [],
        "company string, dbms string, table string, cluster_id string, "
        "node_name string, member_id string, external_ip_port string, "
        "local_ip_port string, main boolean",
    )
    for col, val in (("company", company), ("dbms", dbms), ("table", table)):
        if val != "*":
            df = df.filter(F.col(col) == val)
    return df


def get_virtual_tables(
    spark: SparkSession,
    store,
    company: str = "*",
    dbms: str = "*",
    table: str = "*",
    with_info: bool = False,
) -> DataFrame:
    """`get virtual tables [info]` — the distinct (company, dbms, table)
    set served by the network, with cluster id + copy count under
    ``info`` (reference member_cmd.py:16361-16460)."""
    nodes = get_data_nodes(spark, store, company, dbms, table)
    if not with_info:
        return nodes.select("company", "dbms", "table").distinct().orderBy("company", "dbms", "table")
    return (
        nodes.groupBy("company", "dbms", "table", "cluster_id")
        .agg(F.count("*").alias("copies"))
        .orderBy("company", "dbms", "table")
    )


def test_table_schema(spark, store, dbms: str, table: str, resolve) -> list[tuple]:
    """``test table <t> where dbms = <d>`` — compare the ledger's
    declared table schema against the live table schema (reference
    member_cmd.py:14816 test_table: blockchain_select_schema vs
    db_info.get_table_info per table, reply 'Passed' or the failure).
    ``table='*'`` tests every ledger-registered table of the dbms.
    Returns (dbms, table, result) rows."""
    def _table_policies():
        for p in store.policies:
            body = p.get("table")
            if isinstance(body, dict) and body.get("dbms") in (dbms, None, ""):
                yield body

    if table == "*":
        names = sorted({b.get("name", "") for b in _table_policies()} - {""})
        if not names:
            return [(dbms, "*", f"Failed: no tables in the ledger for dbms '{dbms}'")]
    else:
        names = [table]

    rows = []
    for name in names:
        policy = next((b for b in _table_policies() if b.get("name") == name), None)
        if policy is None:
            rows.append((dbms, name, "Failed: blockchain schema not available"))
            continue
        declared = policy.get("columns") or {}
        if not declared and policy.get("create"):
            # reference table policies carry the full CREATE statement;
            # pull `<name> <type>` column pairs out of its body
            body = policy["create"]
            body = body[body.index("(") + 1 :] if "(" in body else body
            for item in split_top_level(body.rstrip("); \n")):
                cm = re.match(r"\s*(\w+)\s+(\w+(?:\s*\(\d+(?:,\d+)?\))?)", item)
                if cm and cm.group(1).lower() not in (
                    "primary", "unique", "constraint", "foreign",
                ):
                    declared[cm.group(1)] = cm.group(2).strip()
        try:
            actual = {f.name: f.dataType for f in spark.table(resolve(name)).schema.fields}
        except Exception:
            rows.append((dbms, name, "Failed: dbms schema not available or dbms not connected"))
            continue
        problems = []
        for col, el_type in declared.items():
            from edgelake_spark.ingest.infer import edgelake_to_spark_type

            want = edgelake_to_spark_type(str(el_type).upper())
            if col not in actual:
                problems.append(f"missing column {col}")
            elif actual[col] != want:
                problems.append(
                    f"{col}: ledger {want.simpleString()} != dbms {actual[col].simpleString()}"
                )
        rows.append((dbms, name, "Passed" if not problems else "Failed: " + "; ".join(problems)))
    return rows
