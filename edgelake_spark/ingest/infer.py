"""Schema inference with EdgeLake's exact value→type rules and widening
lattice.

Spark's own JSON inference differs (no CHAR(n)/UUID/CIDR detection, no
"integer > 0x5F5E0FF ⇒ BIGINT" rule, no epoch-in-'time'-column guess),
so this module reimplements the reference's pass
(edge_lake/json_to_sql/suggest_create_table.py:171-226
get_column_type_by_value; widening :123-165 resolve_data_type) and maps
the result onto Spark types (SURVEY.md §1.2 table).

System columns (suggest_create_table.py:255): row_id, insert_timestamp,
tsd_name, tsd_id. They are values of the batch, fixed on the driver when
it is built: ``row_id SERIAL`` is the table's count of rows ingested
before this batch + 1..n (the caller passes ``first_row_id``; the engine
keeps the count per table), and ``insert_timestamp`` is the batch's
ingest time (UTC), the same for every row and for every later read.

The batch becomes a JVM-local DataFrame (``localframe.local_frame``):
reads of freshly ingested rows never start Python workers.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from edgelake_spark.localframe import local_frame

_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)
_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?Z?$")
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TIME_RE = re.compile(r"^\d{2}:\d{2}:\d{2}(\.\d+)?$")
_IP_RE = re.compile(r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})(/\d{1,2})?$")

#: |int| above this is BIGINT (reference: 0x5F5E0FF, suggest_create_table.py:176)
INT_MAX_ABS = 0x5F5E0FF

#: epoch seconds for 2000-01-01 (reference is_timestamp_at_least_2000)
_EPOCH_2000 = 946684800


def _is_ip(value: str) -> bool:
    m = _IP_RE.match(value)
    return bool(m) and all(int(m.group(i)) <= 255 for i in range(1, 5))


def infer_value_type(column_name: str, value) -> str:
    """EdgeLake type name for one JSON value
    (reference get_column_type_by_value, suggest_create_table.py:171)."""
    if isinstance(value, bool):
        return "BOOLEAN"
    if isinstance(value, int):
        return "BIGINT" if abs(value) > INT_MAX_ABS else "INT"
    if isinstance(value, float):
        # "decimal" = float printed with 1..5 decimal digits (:184)
        frac = str(value).split(".")[-1]
        if value and 1 <= len(frac) <= 5:
            return "DECIMAL"
        return "FLOAT"
    if isinstance(value, str):
        if not value:
            return "VARCHAR"
        if _UUID_RE.match(value):
            return "UUID"
        if _TS_RE.match(value):
            return "TIMESTAMP"
        if _DATE_RE.match(value):
            return "DATE"
        if _TIME_RE.match(value):
            return "TIME"
        if _is_ip(value):
            return "CIDR"
        if "time" in column_name and value.isdigit() and int(value) >= _EPOCH_2000:
            # epoch guess for *time* columns (:205)
            return "TIMESTAMP"
        n = len(value)
        if n <= 19 and "." in value:
            try:
                float(value)
                return "FLOAT"
            except ValueError:
                pass
        if value.isdigit() or (value[0] == "-" and n > 1 and value[1:].isdigit()):
            return "INT" if n < 9 else "BIGINT"
        if n <= 8:
            return f"CHAR({n})"
        return "VARCHAR"
    # lists / dicts / None → VARCHAR (:222-224)
    return "VARCHAR"


def resolve_type(one: str, two: str) -> str:
    """Widening lattice (reference resolve_data_type,
    suggest_create_table.py:123-165)."""
    if one == two:
        return one
    chars = one.startswith("CHAR(") + two.startswith("CHAR(")
    if chars:
        if chars == 2:
            return one if int(one[5:-1]) > int(two[5:-1]) else two
        if one == "VARCHAR" or two == "VARCHAR":
            return "VARCHAR"
        return "CHAR(32)"
    a, b = sorted((one, two))
    if a == "DECIMAL":
        if b == "INT":
            return "DECIMAL"
        if b == "FLOAT":
            return "FLOAT"
    elif a == "FLOAT":
        return "FLOAT"
    elif a == "BIGINT":
        if b in ("INT", "DECIMAL"):
            return "BIGINT"
    return "VARCHAR"


def infer_schema(rows: list[dict]) -> dict[str, str]:
    """Column → EdgeLake type over a batch of JSON rows, widening across
    rows. Null-only columns fall back to VARCHAR."""
    out: dict[str, str] = {}
    for row in rows:
        for col, value in row.items():
            # None infers VARCHAR (reference: non-str/int/float/bool →
            # VARCHAR), so a null-containing column widens to VARCHAR —
            # matching the reference's behavior and FIXTURES F3
            t = infer_value_type(col, value)
            out[col] = resolve_type(out[col], t) if col in out else t
    return out


#: EdgeLake type → Spark type (SURVEY.md §1.2)
def edgelake_to_spark_type(el_type: str) -> T.DataType:
    if el_type.startswith("CHAR(") or el_type in ("VARCHAR", "UUID", "CIDR", "TIME"):
        return T.StringType()
    return {
        "BOOLEAN": T.BooleanType(),
        "INT": T.IntegerType(),
        "BIGINT": T.LongType(),
        "DECIMAL": T.DoubleType(),  # reference "decimal" is a short float
        "FLOAT": T.DoubleType(),
        "TIMESTAMP": T.TimestampType(),
        "DATE": T.DateType(),
    }.get(el_type, T.StringType())


def _coerce(value, el_type: str):
    """Python-side value coercion to the inferred type (reference
    utils_columns.py:848-854)."""
    if value is None:
        return None
    try:
        if el_type == "BOOLEAN":
            if isinstance(value, bool):
                return value
            return str(value).lower() in ("true", "1")
        if el_type in ("INT", "BIGINT"):
            return int(value)
        if el_type in ("DECIMAL", "FLOAT"):
            return float(value)
        if el_type == "TIMESTAMP":
            if isinstance(value, str) and value.isdigit():
                return datetime.fromtimestamp(int(value), tz=timezone.utc).replace(tzinfo=None)
            s = str(value).rstrip("Z").replace("T", " ")
            if "." not in s:
                s += ".0"
            return datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
        if el_type == "DATE":
            return datetime.strptime(str(value)[:10], "%Y-%m-%d").date()
        if isinstance(value, (dict, list)):
            import json

            return json.dumps(value)
        return str(value)
    except (ValueError, TypeError):
        return None


#: system columns appended to every ingested row (reference
#: suggest_create_table.py:255)
SYSTEM_FIELDS = [
    T.StructField("row_id", T.LongType(), False),
    T.StructField("insert_timestamp", T.TimestampType(), False),
    T.StructField("tsd_name", T.StringType(), False),
    T.StructField("tsd_id", T.IntegerType(), False),
]
_SYSTEM_NAMES = {f.name for f in SYSTEM_FIELDS}


def rows_to_dataframe(
    spark: SparkSession,
    rows: list[dict],
    add_system_columns: bool = True,
    tsd_name: str = "t01",
    tsd_id: int = 0,
    schema: dict[str, str] | None = None,
    first_row_id: int = 1,
) -> DataFrame:
    """JSON rows → typed DataFrame with EdgeLake system columns; row i
    (from 0) gets ``row_id = first_row_id + i``."""
    el_schema = schema or infer_schema(rows)
    if add_system_columns:
        # a user column named like a system column is replaced by it
        el_schema = {c: t for c, t in el_schema.items() if c not in _SYSTEM_NAMES}
    fields = [T.StructField(c, edgelake_to_spark_type(t), True) for c, t in el_schema.items()]
    data = [[_coerce(row.get(c), el_schema[c]) for c in el_schema] for row in rows]
    if add_system_columns:
        fields += SYSTEM_FIELDS
        stamp = datetime.now(timezone.utc)
        for n, values in enumerate(data):
            values += (first_row_id + n, stamp, tsd_name, tsd_id)
    return local_frame(spark, data, T.StructType(fields))
