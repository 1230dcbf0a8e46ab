"""Schema inference: exact rules from FIXTURES.md F3 / reference
suggest_create_table.py:171-226 + widening lattice :123-165."""

from edgelake_spark.ingest.infer import infer_schema, infer_value_type, resolve_type


def test_value_types_f3():
    assert infer_value_type("ok", True) == "BOOLEAN"
    assert infer_value_type("small_int", 3) == "INT"
    assert infer_value_type("small_int", -17) == "INT"
    assert infer_value_type("big_int", 99999999999) == "BIGINT"
    assert infer_value_type("x", 0x5F5E0FF) == "INT"
    assert infer_value_type("x", 0x5F5E0FF + 1) == "BIGINT"
    assert infer_value_type("short_float", 0.25) == "DECIMAL"
    assert infer_value_type("short_float", 3.14159) == "DECIMAL"
    assert infer_value_type("long_float", 0.7734120585621161) == "FLOAT"
    assert infer_value_type("short_str", "abc") == "CHAR(3)"
    assert infer_value_type("long_str", "longer than eight") == "VARCHAR"
    assert infer_value_type("uid", "123e4567-e89b-12d3-a456-426614174000") == "UUID"
    assert infer_value_type("ts", "2026-01-27T23:08:41.217357Z") == "TIMESTAMP"
    assert infer_value_type("d", "2026-01-27") == "DATE"
    assert infer_value_type("t", "23:08:41") == "TIME"
    assert infer_value_type("addr", "10.0.0.78") == "CIDR"
    assert infer_value_type("unix_time", "1750000000") == "TIMESTAMP"
    assert infer_value_type("plain", "1750000000") == "BIGINT"  # no 'time' in name
    assert infer_value_type("nested", {"a": 1}) == "VARCHAR"
    assert infer_value_type("nested", [1, 2]) == "VARCHAR"
    assert infer_value_type("only_null", None) == "VARCHAR"
    assert infer_value_type("s", "") == "VARCHAR"
    assert infer_value_type("numstr", "12345678") == "INT"  # len<9
    assert infer_value_type("numstr", "123456789") == "BIGINT"
    assert infer_value_type("floatstr", "1.25") == "FLOAT"  # string floats are FLOAT


def test_widening_lattice():
    assert resolve_type("INT", "DECIMAL") == "DECIMAL"
    assert resolve_type("DECIMAL", "FLOAT") == "FLOAT"
    assert resolve_type("INT", "BIGINT") == "BIGINT"
    assert resolve_type("DECIMAL", "BIGINT") == "BIGINT"
    assert resolve_type("FLOAT", "INT") == "FLOAT"
    assert resolve_type("CHAR(3)", "CHAR(5)") == "CHAR(5)"
    assert resolve_type("CHAR(3)", "VARCHAR") == "VARCHAR"
    assert resolve_type("CHAR(3)", "INT") == "CHAR(32)"
    assert resolve_type("INT", "VARCHAR") == "VARCHAR"
    assert resolve_type("TIMESTAMP", "INT") == "VARCHAR"


def test_infer_schema_widens_across_rows():
    rows = [
        {"widen_me": 1, "widen_str": 1, "ok": True},
        {"widen_me": 2.5, "widen_str": "x", "ok": False, "extra": None},
    ]
    schema = infer_schema(rows)
    assert schema["widen_me"] == "DECIMAL"
    # INT ∨ CHAR(1) → CHAR(32) per the reference's resolve_data_type
    # (suggest_create_table.py:131-142): only CHAR ∨ VARCHAR yields VARCHAR
    assert schema["widen_str"] == "CHAR(32)"
    assert schema["ok"] == "BOOLEAN"
    assert schema["extra"] == "VARCHAR"


def test_rows_to_dataframe(spark):
    from edgelake_spark.ingest.infer import rows_to_dataframe

    rows = [
        {"ts": "2024-01-01T10:00:00.000Z", "value": 1.5, "name": "abc", "n": 3},
        {"ts": "2024-01-02T11:30:00.000Z", "value": 2.5, "name": "de", "n": 99999999999},
    ]
    df = rows_to_dataframe(spark, rows)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["ts"] == "timestamp"
    assert schema["value"] == "double"
    assert schema["name"] == "string"
    assert schema["n"] == "bigint"  # widened INT ∨ BIGINT
    assert schema["row_id"] == "bigint"
    assert schema["tsd_name"] == "string"
    got = df.orderBy("row_id").collect()
    assert got[0].value == 1.5 and got[1].n == 99999999999


def test_arrow_path_value_parity(spark):
    """Every inferred EdgeLake type comes back from the JVM-local frame
    as the value the Python coercion produced."""
    from datetime import date, datetime

    from edgelake_spark.ingest.infer import rows_to_dataframe

    rows = [
        {
            "flag": True, "small": 7, "big": 99999999999, "short_f": 0.25,
            "long_f": 0.7734120585621161, "ts": "2026-01-27T23:08:41.217357Z",
            "unix_time": "1750000000", "day": "2026-01-27", "code": "abc",
            "note": "longer than eight", "uid": "123e4567-e89b-12d3-a456-426614174000",
            "addr": "10.0.0.78", "clock": "23:08:41", "obj": {"a": [1, 2]},
            "arr": [1, "x"], "gone": None,
        },
        {
            "flag": False, "small": -17, "big": 5, "short_f": 3, "long_f": 1.5,
            "ts": "2024-02-29 00:00:00", "unix_time": "946684800", "day": "1999-12-31",
            "code": "de", "note": "", "uid": "00000000-0000-0000-0000-000000000000",
            "addr": "192.168.1.0/24", "clock": "00:00:00.5", "obj": None,
            "arr": [], "gone": None,
        },
    ]
    df = rows_to_dataframe(spark, rows)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "flag": "boolean", "small": "int", "big": "bigint", "short_f": "double",
        "long_f": "double", "ts": "timestamp", "unix_time": "timestamp", "day": "date",
        "code": "string", "note": "string", "uid": "string", "addr": "string",
        "clock": "string", "obj": "string", "arr": "string", "gone": "string",
        "row_id": "bigint", "insert_timestamp": "timestamp", "tsd_name": "string",
        "tsd_id": "int",
    }
    got = [r.asDict() for r in df.orderBy("row_id").collect()]
    want = [
        {
            "flag": True, "small": 7, "big": 99999999999, "short_f": 0.25,
            "long_f": 0.7734120585621161, "ts": datetime(2026, 1, 27, 23, 8, 41, 217357),
            # epoch guess for a *time* column, read as UTC
            "unix_time": datetime(2025, 6, 15, 15, 6, 40), "day": date(2026, 1, 27),
            "code": "abc", "note": "longer than eight",
            "uid": "123e4567-e89b-12d3-a456-426614174000", "addr": "10.0.0.78",
            "clock": "23:08:41", "obj": '{"a": [1, 2]}', "arr": '[1, "x"]', "gone": None,
        },
        {
            "flag": False, "small": -17, "big": 5, "short_f": 3.0, "long_f": 1.5,
            "ts": datetime(2024, 2, 29), "unix_time": datetime(2000, 1, 1),
            "day": date(1999, 12, 31), "code": "de", "note": "",
            "uid": "00000000-0000-0000-0000-000000000000", "addr": "192.168.1.0/24",
            "clock": "00:00:00.5", "obj": None, "arr": "[]", "gone": None,
        },
    ]
    for g, w in zip(got, want):
        assert {k: g[k] for k in w} == w
    assert [(g["row_id"], g["tsd_name"], g["tsd_id"]) for g in got] == [(1, "t01", 0), (2, "t01", 0)]


def test_batch_is_jvm_local_with_fixed_system_values(spark):
    """The batch is a LocalRelation (no Python RDD to rescan), its
    insert_timestamp is one value fixed at ingest (two reads 1 s apart
    agree), and row_id counts from first_row_id."""
    import time
    from datetime import datetime, timedelta

    from edgelake_spark.ingest.infer import rows_to_dataframe

    before = datetime.utcnow()
    df = rows_to_dataframe(spark, [{"v": i} for i in range(5)], first_row_id=11)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    first = df.select("row_id", "insert_timestamp").orderBy("row_id").collect()
    time.sleep(1)
    second = df.select("row_id", "insert_timestamp").orderBy("row_id").collect()
    assert first == second
    assert [r.row_id for r in first] == [11, 12, 13, 14, 15]
    stamps = {r.insert_timestamp for r in first}
    assert len(stamps) == 1
    assert before - timedelta(seconds=1) <= stamps.pop() <= datetime.utcnow()


def test_user_column_named_like_system_column_is_replaced(spark):
    from edgelake_spark.ingest.infer import rows_to_dataframe

    df = rows_to_dataframe(spark, [{"row_id": "mine", "v": 1}])
    assert df.columns == ["v", "row_id", "insert_timestamp", "tsd_name", "tsd_id"]
    assert df.collect()[0].row_id == 1
