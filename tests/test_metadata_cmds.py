"""blockchain commands + get data nodes / get virtual tables over the
policy ledger."""

import json

import pytest

from edgelake_spark.engine import EdgeLakeEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = EdgeLakeEngine(spark)
    eng.run('blockchain insert {"cluster": {"id": "c1", "company": "acme", "table": [{"dbms": "iot", "name": "sensors"}, {"dbms": "iot", "name": "pumps"}]}}')
    eng.run('blockchain insert {"operator": {"name": "op1", "cluster": "c1", "ip": "10.0.0.1", "port": 32148, "member": 12}}')
    eng.run('blockchain insert {"operator": {"name": "op2", "cluster": "c1", "ip": "10.0.0.2", "port": 32148, "member": 14}}')
    return eng


def test_blockchain_get_and_bring(engine):
    rows = engine.run("blockchain get operator").collect()
    assert len(rows) == 2
    got = engine.run('blockchain get operator where name = op1 bring [operator][ip]').collect()
    assert got[0].result == "10.0.0.1"


def test_blockchain_save_load_roundtrip(engine, tmp_path):
    path = tmp_path / "ledger.jsonl"
    n = engine.run(f"blockchain save {path}").collect()[0].policies
    assert n == 3
    eng2 = EdgeLakeEngine(engine.spark)
    assert eng2.run(f"blockchain load {path}").collect()[0].policies == 3
    assert len(eng2.run("blockchain get cluster").collect()) == 1


def test_get_data_nodes(engine):
    df = engine.run("get data nodes")
    rows = df.collect()
    # 2 operators × 2 tables in the cluster
    assert len(rows) == 4
    assert {r.node_name for r in rows} == {"op1", "op2"}
    assert {r.table for r in rows} == {"sensors", "pumps"}
    assert rows[0].company == "acme"
    one = engine.run("get data nodes where table = sensors").collect()
    assert len(one) == 2 and all(r.table == "sensors" for r in one)


def test_get_virtual_tables(engine):
    rows = engine.run("get virtual tables").collect()
    assert [(r.dbms, r.table) for r in rows] == [("iot", "pumps"), ("iot", "sensors")]
    info = engine.run("get virtual tables info").collect()
    assert all(r.copies == 2 for r in info)  # two operators per cluster


def test_query_status_and_explain(spark):
    from datetime import datetime

    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    eng.run('sql d "select count(*) as n from events"')
    eng.run('sql d "select event_type, count(*) as n from events group by event_type"')
    status = eng.run("query status").collect()
    assert len(status) == 2
    assert "GROUP BY" in status[-1].rewritten_sql
    plan = eng.run("query explain last").collect()[0]
    assert plan.job_id == status[-1].job_id
    assert "Physical Plan" in plan.plan and "HashAggregate" in plan.plan
    # older entries dropped their DataFrame ref but kept the plan string
    assert eng.query_log[0]["df"] is None and "Physical Plan" in eng.query_log[0]["plan"]
    old = eng.run(f"query explain {status[0].job_id}").collect()[0]
    assert old.job_id == status[0].job_id and "Physical Plan" in old.plan
    # a non-numeric selector falls back to the latest entry, no raise
    foo = eng.run("query explain foo").collect()[0]
    assert foo.job_id == status[-1].job_id
    # an unknown numeric job id explains nothing, like query destination
    assert eng.run("query explain 999999").collect() == []


def test_query_destination(spark):
    """Reference `query destination [all/ID]` (member_cmd.py:13191):
    per-job (Job, Destination, DBMS, Table, Command) rows. Single-engine
    mapping: the file locations each job's plan actually scanned, plus
    the pruning predicates that bounded the scan."""
    from datetime import datetime

    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    eng.run('sql db "select count(*) as n from events where value > 100"')
    eng.run(
        'sql db "select l_returnflag, sum(l_quantity) as q'
        ' from lineitem group by l_returnflag"'
    )
    # bare form = last job only
    last = eng.run("query destination").collect()
    assert len(last) == 1 and last[0].table_name == "lineitem"
    assert last[0].destination.endswith("lineitem.parquet")
    assert last[0].dbms == "db"
    # all = every logged job; the filtered scan shows its pushdown
    rows = eng.run("query destination all").collect()
    assert {r.table_name for r in rows} == {"events", "lineitem"}
    ev = next(r for r in rows if r.table_name == "events")
    assert "PushedFilters" in ev.scan_filters and "value" in ev.scan_filters
    # numeric selector picks that job
    first = eng.run(f"query destination {rows[0].job_id}").collect()
    assert all(r.job_id == rows[0].job_id for r in first)
    # an UNKNOWN job id yields an empty result, never another job's rows
    assert eng.run("query destination 999999").collect() == []
    # command surface is discoverable
    assert any(
        "query destination" in r.command for r in eng.run("help query").collect()
    )
    # nested-bracket predicates (In(col, [..])) survive un-truncated
    eng.run('sql db "select count(*) as n from events where user_id in (1, 2, 3)"')
    last2 = eng.run("query destination").collect()[0]
    assert "In(user_id, [1,2,3])]" in last2.scan_filters


def test_query_destination_partition_filters(spark, tmp_path):
    """On a partitioned managed table, `query destination` surfaces the
    PartitionFilters that pruned the scan — the single-engine analogue
    of the reference's which-nodes-served-this answer."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from edgelake_spark.ingest.partitions import (
        PARTITION_COL,
        tx_partitions,
        write_partitioned_tx,
    )
    from edgelake_spark.txlog import TxTable
    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    df = eng.spark.table("events").withColumn("ts", F.col("ts"))
    ppath = str(tmp_path / "events_part")
    write_partitioned_tx(df, TxTable(ppath), "ts", unit="day", count=7)
    eng.attach_partitioned("d.events_part", ppath)
    bucket = tx_partitions(TxTable(ppath))[0]
    eng.run(
        f'sql d "select count(*) as n from events_part'
        f" where {PARTITION_COL} = '{bucket}'\""
    )
    rows = eng.run("query destination").collect()
    assert len(rows) >= 1 and rows[0].table_name == "events_part"
    assert "PartitionFilters" in rows[0].scan_filters
    assert PARTITION_COL in rows[0].scan_filters


def test_query_destination_names_dml_table(spark, tmp_path):
    """After a DELETE the table reads from its TxTable, whose scan lists
    files under <root>/data/<stage>/: `query destination` names the
    table (the TxTable root), not the first part file, and names it
    once although the read unions one scan per commit stage."""
    from datetime import datetime

    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1), work_dir=str(tmp_path))
    eng.run('sql d "delete from orders where o_orderkey = 1"')
    eng.run('sql d "insert into orders (o_orderkey) values (900001)"')
    eng.run('sql d "insert into orders (o_orderkey) values (900002)"')
    eng.run('sql d "select count(*) as n from orders"')
    rows = eng.run("query destination").collect()
    assert len(rows) == 1
    assert rows[0].table_name == "orders"
    assert rows[0].destination.endswith("/orders")


def test_dest_buffer(spark):
    from datetime import datetime

    from tests.conftest import SF_DIR

    eng = EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))
    eng.run('sql d format = json dest = buffer:res1 "select count(*) as n from events"')
    import json as _json

    assert _json.loads(eng.buffers["res1"])["Query"][0]["n"] == 1000


def test_bring_children_and_null(spark):
    eng = EdgeLakeEngine(spark)
    eng.run('blockchain insert {"cluster": {"name": "c1", "id": "cid1", "date": "2024-01-01"}}')
    eng.run('blockchain insert {"operator": {"name": "op1", "parent": "cid1", "id": "o1", "date": "2024-01-01"}}')
    eng.run('blockchain insert {"operator": {"name": "op2", "parent": "cid1", "id": "o2", "date": "2024-01-01", "extra": 1}}')
    got = eng.run(
        'blockchain get cluster where name = c1 bring.children [operator][name] separator = ","'
    ).collect()[0].result
    assert got == "op1,op2"
    # bring.null renders missing paths as "null" instead of dropping
    got = eng.run(
        'blockchain get operator bring.null [operator][extra] separator = ","'
    ).collect()[0].result
    assert got == "null,1"


def test_streaming_condition_and_monitor_commands(spark):
    import json as _json

    eng = EdgeLakeEngine(spark)
    r = eng.run(
        "set streaming condition where dbms = edgex and table = rand_data and limit = 3 "
        "if [value] > 10 then ignore entry"
    ).collect()[0]
    assert r.table_key == "edgex.rand_data" and r.condition_id == 0
    eng.run(
        "set streaming condition where dbms = edgex and table = rand_data "
        "if [value] < 0 then alert"
    )
    conds = eng.run("get streaming conditions where dbms = edgex").collect()
    assert len(conds) == 2 and conds[0].action == "ignore entry"
    # conditions actually drop rows when applied to a batch
    from edgelake_spark.streaming.conditions import apply_conditions

    batch = spark.createDataFrame([(5.0,), (50.0,)], "value double")
    kept = apply_conditions(batch, eng.streaming_conditions["edgex.rand_data"])
    assert [r.value for r in kept.collect()] == [5.0]
    # reset by id
    assert eng.run(
        "reset streaming condition where dbms = edgex and table = rand_data and id = 1"
    ).collect()[0].removed == 1
    assert len(eng.run("get streaming conditions").collect()) == 1

    # data monitor lifecycle
    eng.run(
        "data monitor where dbms = edgex and table = rand_data and intervals = 4 "
        "and time = 1 minute and value_column = value"
    )
    eng.monitors["edgex.rand_data"].process_batch(batch)
    snap = eng.run("get data monitor where dbms = edgex").collect()
    assert len(snap) == 1 and snap[0]["count"] == 2 and snap[0]["max"] == 50.0


def test_test_table_command(spark):
    from tests.conftest import SF_DIR

    engine = EdgeLakeEngine(spark, SF_DIR)
    # declared schema matches the live events view
    engine.run(
        'blockchain insert {"table": {"name": "events", "dbms": "d", "columns": '
        '{"event_id": "bigint", "event_type": "varchar", "value": "float", "ts": "timestamp"}}}'
    )
    # declared schema with a wrong type and a missing column
    engine.run(
        'blockchain insert {"table": {"name": "orders", "dbms": "d", "columns": '
        '{"o_orderkey": "varchar", "no_such_col": "int"}}}'
    )
    out = {r.table_name: r.result for r in engine.run("test table events where dbms = d").collect()}
    assert out == {"events": "Passed"}
    out = {r.table_name: r.result for r in engine.run("test table orders where dbms = d").collect()}
    assert out["orders"].startswith("Failed:")
    assert "o_orderkey" in out["orders"] and "no_such_col" in out["orders"]
    # wildcard covers every ledger table of the dbms
    out = {r.table_name: r.result for r in engine.run("test table * where dbms = d").collect()}
    assert set(out) == {"events", "orders"}
    # table present in ledger check: unknown table → blockchain-side failure
    out = engine.run("test table nope where dbms = d").collect()
    assert out[0].result == "Failed: blockchain schema not available"


def test_test_table_from_create_ddl(spark):
    from tests.conftest import SF_DIR

    engine = EdgeLakeEngine(spark, SF_DIR)
    engine.run(
        'blockchain insert {"table": {"name": "region", "dbms": "d", "create": '
        '"CREATE TABLE region (r_regionkey int, r_name varchar);"}}'
    )
    out = engine.run("test table region where dbms = d").collect()
    assert out[0].result == "Passed"


def test_test_node_command(engine):
    out = {r.service: r.result for r in engine.run("test node").collect()}
    assert set(out) == {"catalog", "ledger", "sql"}
    assert all(v.startswith("Passed") for v in out.values())


def test_bring_ip_port(engine):
    out = engine.run("blockchain get operator bring.ip_port").collect()
    flat = [r[0] for r in out]
    assert any("10.0.0.1:32148" in str(v) for v in flat)
    assert any("10.0.0.2:32148" in str(v) for v in flat)


def test_create_policy_render_and_insert(engine):
    import json

    # without defaults: rendered only, ledger unchanged
    n0 = len(engine.policy_store.policies)
    out = engine.run(
        "create policy tag where company = acme and country = fr"
    ).collect()[0].policy
    body = json.loads(out)["tag"]
    assert body == {"company": "acme", "country": "fr"}
    assert len(engine.policy_store.policies) == n0

    # with defaults: role ports filled, id/date stamped, ledger grows
    out = engine.run(
        "create policy operator with defaults where company = acme"
    ).collect()[0].policy
    body = json.loads(out)["operator"]
    assert body["company"] == "acme"
    assert body["port"] == 32148 and body["rest_port"] == 32149
    assert body["id"] and body["date"]
    assert len(engine.policy_store.policies) == n0 + 1
    # and blockchain get sees it
    got = engine.run("blockchain get operator where company = acme").collect()
    assert any("32148" in str(r) for r in got)


def test_json_validate_and_python_expr(engine):
    # json: normalize / test (reference _to_json)
    out = engine.run('json {"a": 1, "b": [2, 3]}').collect()[0].json
    assert out == '{"a":1,"b":[2,3]}'
    assert engine.run('json {"a": 1} test').collect()[0].json == "true"
    assert engine.run("json not-json test").collect()[0].json == "false"

    # python: sandboxed pure expressions over dictionary values
    engine.run("set watch_dir = /data/watch/in")
    out = engine.run("python '!watch_dir'.rsplit('/', 1)[0] + '.out'")
    # the !name substitution happens before the handler; quotes keep it
    # a string literal inside the expression
    assert out.collect()[0].python == "/data/watch.out"
    assert engine.run("python 1 + 2 * 3").collect()[0].python == "7"
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.run("python __import__('os').getcwd()")


def test_help_inventory_and_prefix(engine):
    allrows = engine.run("help").collect()
    assert len(allrows) > 30
    gets = engine.run("help get").collect()
    assert gets and all(r.command.startswith("get") for r in gets)
    one = engine.run("help blockchain get").collect()
    assert len(one) == 1 and "bring" in one[0].usage


def test_help_lists_the_command_table(engine):
    """`help` is generated from the dispatch table: every row names a
    registered prefix that dispatches to its handler, and every
    registered prefix is listed exactly once."""
    from edgelake_spark.engine import _COMMANDS, _lookup

    names = [r.command for r in engine.run("help").collect()]
    assert sorted(names) == sorted(" ".join(key) for key in _COMMANDS)
    assert len(names) == len(set(names))
    for name in names:
        found = _lookup(name)
        assert found is not None and found[0] == name
        assert found[1] is _COMMANDS[tuple(name.split())][1]


@pytest.mark.parametrize(
    "command, prefix",
    [
        ("get status", "get status"),
        ("get status where format = json", "get status"),
        ("get streaming", "get streaming"),
        ("get streaming conditions where dbms = d", "get streaming conditions"),
        ("get streaming log", "get streaming log"),
        ("set streaming condition where dbms = d if [v] > 1 then x", "set streaming condition"),
        ("set x = y", "set"),
        ("set streaming = 1", "set"),
        ("drop table t", "drop table"),
        ("drop dbms d", "drop dbms"),
        ("drop partition where table = t and date < '2024-02'", "drop partition"),
        ("drop policy where id = 1", "drop policy"),
        ("delete policy where id = 1", "delete policy"),
        ("data monitor where dbms = d", "data monitor"),
        ("get data monitor", "get data monitor"),
        ("get data nodes where company = acme", "get data nodes"),
        ("GET  Rows\tCount where table = x", "get rows count"),
        ('sql d "select 1"', "sql"),
        ("select count(*) from events", None),
        ("delete from events where x = 1", None),
    ],
)
def test_longest_registered_prefix_wins(command, prefix):
    from edgelake_spark.engine import _lookup

    found = _lookup(command)
    assert (found[0] if found else None) == prefix


def test_generate_insert_from_json(engine, tmp_path):
    f = tmp_path / "readings.json"
    f.write_text(
        '{"device": "d1", "value": 3, "ok": true}\n'
        '{"device": "d\'2", "value": 4.5}\n'
    )
    out = engine.run(
        f"generate insert from json where dbms_name = iot and "
        f"table_name = readings and json_file = {f} and sql_dir = {tmp_path}/sql"
    ).collect()
    stmts = [r.insert_statement for r in out]
    assert stmts[0] == (
        "INSERT INTO iot.readings (device, value, ok) VALUES ('d1', 3, true);"
    )
    # value widened INT|FLOAT -> FLOAT applies per-row rendering of raw
    # numbers; embedded quote doubles
    assert "('d''2', 4.5)" in stmts[1]
    assert (tmp_path / "sql" / "readings.sql").read_text().count("INSERT") == 2


def test_config_from_policy(engine):
    import json

    out = engine.run(
        "create policy config with defaults where node_name = edge-7 and threads = 12"
    ).collect()[0].policy
    pid = json.loads(out)["config"]["id"]
    applied = {r.key: r.value for r in engine.run(f"config from policy where id = {pid}").collect()}
    assert applied["node_name"] == "edge-7" and applied["threads"] == "12"
    # the dictionary now resolves the keys in any command
    assert engine.run("print !node_name").collect()[0].print == "edge-7"


def test_time_file_provenance_roundtrip(engine, tmp_path):
    # rename an arbitrary file into the TSD naming convention
    raw = tmp_path / "batch.json"
    raw.write_text('{"a": 1}\n')
    new_path = engine.run(
        f"time file rename {raw} to dbms = iot and table = readings and source = 42"
    ).collect()[0].file
    import os, re

    assert os.path.exists(new_path) and not raw.exists()
    base = os.path.basename(new_path)
    assert re.match(r"iot\.readings\.42\.[0-9a-f]{32}\.0\.\d{12}\.json$", base)

    # add validates existence and registers; new parses the name only
    row = engine.run(f'time file add {new_path} "from publisher"').collect()[0]
    assert row.tsd_table == "tsd_42" and row.row_id == 1
    assert row.dbms == "iot" and row.table_name == "readings"
    assert row.status1 == "from publisher"

    # update by hash, get with filter, delete by row id
    h = row.hash
    assert engine.run(f'time file update {h} delivered archived').collect()[0].updated == 1
    got = engine.run("time file get where dbms = iot").collect()
    assert len(got) == 1 and got[0].status1 == "delivered" and got[0].status2 == "archived"
    assert engine.run("time file delete 1 from tsd_42").collect()[0].deleted == 1
    assert engine.run("time file get").collect() == []

    # non-convention names are rejected
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.run("time file new not-a-convention-name.json")


def test_from_json_bring(engine):
    engine.run(
        'set selected_operator = {"operator": {"ip": "10.0.0.7", "port": 32148}}'
    )
    out = engine.run(
        "from !selected_operator bring ['operator']['ip'] \":\" ['operator']['port']"
    ).collect()[0]["from"]
    assert out == "10.0.0.7:32148"


def test_stream_command_buffers_rows(engine):
    engine.run(
        'stream {"device": "d1", "value": 3} where dbms = iot and table = pings'
    )
    out = engine.run(
        'stream [{"device": "d2", "value": 5}, {"device": "d3", "value": 7}] '
        "where dbms = iot and table = pings"
    ).collect()[0]
    assert out.ingested == 2
    rows = engine.run(
        'sql iot "SELECT device, value FROM pings ORDER BY device"'
    ).collect()
    assert [(r.device, r.value) for r in rows] == [("d1", 3), ("d2", 5), ("d3", 7)]


def test_monitor_topics_roundtrip(engine):
    import json

    engine.run(
        'monitor operator where ip = 10.0.0.7 and name = op1 and '
        'info = {"total events": 1000, "events per second": 10}'
    )
    engine.run(
        'monitor operator where ip = 10.0.0.8 and name = op2 and '
        'info = {"total events": 500}'
    )
    topics = [r.topic for r in engine.run("get monitored").collect()]
    assert topics == ["operator"]
    nodes = {r.node: json.loads(r.info) for r in engine.run("get monitored operator").collect()}
    assert nodes["op1@10.0.0.7"]["total events"] == 1000
    assert "Update time" in nodes["op2@10.0.0.8"]
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.run("get monitored nosuch")
