"""Admin commands (views, rows count, info table, suggest create) and
the REST façade."""

import json
import urllib.request

import pytest

from edgelake_spark.admin import suggest_create
from edgelake_spark.engine import EdgeLakeEngine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    from datetime import datetime

    return EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))


def test_create_view_rename_and_not_used(engine):
    # a view unifies schemas over the SAME-named table (here: events)
    engine.run(
        "create view viewdb.events ("
        "  device using event_type varchar,"
        "  reading using value float,"
        "  webid not used,"
        "  ts timestamp )"
    )
    df = engine.run('sql viewdb "select device, reading, webid, ts from viewdb.events order by ts limit 3"')
    rows = df.collect()
    assert df.columns == ["device", "reading", "webid", "ts"]
    assert rows[0].webid is None
    assert isinstance(rows[0].reading, float)
    assert rows[0].device in ("click", "view", "signup", "purchase", "error")


def test_get_rows_count(engine):
    df = engine.run("get rows count where dbms = d and table = events")
    rows = df.collect()
    assert rows[0].table_name == "events" and rows[0].n_rows == 1000
    all_counts = {r.table_name: r.n_rows for r in engine.run("get rows count").collect()}
    assert all_counts["region"] == 5 and all_counts["lineitem"] == 6000


def test_info_table_columns(engine):
    cols = {r.column_name: r.column_type for r in engine.run("info table d events columns").collect()}
    assert cols["ts"] == "timestamp" and cols["value"] == "double"


def test_suggest_create_ddl():
    ddl = suggest_create(
        "lsl.ping_sensor",
        [
            {"timestamp": "2024-01-01T10:00:00.0Z", "device_name": "adva", "value": 1.5},
            {"timestamp": "2024-01-01T10:00:10.0Z", "device_name": "adva", "value": 2},
        ],
    )
    assert "row_id SERIAL PRIMARY KEY" in ddl
    assert "timestamp TIMESTAMP NOT NULL DEFAULT NOW()" in ddl
    assert "device_name CHAR(4)" in ddl
    assert "value DECIMAL" in ddl  # DECIMAL ∨ INT → DECIMAL per the lattice


def test_rest_server_query_and_ingest(engine):
    from edgelake_spark.api import EdgeLakeRestServer

    server = EdgeLakeRestServer(engine).start()
    try:
        base = f"http://127.0.0.1:{server.port}/"
        req = urllib.request.Request(
            base,
            headers={
                "command": 'sql d format = json:list "select event_id from events order by event_id limit 2"',
                "User-Agent": "AnyLog/1.23",
            },
        )
        with urllib.request.urlopen(req) as resp:
            body = json.loads(resp.read())
        assert body == [{"event_id": 0}, {"event_id": 1}]

        rows = [
            {"timestamp": "2024-01-01T00:00:00.0Z", "value": 1.5},
            {"timestamp": "2024-01-01T00:01:00.0Z", "value": 2.5},
        ]
        put = urllib.request.Request(
            base,
            data=json.dumps(rows).encode(),
            method="PUT",
            headers={"dbms": "iot", "table": "readings", "mode": "streaming"},
        )
        with urllib.request.urlopen(put) as resp:
            assert json.loads(resp.read())["ingested"] == 2
        df = engine.run('sql iot "select count(*) as n from iot.readings"')
        assert df.collect()[0].n == 2

        # probe: bad command → 400 with an error body, server stays up
        bad = urllib.request.Request(base, headers={"command": 'sql d "select * from missing_t"'})
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(bad)
        assert exc_info.value.code == 400

        # malformed JSON bodies → 400 replies, not dropped connections
        bad_put = urllib.request.Request(
            base,
            data=b"{not json",
            method="PUT",
            headers={"dbms": "iot", "table": "readings"},
        )
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(bad_put)
        assert exc_info.value.code == 400
        bad_post = urllib.request.Request(
            base + "query", data=b"{not json", method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(bad_post)
        assert exc_info.value.code == 400
    finally:
        server.stop()


def test_dest_file_and_partition_commands(engine, tmp_path):
    from pyspark.sql import functions as F

    from edgelake_spark.ingest.partitions import write_partitioned_tx
    from edgelake_spark.txlog import TxTable

    # dest = file:<path>.json → distributed json write
    out = tmp_path / "out.json"
    engine.run(f'sql d dest = file:{out} "select event_id from events order by event_id limit 3"')
    back = engine.spark.read.json(str(out))
    assert back.count() == 3

    # partitioned dataset lifecycle: attach → get partitions → drop
    df = engine.spark.table("events").withColumn("ts", F.col("ts"))
    ppath = str(tmp_path / "events_part")
    write_partitioned_tx(df, TxTable(ppath), "ts", unit="day", count=7)
    engine.attach_partitioned("d.events_part", ppath)
    parts = engine.run("get partitions where table = events_part").collect()
    assert len(parts) >= 4 and parts[0].table_name == "d.events_part"
    dropped = engine.run(
        "drop partition where table = d.events_part and date < '2024-01-15'"
    ).collect()
    assert len(dropped) >= 1
    remaining = engine.run("get partitions where table = events_part").collect()
    assert len(remaining) == len(parts) - len(dropped)
    # querying the table after the drop must work (view refreshed, no
    # stale file-index FileNotFoundException) and see only kept rows
    n = engine.run('sql d "select count(*) as n from events_part"').collect()[0].n
    assert 0 < n < 1000
    mn = engine.run('sql d "select min(ts) as m from events_part"').collect()[0].m
    assert str(mn) >= "2024-01-15"


def test_rows_count_estimate(engine):
    est = {r.table_name: r.n_rows for r in engine.run(
        "get rows count where table = events and estimate = true"
    ).collect()}
    assert est == {"events": 1000}
    all_est = engine.run("get rows count where estimate = true").collect()
    assert len(all_est) == 10 and all(r.n_rows > 0 for r in all_est)


def test_rest_server_auth(engine):
    """401 gate (reference http_server basic-auth): bearer token and
    basic credentials both admit; anything else is rejected before the
    engine runs."""
    import base64

    from edgelake_spark.api import EdgeLakeRestServer

    server = EdgeLakeRestServer(
        engine, auth_token="s3cret", basic_auth=("ops", "pw")
    ).start()
    try:
        base = f"http://127.0.0.1:{server.port}/"
        cmd = 'sql d format = json:list "select event_id from events order by event_id limit 1"'

        def get(auth=None):
            headers = {"command": cmd}
            if auth:
                headers["Authorization"] = auth
            req = urllib.request.Request(base, headers=headers)
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status
            except urllib.error.HTTPError as exc:
                return exc.code

        assert get() == 401  # no credentials
        assert get("Bearer wrong") == 401
        assert get("Basic " + base64.b64encode(b"ops:bad").decode()) == 401
        assert get("Bearer s3cret") == 200
        assert get("Basic " + base64.b64encode(b"ops:pw").decode()) == 200

        # PUT is gated too
        req = urllib.request.Request(
            base, data=b"[]", method="PUT", headers={"table": "t"}
        )
        try:
            with urllib.request.urlopen(req) as resp:
                code = resp.status
        except urllib.error.HTTPError as exc:
            code = exc.code
        assert code == 401
    finally:
        server.stop()


def test_rest_server_open_when_no_auth_configured(engine):
    from edgelake_spark.api import EdgeLakeRestServer

    server = EdgeLakeRestServer(engine).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/",
            headers={"command": "get rows count where table = events"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
    finally:
        server.stop()


def test_run_rest_server_command(engine):
    """`run rest server where user/password` through the shell surface
    (reference member_cmd.py:21323) — auth enforced on the spawned
    server."""
    import base64

    row = engine.run(
        "run rest server where internal_ip = 127.0.0.1 and user = ops and password = pw"
    ).collect()[0]
    assert row.auth is True
    server = engine.rest_server
    try:
        base = f"http://{row.ip}:{row.port}/"
        req = urllib.request.Request(
            base,
            headers={
                "command": "get rows count where table = events",
                "Authorization": "Basic " + base64.b64encode(b"ops:pw").decode(),
            },
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        bad = urllib.request.Request(base, headers={"command": "get rows count"})
        try:
            with urllib.request.urlopen(bad) as resp:
                code = resp.status
        except urllib.error.HTTPError as exc:
            code = exc.code
        assert code == 401
    finally:
        server.stop()


def test_rest_auth_non_ascii_header_is_401(engine):
    """A non-ASCII Authorization header must 401, not crash the handler
    thread (hmac.compare_digest rejects non-ASCII str)."""
    from edgelake_spark.api import EdgeLakeRestServer

    server = EdgeLakeRestServer(engine, auth_token="tok").start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/",
            headers={"command": "get rows count", "Authorization": "Bearer tok£n"},
        )
        try:
            with urllib.request.urlopen(req) as resp:
                code = resp.status
        except urllib.error.HTTPError as exc:
            code = exc.code
        assert code == 401
    finally:
        server.stop()
