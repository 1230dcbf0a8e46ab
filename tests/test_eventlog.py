"""Node event/error log rings (reference generic/process_log.py):
ring bounds, consecutive-duplicate folding, secondary-log mirroring,
keyword filtering, and the engine's get/reset log command surface."""

from __future__ import annotations

from datetime import datetime

import pytest

from edgelake_spark.engine import EdgeLakeEngine
from edgelake_spark.eventlog import LOG_SIZES, EventLog
from tests.conftest import SF_DIR


def test_duplicate_fold_bumps_count():
    log = EventLog(clock=lambda: "t0")
    log.add("Error", "boom")
    log.add("Error", "boom")
    log.add("Error", "boom")
    rows = log.show("event")
    assert len(rows) == 1 and rows[0][1] == 3  # one entry, count 3
    # the secondary error ring got only the FIRST occurrence (the fold
    # happens before mirroring, like the reference)
    assert len(log.show("error")) == 1


def test_secondary_mirror_and_shared_ids():
    log = EventLog(clock=lambda: "t0")
    log.add("Event", "hello")
    log.add("Error", "bad thing")
    log.add("File", "stored x")
    ev = log.show("event")
    assert [r[4] for r in ev] == ["Event", "Error", "File"]
    assert [r[0] for r in ev] == [1, 2, 3]  # one global id counter
    assert log.show("error")[0][0] == 2
    assert log.show("file")[0][0] == 3


def test_ring_bound():
    log = EventLog(clock=lambda: "t0")
    for i in range(LOG_SIZES["event"] + 7):
        log.add("Event", f"msg {i}")
    rows = log.show("event")
    assert len(rows) == LOG_SIZES["event"]
    assert rows[0][5] == "msg 7"  # oldest entries dropped


def test_keyword_filter_type_and_text():
    log = EventLog(clock=lambda: "t0")
    log.add("Event", "connect ok")
    log.add("Error", "connect refused")
    log.add("Event", "flush buffers")
    assert len(log.show("event", ["connect"])) == 2
    assert len(log.show("event", ["error"])) == 1  # matches the Type field
    assert len(log.show("event", ["nope", "flush"])) == 1  # any-match


@pytest.fixture()
def eng(spark):
    return EdgeLakeEngine(spark, SF_DIR, now=datetime(2024, 2, 1))


def test_engine_error_capture_and_get_error_log(eng):
    with pytest.raises(Exception):
        eng.run('sql db format=xml "select count(*) from events"')
    rows = eng.run("get error log").collect()
    assert len(rows) == 1 and "xml" in rows[0]["text"]
    # event ring sees it too; keyword filter narrows
    assert eng.run("get event log where xml").count() == 1
    assert eng.run("get event log where nomatch").count() == 0


def test_failed_command_logs_one_error_with_its_text(eng):
    """An admin failure and a sql failure each add exactly one Error
    entry, and the entry carries the command that failed."""
    for command in ("get monitored nosuchtopic", 'sql db format=xml "select 1"'):
        before = eng.run("get error log").count()
        with pytest.raises(Exception):
            eng.run(command)
        rows = eng.run("get error log").collect()
        assert len(rows) == before + 1
        assert command in rows[-1]["text"]


def test_engine_query_log_ring_and_reset(eng):
    eng.run('sql db "select count(*) as n from events"')
    rows = eng.run("get query log").collect()
    assert len(rows) == 1 and "count(*)" in rows[0]["text"]
    cleared = eng.run("reset query log").collect()[0]
    assert cleared["entries_cleared"] == 1
    assert eng.run("get query log").count() == 0


def test_engine_echo_lands_in_event_log(eng):
    eng.run('echo "hello node"')
    rows = eng.run("get event log where hello").collect()
    assert len(rows) == 1 and rows[0]["text"] == "hello node"


def test_get_status_plain_and_json(eng):
    row = eng.run("get status").collect()[0]
    assert row["status"] == "edgelake-spark running"
    eng.run("set node_name = op-node-1")
    assert eng.run("get status").collect()[0]["status"] == "op-node-1 running"
    import json

    reply = json.loads(eng.run("get status where format = json and include = company"))
    assert reply["assigned_name"] == "op-node-1"
    assert reply["status"] == "running"
    assert reply["company"] == ""  # undefined dictionary key -> empty
    eng.run("set company = acme")
    reply = json.loads(eng.run("get status where format = json and include = company"))
    assert reply["company"] == "acme"
