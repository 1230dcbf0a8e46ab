"""PolicyStore / bring language tests (reference utils_json.py:41-57,
533-720; member_cmd.py:1614 blockchain_get)."""

from edgelake_spark.policies import PolicyStore

POLICIES = [
    {"table": {"name": "ping_sensor", "dbms": "lsl", "id": "t1", "rows": "100"}},
    {"table": {"name": "cpu_sensor", "dbms": "lsl", "id": "t2", "rows": "250"}},
    {"table": {"name": "ping_sensor", "dbms": "other", "id": "t3", "rows": "50"}},
    {"operator": {"name": "op1", "ip": "10.0.0.1", "port": 32148}},
    {
        "mapping": {
            "id": "m1",
            "schema": {
                "ts": {"type": "timestamp", "bring": "[readings][][ts]"},
                "value": {"type": "float", "bring": "[readings][][value]"},
            },
        }
    },
]


def store():
    return PolicyStore(POLICIES)


def test_get_by_type():
    assert len(store().blockchain_get("table")) == 3
    assert len(store().blockchain_get("operator")) == 1


def test_where_filter_and_prefix():
    assert len(store().blockchain_get("table", {"dbms": "lsl"})) == 2
    assert len(store().blockchain_get("table", {"name": "ping*"})) == 2
    assert store().blockchain_get("table", {"dbms": "nope"}) == []


def test_bring_concat_and_separator():
    out = store().blockchain_get("table", {"dbms": "lsl"}, "bring [table][name] separator = ,")
    assert out == "ping_sensor,cpu_sensor"


def test_bring_literals():
    out = store().blockchain_get(
        "table", {"dbms": "lsl"}, 'bring [table][name] " : " [table][id] separator = \\n'
    )
    assert out == "ping_sensor : t1\ncpu_sensor : t2"


def test_bring_unique_sort_count():
    assert store().blockchain_get("table", None, "bring.unique [table][name]") == (
        "ping_sensorcpu_sensor"
    )
    assert store().blockchain_get(
        "table", None, "bring.unique.sort [table][name] separator = ,"
    ) == "cpu_sensor,ping_sensor"
    assert store().blockchain_get("table", None, "bring.count") == 3
    assert store().blockchain_get("table", None, "bring.count [table][name]") == 3


def test_bring_first_last_min_max():
    assert store().blockchain_get("table", None, "bring.first [table][name]") == "ping_sensor"
    assert store().blockchain_get("table", None, "bring.last [table][name]") == "ping_sensor"
    assert store().blockchain_get("table", None, "bring.min [table][rows]") == "50"
    assert store().blockchain_get("table", None, "bring.max [table][rows]") == "250"


def test_bring_json_returns_policies():
    out = store().blockchain_get("operator", None, "bring.json")
    assert out == [{"operator": {"name": "op1", "ip": "10.0.0.1", "port": 32148}}]


def test_nested_list_iteration_path():
    s = PolicyStore(
        [{"reading": {"readings": [{"v": 1}, {"v": 2}, {"v": 3}]}}]
    )
    assert s.blockchain_get("reading", None, "bring [reading][readings][][v]") == "1 2 3"


class TestLedgerPersistence:
    def test_stamp_on_add(self):
        from edgelake_spark.policies.bring import PolicyStore

        store = PolicyStore()
        store.add({"sensor": {"name": "s1", "company": "acme"}})
        body = store.policies[0]["sensor"]
        assert len(body["id"]) == 32 and body["date"]
        # identical content → identical id (content-addressed, date excluded)
        store.add({"sensor": {"name": "s1", "company": "acme"}})
        assert store.policies[1]["sensor"]["id"] == body["id"]

    def test_save_load_roundtrip(self, tmp_path):
        from edgelake_spark.policies.bring import PolicyStore

        store = PolicyStore()
        store.add({"operator": {"name": "op1", "ip": "10.0.0.1"}})
        store.add({"operator": {"name": "op2", "ip": "10.0.0.2"}})
        store.add({"cluster": {"name": "c1"}})
        path = tmp_path / "ledger.jsonl"
        assert store.save(str(path)) == 3
        back = PolicyStore.load(str(path))
        assert back.blockchain_get("operator", bring='bring [operator][name] separator = ","') == "op1,op2"
        # ids survive the round trip
        assert back.policies[0]["operator"]["id"] == store.policies[0]["operator"]["id"]
