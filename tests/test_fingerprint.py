"""Gate content-fingerprints: stability and edit-sensitivity.

Round-6 advice (medium): keying the driver-verified set on gate name
alone let an edited gate keep stale verified status. These tests pin
the properties the fix depends on: fingerprints are deterministic
across calls, change when the oracle SQL or the Spark closure changes,
and the entry-point ranks stale-fingerprint gates ahead of verified
ones in the 50-slot window.
"""

from __future__ import annotations

import json
import os

from edgelake_spark.fingerprint import all_fingerprints, gate_fingerprint, stale_gates

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mk(sql_text):
    def run(spark, sf_dir):
        return spark.sql(sql_text)

    return run


def test_fingerprint_deterministic():
    fn = _mk("SELECT 1 AS x")
    a = gate_fingerprint("g", fn, "SELECT 1 AS x")
    b = gate_fingerprint("g", _mk("SELECT 1 AS x"), "SELECT 1 AS x")
    assert a == b


def test_fingerprint_changes_on_oracle_edit():
    fn = _mk("SELECT 1 AS x")
    assert gate_fingerprint("g", fn, "SELECT 1") != gate_fingerprint(
        "g", fn, "SELECT 2"
    )


def test_fingerprint_changes_on_closure_edit():
    # Same factory, different captured SQL text -> different fingerprint
    # (this is how _el/_sql gates are built in queries.py).
    assert gate_fingerprint("g", _mk("SELECT 1 AS x"), None) != gate_fingerprint(
        "g", _mk("SELECT 2 AS x"), None
    )


def test_fingerprint_changes_on_helper_edit():
    # A module-level helper referenced by name is part of the print.
    ns1 = {"helper": lambda: 1}
    ns2 = {"helper": lambda: 2}
    src = "def gate(spark, sf_dir):\n    return helper()\n"
    exec(compile(src, __file__, "exec"), ns1)
    exec(compile(src, __file__, "exec"), ns2)
    ns1["gate"].__module__ = "edgelake_spark.fake"
    ns2["gate"].__module__ = "edgelake_spark.fake"
    ns1["helper"].__module__ = "edgelake_spark.fake"
    ns2["helper"].__module__ = "edgelake_spark.fake"
    assert gate_fingerprint("g", ns1["gate"], None) != gate_fingerprint(
        "g", ns2["gate"], None
    )


def test_all_fingerprints_cover_registry():
    from edgelake_spark.queries import SPARK_QUERIES

    fps = all_fingerprints()
    assert set(fps) == set(SPARK_QUERIES)
    assert all(len(v) == 64 for v in fps.values())


def test_stale_gates_rank_first_in_window():
    """Any gate whose current fingerprint is not in VERIFIED_GATES.json
    must appear in the first 50 queries() entries (the driver window)."""
    import __spark_entry__ as entry

    path = os.path.join(REPO, "VERIFIED_GATES.json")
    if not os.path.exists(path):
        return  # fallback ordering; nothing to assert
    with open(path) as fh:
        stale = set(stale_gates(json.load(fh)))
    window = list(entry.queries().keys())[:50]
    missing = stale - set(window)
    assert not missing, f"stale gates outside driver window: {sorted(missing)}"


def test_module_attr_helper_changes_fingerprint():
    """A helper reached via module attribute access (mod.helper()) must
    feed the fingerprint — the kmeans-staging gap: editing only the
    Spark-side helper in another module has to re-queue the gate."""
    import types

    from edgelake_spark import fingerprint as fp

    mod = types.ModuleType("edgelake_spark._fp_probe")
    mod.helper = eval("lambda: 1")
    mod.helper.__module__ = "edgelake_spark._fp_probe"

    # module referenced as a GLOBAL, like `sim.kmeans_refine(...)` in
    # queries.py (a closure ref would sit in co_freevars instead)
    ns = {"mod": mod}
    exec("def gate(spark, sf):\n    return mod.helper()", ns)
    gate = ns["gate"]

    a = fp.gate_fingerprint("g", gate, "SELECT 1")
    mod.helper = eval("lambda: 2")
    mod.helper.__module__ = "edgelake_spark._fp_probe"
    b = fp.gate_fingerprint("g", gate, "SELECT 1")
    assert a != b


def test_function_local_import_helper_changes_fingerprint(monkeypatch):
    """A helper a gate imports inside its own body (`from
    edgelake_spark.streaming.ingest import stream_parquet_source` in the
    stream replay gates) must feed the fingerprint: editing it has to
    re-queue every gate that imports it."""
    import sys
    import types

    from edgelake_spark import fingerprint as fp

    mod = types.ModuleType("edgelake_spark._fp_local_probe")
    monkeypatch.setitem(sys.modules, mod.__name__, mod)

    def set_helper(src: str) -> None:
        mod.helper = eval(src)
        mod.helper.__module__ = mod.__name__

    ns: dict = {}
    exec(
        "def gate(spark, sf):\n"
        "    from edgelake_spark._fp_local_probe import helper\n"
        "    return helper()",
        ns,
    )
    gate = ns["gate"]
    set_helper("lambda: 1")
    a = fp.gate_fingerprint("g", gate, "SELECT 1")
    assert a == fp.gate_fingerprint("g", gate, "SELECT 1")
    set_helper("lambda: 2")
    assert a != fp.gate_fingerprint("g", gate, "SELECT 1")


def test_set_fingerprint_stable_across_processes():
    """Round-9 advice regression: set elements whose repr embeds a
    memory address (tuples holding functions/objects) must fingerprint
    identically in different processes — _update_set hashes each
    element via _update_value into a sub-digest and folds SORTED
    digests, never sorted reprs. Two fresh interpreters (fresh hash
    randomization, fresh addresses) must agree."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snippet = (
        "import hashlib, sys\n"
        f"sys.path.insert(0, {repr(repo)})\n"
        "from edgelake_spark.fingerprint import _update_set\n"
        "def helper(x):\n"
        "    return x + 1\n"
        "class Obj:\n"
        "    pass\n"
        "s = {(helper, 'a'), (Obj, 'b'), ('plain', 3)}\n"
        "h = hashlib.sha256()\n"
        "_update_set(h, s, set(), 3)\n"
        "print(h.hexdigest())\n"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", snippet],
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        for _ in range(3)
    }
    assert len(outs) == 1, outs
