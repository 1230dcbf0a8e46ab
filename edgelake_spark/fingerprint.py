"""Content fingerprints for correctness gates.

The driver's 50-slot correctness window is ordered by ``__spark_entry__``
so never-verified gates run first. "Verified" used to be keyed on the
gate NAME alone, which let an edited gate keep its verified status from
a run against the OLD emission (round-6 advice, medium: events_profile
was rewritten after its last green run and never re-checked). This
module keys verification on *content*: a gate's fingerprint covers its
DuckDB oracle SQL text and the Spark callable's code — compiled
bytecode, constants, closure cells (where the dialect/SQL strings
live), and helper functions inside ``edgelake_spark`` it references
directly, through a module attribute, or through a function-local
``from ... import`` (depth-limited so an engine-wide refactor does not
flood the window; the engine has its own pytest + plan-shape coverage).

``VERIFIED_GATES.json`` at the repo root maps each gate to the list of
fingerprints that were current when a driver CORRECTNESS run recorded
it fully green (rows+schema+hash). A gate counts as verified only if
its CURRENT fingerprint is in that list — editing a gate (Spark side or
oracle side) automatically re-queues it for the next driver window.

``tools/refresh_verified_gates.py`` regenerates the file from git
history (one snapshot import per recorded round). ``python -m
edgelake_spark.fingerprint`` prints the gates that are stale against it.
"""

from __future__ import annotations

import dis
import hashlib
import importlib
import types

_MAX_DEPTH = 2  # gate fn -> direct helper fns; deeper layers are named only

# functions/ and dialect/ are the SQL-emitting helper libraries whose
# text ends up verbatim in gate emissions (kmv_jaccard_sql -> kmv_dt_sql
# -> spark_tokens chains run 3-4 calls deep); hashing them by name only
# at depth>2 would keep stale "verified" status across a helper edit —
# the exact gap this module exists to close. Engine/admin layers keep
# the shallow limit so an engine-wide refactor does not flood the
# 50-slot driver window (they have their own pytest + plan coverage).
_MAX_DEPTH_HELPERS = 6


def _depth_limit(fn: types.FunctionType) -> int:
    mod = fn.__module__ or ""
    if mod.startswith("edgelake_spark.functions") or mod.startswith(
        "edgelake_spark.dialect"
    ):
        return _MAX_DEPTH_HELPERS
    return _MAX_DEPTH


def _update_set(h, val, seen: set, depth: int) -> None:
    # set/frozenset constants repr() in string-hash order, which varies
    # per process under hash randomization — hash each element into its
    # own sub-digest via _update_value (repr() of a tuple holding an
    # object/function embeds a memory address) and fold sorted digests
    h.update(f"<{type(val).__name__}:{len(val)}>".encode())
    digests = []
    for e in val:
        sub = hashlib.sha256()
        # each element hashes against a COPY of `seen`: with the shared
        # set, whichever element a hash-randomized iteration visits
        # first would expand a shared helper fully while later elements
        # get only the name marker — per-process digest order again
        _update_value(sub, e, set(seen), depth)
        digests.append(sub.digest())
    for d in sorted(digests):
        h.update(d)


def _update_code(h, code: types.CodeType, seen: set, depth: int) -> None:
    h.update(code.co_code)
    h.update(repr(code.co_names).encode())
    h.update(repr(code.co_varnames).encode())
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            _update_code(h, const, seen, depth)
        elif isinstance(const, (set, frozenset)):
            _update_set(h, const, seen, depth)
        else:
            h.update(repr(const).encode())


def _update_value(h, val, seen: set, depth: int) -> None:
    """Hash a closure-cell / default value without ever repr()-ing an
    object whose repr embeds a memory address."""
    if isinstance(val, types.FunctionType):
        _update_function(h, val, seen, depth)
    elif isinstance(val, (str, bytes, int, float, bool, type(None))):
        h.update(repr(val).encode())
    elif isinstance(val, (set, frozenset)):
        _update_set(h, val, seen, depth)
    elif isinstance(val, (tuple, list)):
        h.update(f"<{type(val).__name__}:{len(val)}>".encode())
        for item in val:
            _update_value(h, item, seen, depth)
    elif isinstance(val, dict):
        h.update(f"<dict:{len(val)}>".encode())
        for k, v in val.items():
            _update_value(h, k, seen, depth)
            _update_value(h, v, seen, depth)
    elif isinstance(val, type):
        h.update(f"<class {val.__module__}.{val.__qualname__}>".encode())
    else:
        h.update(f"<{type(val).__module__}.{type(val).__qualname__}>".encode())


def _is_helper(ref) -> bool:
    """A function defined inside ``edgelake_spark``."""
    return isinstance(ref, types.FunctionType) and (
        ref.__module__ or ""
    ).startswith("edgelake_spark")


def _update_function(h, fn: types.FunctionType, seen: set, depth: int) -> None:
    key = (fn.__module__, fn.__qualname__)
    h.update(f"<fn {key[0]}.{key[1]}>".encode())
    if key in seen or depth > _depth_limit(fn):
        return
    seen.add(key)
    _update_code(h, fn.__code__, seen, depth)
    if fn.__defaults__:
        for d in fn.__defaults__:
            _update_value(h, d, seen, depth + 1)
    if fn.__closure__:
        for cell in fn.__closure__:
            try:
                _update_value(h, cell.cell_contents, seen, depth + 1)
            except ValueError:  # empty cell
                h.update(b"<empty-cell>")
    # Direct helper functions referenced by name from edgelake_spark
    # modules (e.g. a module-level _events_profile_spark referenced in
    # the _q call). Classes/third-party modules are named only.
    mods = []
    for name in fn.__code__.co_names:
        ref = fn.__globals__.get(name)
        if _is_helper(ref):
            _update_function(h, ref, seen, depth + 1)
        elif isinstance(ref, types.ModuleType) and ref.__name__.startswith(
            "edgelake_spark"
        ):
            mods.append(ref)
    # Helpers reached via MODULE ATTRIBUTE access (sim.kmeans_refine,
    # tx.spark_tokens, ...): co_names holds the module alias and the
    # attribute as separate entries with no pairing, so conservatively
    # traverse every (module, co_name) attr that resolves to an
    # edgelake_spark function — over-approximating only re-queues a
    # gate early, while missing the edge would let a Spark-side helper
    # change keep stale "verified" status (the gap the kmeans staging
    # migration exposed: only its ORACLE text change triggered the
    # re-queue).
    if mods:
        attrs = set(fn.__code__.co_names)
        for mod in mods:
            for attr in sorted(attrs):
                ref = getattr(mod, attr, None)
                if _is_helper(ref):
                    _update_function(h, ref, seen, depth + 1)
    # Helpers a gate imports inside its own body (`from
    # edgelake_spark.streaming.ingest import stream_parquet_source`)
    # are neither globals nor module attributes of it.
    for ref in _imported_functions(fn.__code__):
        _update_function(h, ref, seen, depth + 1)


def _imported_functions(code: types.CodeType) -> list[types.FunctionType]:
    """``edgelake_spark`` functions bound by the ``from <module> import
    <name>`` statements of ``code`` and of the code nested in it, in
    bytecode order."""
    out = []
    module = None
    for ins in dis.get_instructions(code):
        if ins.opname == "IMPORT_NAME":
            module = ins.argval
        elif ins.opname == "IMPORT_FROM" and (module or "").startswith("edgelake_spark"):
            ref = getattr(importlib.import_module(module), ins.argval, None)
            if _is_helper(ref):
                out.append(ref)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            out.extend(_imported_functions(const))
    return out


def gate_fingerprint(name: str, spark_fn, oracle_sql: str | None) -> str:
    """Stable content hash of one gate's (Spark callable, oracle SQL)."""
    h = hashlib.sha256()
    h.update(name.encode())
    h.update(b"\x00")
    h.update((oracle_sql or "<no-oracle>").encode())
    h.update(b"\x00")
    seen: set = set()
    _update_value(h, spark_fn, seen, 0)
    return h.hexdigest()


def all_fingerprints() -> dict[str, str]:
    from edgelake_spark.queries import ORACLE_SQL, SPARK_QUERIES

    return {
        name: gate_fingerprint(name, fn, ORACLE_SQL.get(name))
        for name, fn in SPARK_QUERIES.items()
    }


def stale_gates(verified: dict[str, list[str]]) -> list[str]:
    """Gates whose current fingerprint is not among their verified ones."""
    return sorted(
        g for g, fp in all_fingerprints().items() if fp not in verified.get(g, ())
    )


if __name__ == "__main__":
    # python -m edgelake_spark.fingerprint
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "VERIFIED_GATES.json"
    )
    with open(path) as fh:
        stale = stale_gates(json.load(fh))
    print(f"{len(stale)} stale gates against {os.path.basename(path)}")
    for g in stale:
        print(g)
