"""Every library name is reached by code that runs.

Parses every module under ``edgelake_spark/`` and fails for any
top-level function, class or constant that nothing outside its own
definition references in the code that runs: ``edgelake_spark/``,
``perfbench/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py``. A
reference is a Name, an Attribute or an import alias; a mention in a
docstring or comment is not, and neither is an import in a package
``__init__.py``: a re-export only makes a name importable, and an
importer outside the running code (a test) would otherwise pass as a
caller. Names assigned together by one tuple assignment (a table of
protocol codes) form one definition, reached when any of them is. ``__all__`` is read by the import system, not by
name, and is not checked. Tests are not scanned: code only a test
calls is not part of the library.
"""

import ast
import pathlib

from tests.conftest import REPO_ROOT

ROOT = pathlib.Path(REPO_ROOT)
PKG = ROOT / "edgelake_spark"
RUNNING = [PKG, ROOT / "perfbench", ROOT / "tools", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

#: names nothing in the running code reaches, kept on purpose
ALLOWED = {
    # protocol test doubles for outside services: tests speak the wire
    # protocol through these instead of a real broker or MQTT client
    "KafkaProducerClient": "Kafka wire-protocol producer the broker tests publish with",
    "MqttPublisher": "MQTT client the broker tests publish with",
    "pingreq_packet": "MQTT keep-alive packet the broker tests send",
    "kafka_connector_available": "one-line probe for the absent spark-sql-kafka jar",
    "write_partitioned_tx": "the only writer of the layout `attach partitioned` reads",
    "suggest_create": "the reference's library-only `suggest create` (no command)",
    "bpe_apply_py": "Python reference the BPE SQL is tested against",
    "zorder_py": "Python reference the Z-order SQL is tested against",
    "__version__": "the package version",
    "BrokerConsumer": (
        "open defect: `run kafka consumer|mqtt client|msg client` registers a "
        "config but no engine path starts a consumer (ROADMAP item 3)"
    ),
}


def _files():
    for root in RUNNING:
        yield from sorted(root.rglob("*.py")) if root.is_dir() else [root]


def _span(node) -> tuple[int, int]:
    first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
    return first, node.end_lineno


def _definitions(tree):
    """(names, (first line, last line)) for each top-level def, class and
    assignment target."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield [node.name], _span(node)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names = [n.id for n in ast.walk(t) if isinstance(n, ast.Name)]
                if names != ["__all__"]:
                    yield names, _span(node)


def _references(tree, reexports: bool):
    """(name, line) for each Name load, Attribute and, unless the module
    only ``reexports`` (a package ``__init__``), import alias."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, (ast.Import, ast.ImportFrom)) and not reexports:
            for a in n.names:
                yield a.name.rsplit(".", 1)[-1], n.lineno


def _unreached() -> dict[str, str]:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _files()}
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for p, tree in trees.items():
        for name, line in _references(tree, p.name == "__init__.py"):
            refs.setdefault(name, []).append((p, line))
    out = {}
    for p, tree in trees.items():
        if PKG not in p.parents:
            continue
        for names, (lo, hi) in _definitions(tree):
            outside = [
                r
                for name in names
                for r in refs.get(name, [])
                if not (r[0] == p and lo <= r[1] <= hi)
            ]
            if not outside:
                out.update((name, f"{p.relative_to(ROOT)}:{lo}") for name in names)
    return out


def test_every_library_name_is_reached():
    unreached = _unreached()
    grown = {n: where for n, where in unreached.items() if n not in ALLOWED}
    assert not grown, (
        "library names only tests (or nothing) reach — delete them with "
        f"their tests, or call them from running code: {grown}"
    )
    # the allow-list stays exact: an entry that running code now reaches
    # (or that is gone) is dropped from it
    assert set(ALLOWED) == set(unreached), sorted(set(ALLOWED) ^ set(unreached))
