"""The engine's Python worker daemon (edgelake_spark/worker_daemon.py):
its zip importer skips the per-task archive re-read, the sessions
``get_spark`` builds fork their workers from it, and those workers find
the engine's own UDFs from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from edgelake_spark import worker_daemon
from tests.conftest import REPO_ROOT

needs_eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily; install() does nothing",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_eager_zip_reread
def test_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))

    # two importers over one archive, as a worker holds twelve over pyspark.zip
    importers = [worker_daemon.StampedZipImporter(archive) for _ in range(2)]
    reads.clear()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []
    assert importers[1].find_spec("mod_b") is None

    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == [archive]
    for imp in importers:
        spec = imp.find_spec("mod_b")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.VALUE == 2


@needs_eager_zip_reread
def test_install_swaps_the_hook_and_drops_plain_importers(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", {archive: zipimport.zipimporter(archive)})

    worker_daemon.install()
    assert zipimport.zipimporter not in sys.path_hooks
    assert worker_daemon.StampedZipImporter in sys.path_hooks
    assert archive not in sys.path_importer_cache


def test_session_workers_fork_from_the_engine_daemon(spark):
    def report(batches):
        import pandas as pd

        with open(f"/proc/{os.getppid()}/cmdline") as fh:
            parent = fh.read().replace("\0", " ")
        plain = [
            p for p, f in sys.path_importer_cache.items() if type(f) is zipimport.zipimporter
        ]
        pyspark_stamped = any(
            type(f).__name__ == "StampedZipImporter" and f.archive.endswith("pyspark.zip")
            for f in sys.path_importer_cache.values()
        )
        from_zip = ".zip" in __import__("pyspark").__file__
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"parent": [parent], "plain": [len(plain)],
             "stamped": [pyspark_stamped], "from_zip": [from_zip]}
        )

    rows = (
        spark.range(0, 400, 1, 4)
        .mapInPandas(report, "parent string, plain int, stamped boolean, from_zip boolean")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert "-m edgelake_spark.worker_daemon" in r.parent
        if sys.version_info < (3, 12):
            assert r.plain == 0
            assert r.stamped == r.from_zip


_OUTSIDE = r"""
import sys
sys.path.insert(0, sys.argv[1])
from edgelake_spark import get_spark
from edgelake_spark.functions.multimodal import extract_features

spark = get_spark(app_name="outside-cwd", cpus=2, extra_conf={"spark.driver.memory": "1g"})
blobs = spark.sql(
    "SELECT sha2(CAST(id AS STRING), 256) AS blob_hash, 'text' AS media_type, "
    "encode(CAST(id AS STRING), 'UTF-8') AS content, CAST(1 AS BIGINT) AS n_bytes "
    "FROM range(0, 8, 1, 4)"
)

def double(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] * 2)

engine_rows = extract_features(blobs, decode_stub=True).collect()
user_rows = spark.range(0, 8, 1, 4).mapInPandas(double, "id long").collect()
print("ROWS", len(engine_rows), len(user_rows))
"""


def test_engine_udfs_run_from_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, REPO_ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS 8 8" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-3000:]
