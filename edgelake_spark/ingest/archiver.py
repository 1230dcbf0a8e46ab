"""Blobs archiver — the reference's ``run blobs archiver`` lifecycle.

Reference: edge_lake/members/alarchiver.py (data_archiver: consume blob
descriptor JSONs from the bwatch dir; per blob optionally store into
the blobs DBMS, move into a date-keyed archive tree, then emit the SQL
row file into the watch dir for ingest), utils_io.py:2459 archive_file
(archive/YY/MM/DD layout, optional compression) and :20711
``get archived files [YYYY-MM-DD]``.

Spark re-expression: the blob lands in the engine's log-backed
(txlog.py) blob store via the same ``file store`` path the
command surface uses; archive placement is the identical YY/MM/DD tree
with gzip compression; the emitted row file feeds the existing
watch-dir ingest (streaming/ingest.py); and every processed descriptor
registers TSD provenance (tsd.py) so `time file get` traces rows back
to their source file. The archiver is tick-driven (``process_once``)
like the task scheduler — deterministic under test, a loop/cron wrapper
in deployment.

Descriptor shape (the reference's documented example,
alarchiver.py:258-280)::

    {"blobs": {"dbms": "video", "table": "releases",
               "list": [{"info": {"timestamp": "...", "file": "clip.mp4",
                                   ...}}]}}
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime

from edgelake_spark.ingest.operator import archive_file


@dataclass
class BlobArchiver:
    """One archiver process' configuration + counters (reference
    alarchiver.statistics)."""

    engine: object
    bwatch_dir: str
    blobs_dir: str
    archive_dir: str
    watch_dir: str
    err_dir: str
    update_dbms: bool = True      # `dbms = true` — store blob in blobs DBMS
    archive_folder: bool = True   # `folder = true` — keep blob in archive tree
    compress: bool = True         # `compress = true` — gzip archived blobs
    reuse_blobs: bool = False     # duplicate hash is OK (already stored)
    processed_ok: int = 0
    processed_err: int = 0
    last_error: str = ""
    per_table: dict = field(default_factory=dict)

    def _now(self) -> datetime:
        return getattr(self.engine, "now", None) or datetime.utcnow()

    def _date_key(self) -> str:
        return self._now().strftime("%y%m%d%H%M%S")

    # -------------------------------------------------------- one pass

    def process_once(self) -> dict:
        """Process every descriptor currently in the bwatch dir; returns
        {descriptor_name: 'ok' | 'err: ...'}."""
        os.makedirs(self.err_dir, exist_ok=True)
        os.makedirs(self.watch_dir, exist_ok=True)
        results = {}
        for name in sorted(os.listdir(self.bwatch_dir)):
            if not name.endswith(".json"):
                continue
            path = os.path.join(self.bwatch_dir, name)
            try:
                self._process_descriptor(path)
            except Exception as exc:  # reference: file → err dir, keep going
                self.processed_err += 1
                self.last_error = str(exc)
                shutil.move(path, os.path.join(self.err_dir, f"err_{name}"))
                results[name] = f"err: {exc}"
            else:
                self.processed_ok += 1
                os.unlink(path)
                results[name] = "ok"
        return results

    def _stored_hash_for(self, dbms: str, table: str, source_name: str) -> str | None:
        """blob_hash of an already-stored blob, by source name (used by
        the reuse_blobs path so reused rows carry the same content-hash
        `file` value as freshly-stored ones)."""
        view = self.engine.blob_views.get((f"blobs_{dbms}", table))
        if view is None:
            return None
        from pyspark.sql import functions as F

        # Column equality, not SQL-string interpolation: a quote in the
        # blob file name must stay a literal, not an injection/parse error
        hit = (
            self.engine.spark.table(view)
            .filter(F.col("source_name") == source_name)
            .select("blob_hash")
            .take(1)
        )
        return hit[0].blob_hash if hit else None

    def _process_descriptor(self, path: str) -> None:
        with open(path) as fh:
            doc = json.load(fh)
        blobs = doc["blobs"]
        dbms, table = blobs["dbms"], blobs["table"]
        stat = self.per_table.setdefault(f"{dbms}.{table}", {"ok": 0, "err": 0})
        date_key = self._date_key()

        # validate the WHOLE descriptor before any side effect, so a bad
        # entry moves the file to err_dir with nothing half-done (a
        # partially-processed descriptor could never be retried: its
        # stored blobs would raise duplicate-hash on the second pass)
        entries = [dict(e["info"]) for e in blobs.get("list", ())]
        for info in entries:
            blob_path = os.path.join(self.blobs_dir, info["file"])
            if not os.path.exists(blob_path) and not (
                self.reuse_blobs
                and self._stored_hash_for(dbms, table, info["file"]) is not None
            ):
                raise FileNotFoundError(f"blob missing: {blob_path}")

        rows = []
        for info in entries:
            blob_name = info["file"]
            blob_path = os.path.join(self.blobs_dir, blob_name)
            if not os.path.exists(blob_path):
                # reuse_blobs: stored by a prior pass — the row still
                # carries the content hash, same as a fresh store
                info["file"] = self._stored_hash_for(dbms, table, blob_name)
                rows.append(info)
                continue
            if self.update_dbms:
                # same command path as `file store`; ignore = true keeps
                # the pass idempotent (a crash after a store must not
                # make the retried descriptor fail on duplicate hash)
                res = self.engine.run(
                    f"file store where dbms = blobs_{dbms} and table = {table} "
                    f"and file = {blob_path} and ignore = true"
                ).collect()[0]
                info["file"] = res.blob_hash  # row carries the content hash
            if self.archive_folder:
                archive_file(blob_path, self.archive_dir, date_key, self.compress)
            elif self.update_dbms:
                os.unlink(blob_path)  # stored in the DBMS, drop the file
            stat["ok"] += 1
            rows.append(info)

        # emit the SQL row file into the watch dir under the TSD naming
        # convention: [dbms].[table].[source].[hash].[instructions].[ts].json
        payload = "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows)
        content_hash = hashlib.md5(
            (payload + f"{dbms}.{table}").encode()
        ).hexdigest()
        out_name = f"{dbms}.{table}.archiver.{content_hash}.0.{date_key}.json"
        out_path = os.path.join(self.watch_dir, out_name)
        with open(out_path, "w") as fh:
            fh.write(payload)
        # TSD provenance row for the emitted file
        self.engine.tsd().register(out_name, status1="archived")

    # -------------------------------------------------------- readback

    def archived_files(self, date: str | None = None) -> list[tuple]:
        """``get archived files [YYYY-MM-DD]`` rows:
        (archive_date, file_name, n_bytes, compressed)."""
        want = None
        if date:
            y, m, d = date.split("-")
            want = (y[2:4], m, d)
        out = []
        for root, _dirs, names in os.walk(self.archive_dir):
            rel = os.path.relpath(root, self.archive_dir)
            parts = tuple(p for p in rel.split(os.sep) if p != ".")
            if len(parts) != 3 or (want and parts != want):
                continue
            iso = f"20{parts[0]}-{parts[1]}-{parts[2]}"
            for n in sorted(names):
                p = os.path.join(root, n)
                out.append((iso, n, os.path.getsize(p), n.endswith(".gz")))
        return sorted(out)

    def status(self) -> str:
        return (
            f"Flags: dbms = {self.update_dbms}, folder = {self.archive_folder}, "
            f"compress = {self.compress}, reuse_blobs = {self.reuse_blobs}"
        )
