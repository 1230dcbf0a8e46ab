"""Operator node — the reference's ``run operator`` watch-dir loop.

Reference: edge_lake/members/aloperator.py (run_operator: monitor the
watch directory, load each JSON file into the local database table
named by the file, update TSD provenance, then archive or delete the
source file; member_cmd.py:21740 usage/flags).

Spark re-expression: rows land through the same type-inference +
system-column path REST PUT ingest uses (ingest/infer.rows_to_dataframe
→ the ``__ingest_<table>`` view the query layer resolves), TSD rows go
to the shared store (tsd.py), and processed files move into the
YY/MM/DD archive tree (optionally gzipped) exactly like the blobs
archiver. Tick-driven (``process_once``) like the scheduler/archiver —
deterministic under test; a loop or cron wrapper drives it in
deployment. ``flush buffers`` on the engine maps to draining active
Structured Streaming ingest queries plus one operator tick.

File-name convention (tsd.py): ``[dbms].[table].[source].[hash].
[instructions].[YYMMDDHHMMSS].json``; a bare ``dbms.table.json`` is
accepted too (TSD row skipped — no provenance fields to record).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class OperatorNode:
    engine: object
    watch_dir: str
    err_dir: str
    archive_dir: str
    create_table: bool = True       # `create_table = true`
    update_tsd_info: bool = True    # `update_tsd_info = true`
    archive_json: bool = True       # archive the source file vs delete
    compress_json: bool = True      # gzip archived files
    files_processed: int = 0
    files_errored: int = 0
    rows_ingested: int = 0
    last_error: str = ""
    #: files whose rows are LIVE but which could not be moved out of the
    #: watch dir (archive AND err-move AND unlink all failed, e.g. the
    #: watch dir went read-only): later ticks must skip them or every
    #: tick would re-ingest the same rows
    _ingested_stuck: set = field(default_factory=set)

    # ----------------------------------------------------------- tick

    def process_once(self) -> dict:
        """Process every JSON file currently in the watch dir; returns
        {file_name: 'ok: N rows' | 'err: ...'}."""
        os.makedirs(self.err_dir, exist_ok=True)
        results = {}
        for name in sorted(os.listdir(self.watch_dir)):
            if not name.endswith(".json"):
                continue
            if os.path.join(self.watch_dir, name) in self._ingested_stuck:
                continue  # rows already live; the file just won't move
            path = os.path.join(self.watch_dir, name)
            try:
                n = self._process_file(path, name)
            except Exception as exc:  # file → err dir, keep going
                self.files_errored += 1
                self.last_error = str(exc)
                shutil.move(path, os.path.join(self.err_dir, f"err_{name}"))
                results[name] = f"err: {exc}"
            else:
                self.files_processed += 1
                self.rows_ingested += n
                results[name] = f"ok: {n} rows"
        return results

    def _parse_name(self, name: str) -> tuple[str, str, bool]:
        """(dbms, table, is_tsd_convention)."""
        from edgelake_spark import tsd as _tsd

        m = _tsd._NAME_RE.match(name)
        if m:
            return m.group("dbms"), m.group("table"), True
        parts = name[:-5].split(".")  # strip .json
        if len(parts) >= 2:
            return parts[0], parts[1], False
        raise ValueError(f"cannot derive dbms.table from file name: {name}")

    def _process_file(self, path: str, name: str) -> int:
        from edgelake_spark.ingest.infer import rows_to_dataframe

        dbms, table, is_tsd = self._parse_name(name)
        with open(path) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        if not rows:
            raise ValueError("empty JSON file")
        eng = self.engine
        if self.update_tsd_info and is_tsd:
            entry = eng.tsd().register(name, status1=str(len(rows)))
            tsd_name, tsd_id = entry.table, entry.row_id
        else:
            tsd_name, tsd_id = "t01", 0
        # land in the same ingest view REST PUT uses, so the query
        # layer resolves `dbms.table` to the accumulated rows
        eng.ingest(
            table, len(rows),
            lambda first: rows_to_dataframe(
                eng.spark, rows, tsd_name=tsd_name, tsd_id=tsd_id, first_row_id=first
            ),
            dbms=dbms, create=self.create_table,
        )

        # rows are live from here on: an archive failure must NOT route
        # the file to the err dir (replaying an err file would ingest
        # the same rows twice) nor count as a file error — park the
        # source beside the err files under a distinct prefix instead
        try:
            if self.archive_json:
                now = getattr(eng, "now", None) or datetime.utcnow()
                archive_file(path, self.archive_dir, now.strftime("%y%m%d"), self.compress_json)
            else:
                os.unlink(path)
        except Exception as exc:
            self.last_error = f"archive failed for {name}: {exc}"
            try:
                shutil.move(path, os.path.join(self.err_dir, f"archived_failed_{name}"))
            except Exception:
                try:
                    os.unlink(path)  # next resort: never re-ingestable
                except Exception:
                    # even the unlink failed (watch dir read-only):
                    # remember the path so later ticks skip it instead
                    # of double-ingesting its live rows
                    self._ingested_stuck.add(path)
        return len(rows)

    def status(self) -> tuple:
        return (
            self.files_processed, self.files_errored, self.rows_ingested,
            self.last_error,
        )


def archive_file(path: str, archive_dir: str, date_key: str, compress: bool) -> str:
    """Move ``path`` into ``archive_dir/YY/MM/DD/`` (``date_key`` starts
    with ``YYMMDD``), gzipped as ``<name>.gz`` when ``compress`` — the
    tree of the reference's utils_io.archive_file, shared by the
    operator and the blobs archiver. Returns the archived path."""
    day_dir = os.path.join(archive_dir, date_key[0:2], date_key[2:4], date_key[4:6])
    os.makedirs(day_dir, exist_ok=True)
    base = os.path.basename(path)
    if compress:
        dst = os.path.join(day_dir, base + ".gz")
        with open(path, "rb") as src, gzip.open(dst, "wb") as out:
            shutil.copyfileobj(src, out)
        os.unlink(path)
    else:
        dst = os.path.join(day_dir, base)
        shutil.move(path, dst)
    return dst


def delete_archive_before(archive_dir: str, cutoff_ymd: tuple[str, str, str]) -> list[str]:
    """``delete archive where days = N`` (reference member_cmd.py:17312
    delete_archive): remove archive day-directories strictly older than
    the cutoff (YY, MM, DD); returns the deleted day keys."""
    deleted = []
    if not os.path.isdir(archive_dir):
        return deleted
    for yy in sorted(os.listdir(archive_dir)):
        ydir = os.path.join(archive_dir, yy)
        if not os.path.isdir(ydir):
            continue
        for mm in sorted(os.listdir(ydir)):
            mdir = os.path.join(ydir, mm)
            if not os.path.isdir(mdir):  # stray files must not abort
                continue                  # the sweep mid-deletion
            for dd in sorted(os.listdir(mdir)):
                ddir = os.path.join(mdir, dd)
                if os.path.isdir(ddir) and (yy, mm, dd) < cutoff_ymd:
                    shutil.rmtree(ddir)
                    deleted.append(f"20{yy}-{mm}-{dd}")
            if not os.listdir(mdir):
                os.rmdir(mdir)
        if not os.listdir(ydir):
            os.rmdir(ydir)
    return deleted
