"""Minimal transactional commit log over parquet (Delta/Iceberg-style,
no external packages).

The reference's north star names "Delta/Iceberg for edge data
management" (BASELINE.md); the sandbox ships neither, so this module
provides the durability semantics over plain parquet:

- A **table** is a directory: immutable parquet files under ``data/``
  plus a numbered JSON manifest per committed version under ``_txlog/``.
- Every manifest lists the **complete** file set of its version (like a
  Delta checkpoint, always) — a reader needs exactly one manifest.
- **Atomic commit**: the manifest is staged as a temp file, fsync'd,
  then published with ``os.link`` to ``v<N>.json``. ``link`` fails if
  the name exists, which is the optimistic-concurrency check: a loser
  re-reads the latest version and retries its file-set computation.
  Readers only ever see fully-written manifests.
- **Crash consistency**: data files are written BEFORE their manifest;
  a writer killed in between leaves orphan data invisible to every
  reader (the old snapshot reads clean). ``vacuum()`` removes orphans.
- **Time travel**: ``read(spark, version=N)`` /
  ``read(spark, timestamp="...")`` loads any retained snapshot.
- **Metadata-only deletes**: ``remove_files(predicate)`` publishes a
  manifest without the matching files — nothing is rewritten, and the
  prior version still reads the dropped data (this is what backs
  ``drop partition`` with time travel).
- **Deletion vectors** (merge-on-read point DML, the Delta 2.3+
  design): a manifest may carry ``"deleted": {<file>: [row positions]}``
  — the parquet row indexes of that file's dead rows. A DELETE, UPDATE
  or MERGE matching at most ``DV_MAX_ROWS`` rows records their
  positions instead of rewriting their files (UPDATE/MERGE also stage
  the replacement rows as one append stage); above the cap it rewrites
  the touched files (copy-on-write). Every path that turns manifest
  entries into rows (``frame``) drops the dead rows, and every
  manifest keeps its DV keys a subset of its ``files``, so a restage
  (compact, fold, rewrite, ``remove_files``) drops the vectors of the
  files it replaces.

Reference counterpart: EdgeLake tracks ingested-file provenance in TSD
tables (edge_lake/dbms/tsd_info.py) and updates SQLite/Postgres in
place; snapshot isolation over immutable parquet is the Spark-native
re-expression (single atomic rename/link, no table server).

At scale the manifest is KBs per version (file paths, plus at most a
few DV_MAX_ROWS of row positions); data files never move. The complete-file-list choice bounds reader work at one
JSON read regardless of history length, at the cost of O(files) bytes
per manifest — the right trade below ~100k files/table, and the
vacuum/expire pair keeps history bounded.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from edgelake_spark.checkpoint import materialize as _materialize
from edgelake_spark.localframe import collect_head, local_frame

_LOG_DIR = "_txlog"
_DATA_DIR = "data"

#: deletion-vector cap: a DML statement matching at most this many rows
#: records their positions in the manifest; one matching more rewrites
#: the files holding them. The engine also folds a table whose manifest
#: carries more dead rows than this, so vectors stay bounded
DV_MAX_ROWS = 1024


def deleted_rows(manifest: dict) -> int:
    """Row positions the manifest's deletion vectors hold."""
    return sum(len(rows) for rows in manifest.get("deleted", {}).values())


def changed_files(old: dict, new: dict) -> set[str]:
    """Files of manifest ``old`` that manifest ``new`` dropped or
    deleted more rows of: empty when ``new`` only appended."""
    old_dv, new_dv = old.get("deleted", {}), new.get("deleted", {})
    live = set(new["files"])
    return {f for f in old.get("files", []) if f not in live or old_dv.get(f) != new_dv.get(f)}


class TxConflict(RuntimeError):
    """Another writer published this version first (surfaced only after
    the internal retry budget is exhausted)."""


class TxTable:
    """One versioned parquet table rooted at ``path``.

    A manifest (``_txlog/v<N>.json``) holds ``files`` (relative paths),
    ``schema``, ``partition_by``, ``op``, ``meta`` and ``deleted``: the
    deletion vectors, ``{<file>: [sorted parquet row indexes]}``, whose
    keys are always a subset of ``files``. Point DML (at most
    ``DV_MAX_ROWS`` matching rows) adds positions there and rewrites no
    file (UPDATE and MERGE append one stage of replacement rows); bulk
    DML, ``compact`` and ``compact_small`` rewrite files, and the
    rewritten files' vectors go with them."""

    #: optimistic-concurrency retries before giving up
    MAX_RETRIES = 20

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.data_dir = os.path.join(self.path, _DATA_DIR)
        self._uri_paths: dict[str, str] = {}  # rel file -> escaped URI path
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------ log

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.isdir(os.path.join(path, _LOG_DIR))

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:012d}.json")

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        """0 = empty table (no commits yet)."""
        vs = self.versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def partition_by(self) -> str | None:
        """The latest snapshot's partition column (None = unpartitioned
        or no commits)."""
        base = self.latest_version()
        return self.manifest(base).get("partition_by") if base else None

    def history(self) -> list[dict]:
        return [self.manifest(v) for v in self.versions()]

    # --------------------------------------------------------- commit

    def _stage(self, df: DataFrame, partition_by: str | None = None) -> tuple[list[str], str]:
        """Write ``df`` to a fresh immutable directory under data/;
        return (relative parquet file paths, schema json). Runs entirely
        executor-side — the driver never sees the rows."""
        stage = uuid.uuid4().hex[:16]
        out = os.path.join(self.data_dir, stage)
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(out)
        files = []
        for root, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, n), self.path)
                    files.append(rel)
        return sorted(files), df.schema.json()

    #: _publish partition_by sentinel: "inherit the previous manifest's"
    _INHERIT = object()

    def _publish(self, build, op: str, schema_json: str | None, meta: dict | None,
                 expected_base: int | None = None,
                 partition_by=_INHERIT, deleted: dict | None = None) -> int:
        """Optimistic-concurrency commit loop. ``build(prev_manifest)``
        returns the complete relative file list for the new version.
        The previous version's deletion vectors carry over for the files
        the new list keeps; ``deleted`` ({file: [row positions]}) adds
        positions to them.

        ``expected_base`` pins the version the staged data was computed
        FROM: ops whose staged files are only valid against one snapshot
        (overwrite-of-a-read like compact, and the file-granular DML
        rewrites) must not blindly win a race — a concurrent append
        between their read and their publish would silently vanish from
        the new complete file list. Such ops pass the base version they
        read; a conflict then raises TxConflict for the CALLER to re-run
        the whole read-transform-stage cycle against the new head.
        Appends and user-intent overwrites (last-writer-wins SQL
        semantics) pass None and retry list-only."""
        for _ in range(self.MAX_RETRIES):
            base = self.latest_version()
            if expected_base is not None and base != expected_base:
                raise TxConflict(
                    f"concurrent commit: staged against v{expected_base}, "
                    f"head is v{base} at {self.path}; re-run the operation"
                )
            prev = self.manifest(base) if base else None
            # the manifest records the table's partition column so every
            # restage (compact / DML rewrite) preserves the _par_bucket=
            # path embedding that tx_partitions() parses from file paths
            pb = (
                (prev or {}).get("partition_by")
                if partition_by is self._INHERIT
                else partition_by
            )
            files = build(prev)
            live = set(files)
            dv = {f: rows for f, rows in (prev or {}).get("deleted", {}).items() if f in live}
            for f, rows in (deleted or {}).items():
                dv[f] = sorted(set(dv.get(f, ())).union(rows))
            manifest = {
                "version": base + 1,
                "op": op,
                "timestamp": datetime.now(timezone.utc).isoformat(),
                "files": files,
                "schema": schema_json or (prev or {}).get("schema"),
                "partition_by": pb,
                "meta": meta or {},
                "deleted": dict(sorted(dv.items())),
            }
            tmp = os.path.join(self.log_dir, f"_tmp.{uuid.uuid4().hex}.json")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, self._manifest_path(base + 1))
            except FileExistsError:
                os.unlink(tmp)
                continue  # lost the race: recompute against the winner
            os.unlink(tmp)
            # fsync the directory so the published name survives a crash
            dfd = os.open(self.log_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            return base + 1
        raise TxConflict(f"gave up after {self.MAX_RETRIES} commit races at {self.path}")

    def overwrite(self, df: DataFrame, op: str = "overwrite",
                  partition_by: str | None = None, meta: dict | None = None) -> int:
        """Replace the table contents with ``df`` (copy-on-write: new
        files, old snapshots still readable)."""
        files, schema = self._stage(df, partition_by)
        return self._publish(lambda prev: files, op, schema, meta,
                             partition_by=partition_by)

    def append(self, df: DataFrame, partition_by=_INHERIT,
               meta: dict | None = None) -> int:
        """Append ``df``'s rows as new files. ``partition_by`` defaults
        to inheriting the table's current layout (and path embedding) so
        callers need not restate it; pass None explicitly to append an
        unpartitioned batch into a partitioned table."""
        stage_pb = self.partition_by() if partition_by is self._INHERIT else partition_by
        if stage_pb and stage_pb not in df.columns:
            raise ValueError(
                f"append inherits partition_by={stage_pb!r} from the "
                f"table's latest snapshot, but the DataFrame has no such "
                f"column (columns: {df.columns}); pass partition_by=None "
                f"to append unpartitioned"
            )
        files, schema = self._stage(df, stage_pb)
        # An explicit None only unpartitions THIS staged batch; the
        # manifest must keep recording the table's layout, or every later
        # inherit-default append, compaction restage, and tx_partitions()
        # path parse would see the table as permanently unpartitioned.
        publish_pb = self._INHERIT if partition_by is None else stage_pb
        return self._publish(
            lambda prev: sorted((prev or {}).get("files", []) + files),
            "append", schema, meta, partition_by=publish_pb,
        )

    def remove_files(self, predicate, op: str = "remove", meta: dict | None = None) -> tuple[int, list[str]]:
        """Metadata-only delete: publish a manifest without the files
        matching ``predicate(relative_path)``. Data stays on disk for
        time travel until expire()+vacuum()."""
        if not self.latest_version():
            # publishing from nothing would write a schema-less manifest
            # that poisons every later read
            raise ValueError(f"table at {self.path} has no commits")
        removed: list[str] = []

        def build(prev):
            removed.clear()
            kept = []
            for f in (prev or {}).get("files", []):
                (removed if predicate(f) else kept).append(f)
            return kept

        v = self._publish(build, op, None, meta)
        return v, sorted(removed)

    # ----------------------------------------------------------- read

    def _resolve_version(self, version: int | None, timestamp: str | None) -> int:
        if version is not None:
            if not os.path.exists(self._manifest_path(version)):
                raise ValueError(f"version {version} does not exist at {self.path}")
            return version
        if timestamp is not None:
            best = 0
            for v in self.versions():
                if self.manifest(v)["timestamp"] <= timestamp:
                    best = v
            if not best:
                raise ValueError(f"no version at or before {timestamp}")
            return best
        v = self.latest_version()
        if not v:
            raise ValueError(f"table at {self.path} has no commits")
        return v

    def read(self, spark: SparkSession, version: int | None = None,
             timestamp: str | None = None) -> DataFrame:
        """Snapshot read: the rows of one version, deletion vectors
        applied (see ``frame``)."""
        return self.frame(spark, self.manifest(self._resolve_version(version, timestamp)))

    def _uri_path(self, spark: SparkSession, rel: str) -> str:
        """The absolute path of file ``rel`` as ``_metadata.file_path``
        spells it (URI-escaped, by Hadoop's ``Path``)."""
        p = self._uri_paths.get(rel)
        if p is None:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(os.path.join(self.path, rel))
            p = self._uri_paths[rel] = jpath.toUri().getRawPath()
        return p

    def _at(self, spark: SparkSession, positions: dict, file_col: str,
            row_col: str) -> Column:
        """TRUE for the rows at ``positions`` ({file: [row indexes]}) by
        the columns named ``file_col``/``row_col``. Each row list is one
        SQL ``IN`` text, parsed in one call; ``Column.isin`` would make
        one gateway round trip per position (about a second per
        thousand) on every read."""
        return reduce(lambda a, b: a | b, [
            F.col(file_col).endswith(self._uri_path(spark, f))
            & F.expr(f"{row_col} IN ({', '.join(map(str, rows))})")
            for f, rows in sorted(positions.items())
        ])

    def frame(self, spark: SparkSession, m: dict, files: list[str] | None = None,
              positions: bool = False) -> DataFrame:
        """The live rows of manifest ``m`` (or of its ``files`` subset):
        the one place manifest entries become a DataFrame. The stored
        schema is passed to the reader explicitly, so partition-directory
        columns keep their committed types and an empty version still
        has its schema.

        Files stored directly in their stage directory are read as ONE
        scan. A stage with partition directories is a scan of its own
        with the stage as basePath (partition dirs live INSIDE stages,
        so one global basePath would see conflicting structures); the
        scans are unioned by name, so long partitioned append chains
        deepen the scan union — compact() folds them back to one stage.
        A scan holding files with deletion vectors filters on
        ``_metadata.file_path``/``_metadata.row_index``; ``positions``
        adds both as ``__file``/``__row`` columns (the discovery scan of
        the DML paths)."""
        schema = StructType.fromJson(json.loads(m["schema"]))
        files = m["files"] if files is None else files
        if not files:
            if positions:
                schema = StructType(schema.fields + [
                    StructField("__file", StringType()), StructField("__row", LongType()),
                ])
            return local_frame(spark, [], schema)
        deleted = m.get("deleted", {})
        groups: dict[str, list[str]] = {}
        for f in files:
            # data/<stage>/<file>: the flat group "";
            # data/<stage>/<col>=<v>/.../<file>: the stage's own group
            groups.setdefault(f.split("/", 2)[1] if f.count("/") > 2 else "", []).append(f)
        out = None
        for stage in sorted(groups):
            reader = spark.read.schema(schema)
            if stage:
                reader = reader.option("basePath", os.path.join(self.data_dir, stage))
            part = reader.parquet(*[os.path.join(self.path, f) for f in groups[stage]])
            dead = {f: deleted[f] for f in groups[stage] if f in deleted}
            if dead:
                part = part.filter(~self._at(
                    spark, dead, "_metadata.file_path", "_metadata.row_index"
                ))
            if positions:
                part = part.select(
                    "*",
                    F.col("_metadata.file_path").alias("__file"),
                    F.col("_metadata.row_index").alias("__row"),
                )
            out = part if out is None else out.unionByName(part)
        return out

    def _retry_conflicts(self, attempt):
        """Re-run a read-transform-stage-publish cycle that lost a
        version-pinned race (TxConflict from _publish) against the new
        head, up to the retry budget."""
        last: TxConflict | None = None
        for _ in range(self.MAX_RETRIES):
            try:
                return attempt()
            except TxConflict as exc:
                last = exc
        raise last

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the latest snapshot as a single stage (one scan node;
        run after long append chains). Version-pinned: a concurrent
        append between the read and the publish re-runs the compaction
        instead of silently dropping the appended rows."""

        def attempt():
            base = self.latest_version()
            pb = self.manifest(base).get("partition_by") if base else None
            files, schema = self._stage(self.read(spark, version=base), pb)
            return self._publish(
                lambda prev: files, "compact", schema, None, expected_base=base
            )

        return self._retry_conflicts(attempt)

    def compact_small(self, spark: SparkSession, small_bytes: int = 32 << 20) -> int:
        """Bin-pack ONLY the small commit stages (< ``small_bytes`` of
        data each) into one stage, leaving large stages untouched — the
        Delta OPTIMIZE shape. This is what the engine's append and DML
        paths call for plan-depth insurance: cost is proportional to the
        small-file data folded, never the table, so an INSERT chain
        stays O(rows inserted) amortized. Once the manifest's deletion
        vectors hold more than ``DV_MAX_ROWS`` positions, the files that
        carry them are purged too, whatever their stage's size: each is
        rewritten without its dead rows (in parallel, not packed into
        the small stages' one file) and its vector is dropped; the other
        files of its stage stay."""

        def attempt():
            base = self.latest_version()
            if not base:
                return base
            m = self.manifest(base)
            deleted = m.get("deleted", {})
            stages: dict[str, list[str]] = {}
            for f in m["files"]:
                stages.setdefault(f.split("/", 2)[1], []).append(f)
            small = [
                s for s, fs in stages.items()
                if sum(os.path.getsize(os.path.join(self.path, f)) for f in fs) < small_bytes
            ]
            packed = {f for s in small for f in stages[s]}
            if len(small) <= 1 and not packed & deleted.keys():
                packed = set()  # one clean small stage: nothing to pack
            purged = deleted.keys() - packed if deleted_rows(m) > DV_MAX_ROWS else set()
            if not packed and not purged:
                return base  # nothing worth folding
            parts = []
            if packed:
                parts.append(self.frame(spark, m, sorted(packed)).coalesce(1))
            if purged:
                parts.append(self.frame(spark, m, sorted(purged)))
            new_files, schema_json = self._stage(
                reduce(DataFrame.unionByName, parts), m.get("partition_by")
            )
            folded = packed | purged

            def build(prev):
                kept = [f for f in (prev or {}).get("files", []) if f not in folded]
                return sorted(kept + new_files)

            return self._publish(
                build, "compact", schema_json,
                {"folded_stages": len(small) if packed else 0, "purged_files": len(purged)},
                expected_base=base,
            )

        return self._retry_conflicts(attempt)

    # ------------------------------------------------------------- DML

    def _rel_of_uri(self, uri: str) -> str:
        return unquote(uri).split(self.path + "/", 1)[-1]

    def _match_positions(self, spark: SparkSession, m: dict, matched) -> dict | None:
        """{file: [row positions]} of the manifest-``m`` rows that
        ``matched(df)`` keeps, from ONE bounded scan (``collect_head``:
        one Spark job); None when more than ``DV_MAX_ROWS`` match."""
        hits = collect_head(
            matched(self.frame(spark, m, positions=True)).select("__file", "__row"),
            DV_MAX_ROWS + 1,
        )
        if len(hits) > DV_MAX_ROWS:
            return None
        out: dict[str, list[int]] = {}
        for uri, row in hits:
            out.setdefault(self._rel_of_uri(uri), []).append(row)
        unknown = out.keys() - set(m["files"])
        if unknown:
            raise RuntimeError(f"DML matched rows in files outside v{m['version']}: {sorted(unknown)}")
        return out

    def _touched_files(self, spark: SparkSession, matched, base: int) -> list[str]:
        """Relative paths of version-``base`` files holding ≥1 row that
        ``matched(df)`` keeps. A filter in ``matched`` reaches the scan,
        so Catalyst prunes via parquet row-group stats — files that
        provably cannot match are skipped without reading rows."""
        uris = (
            matched(self.frame(spark, self.manifest(base), positions=True))
            .select("__file").distinct().collect()
        )
        return [self._rel_of_uri(r[0]) for r in uris]

    def _rewrite_files(self, spark: SparkSession, touched: list[str],
                       transform, op: str, base: int) -> int:
        """Copy-on-write at FILE granularity (the Delta-style contract,
        taken by DML above ``DV_MAX_ROWS`` matching rows): rewrite only
        the files holding matching rows; every other file is carried
        into the new manifest untouched. A DELETE of one day's rows from
        a year-sized table moves one day of data, not the table.
        ``transform(df_of_touched_rows) -> replacement df``; the touched
        files are read with their deletion vectors applied, and the
        vectors go with them. Version-pinned against ``base``: the
        publish raises TxConflict if another writer committed first (the
        caller's retry loop re-reads and re-stages)."""
        m = self.manifest(base)
        touched_set = set(touched)
        new_files, schema = self._stage(
            transform(self.frame(spark, m, touched)), m.get("partition_by")
        )

        def build(prev):
            kept = [f for f in (prev or {}).get("files", []) if f not in touched_set]
            return sorted(kept + new_files)

        return self._publish(
            build, op, schema, {"rewrote": len(touched)}, expected_base=base
        )

    def _dml(self, spark: SparkSession, op: str, base: int, matched, transform,
             replacement=None) -> int | None:
        """Commit DML ``op`` against version ``base``; the rows that
        ``matched(df)`` keeps are the ones it deletes or replaces. Up to
        ``DV_MAX_ROWS`` of them: merge-on-read — record their positions
        as deleted and, for UPDATE/MERGE, append
        ``replacement(manifest, positions)`` as one new stage; no data
        file is rewritten. More: ``_rewrite_files`` with ``transform``,
        after a second scan for the touched files (the bounded position
        scan cannot name them all). Both commits are version-pinned to
        ``base``. None when nothing matched (no commit)."""
        m = self.manifest(base)
        positions = self._match_positions(spark, m, matched)
        if positions is None:
            return self._rewrite_files(
                spark, self._touched_files(spark, matched, base), transform, op, base
            )
        if not positions:
            return None
        new_files: list[str] = []
        if replacement is not None:
            new_files, _schema = self._stage(replacement(m, positions), m.get("partition_by"))
        return self._publish(
            lambda prev: sorted(prev["files"] + new_files), op, None,
            {"deleted_rows": sum(map(len, positions.values()))},
            expected_base=base, deleted=positions,
        )

    def delete_where(self, spark: SparkSession, condition: str | None) -> int:
        """SQL DELETE semantics (only rows where the predicate is TRUE
        die). Up to ``DV_MAX_ROWS`` matching rows: one scan finds their
        positions and the commit records them as a deletion vector (one
        Spark job, no data file written). More: the touched files are
        rewritten without them."""
        if condition is None:
            v, _removed = self.remove_files(lambda f: True, op="delete")
            return v
        matched = lambda df: df.filter(f"coalesce(({condition}), false)")  # noqa: E731

        def attempt():
            base = self._resolve_version(None, None)  # raises on an empty table
            v = self._dml(
                spark, "delete", base, matched,
                lambda rows: rows.filter(f"NOT coalesce(({condition}), false)"),
            )
            return base if v is None else v  # no match: no commit

        return self._retry_conflicts(attempt)

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     key_cols: list[str]) -> int:
        """Full-row upsert (the CDC special case of Delta MERGE): rows
        whose key matches a source row are replaced by it; unmatched
        source rows are inserted. The discovery scan is a semi join
        against the (broadcast) source keys. Up to ``DV_MAX_ROWS``
        matched rows: their positions become a deletion vector and the
        source rows one append stage. More: only the files holding
        matched keys are rewritten, as (touched rows minus matched keys)
        + all source rows. Either way an upsert of one device's day
        into a 100 TB table moves that device's rows (or files) plus the
        new rows, nothing else."""
        # localCheckpoint: the key set is broadcast into the discovery
        # scan and the rewrite, and is broadcast-sized anyway
        keys = source.select(*key_cols).distinct().transform(_materialize)
        matched = lambda df: df.join(F.broadcast(keys), key_cols, "semi")  # noqa: E731

        def replace(rows):
            survivors = rows.join(F.broadcast(keys), key_cols, "anti")
            return survivors.unionByName(source)

        def conformed(m, _positions):
            schema = StructType.fromJson(json.loads(m["schema"]))
            extra = set(source.columns) - set(schema.names)
            if extra:
                raise ValueError(f"MERGE source columns {sorted(extra)} are not in the table")
            return source.select(*[F.col(f.name).cast(f.dataType) for f in schema])

        def attempt():
            base = self.latest_version()
            if not base:
                return self.append(source)
            v = self._dml(spark, "merge", base, matched, replace, conformed)
            # no match: a pure insert, append the source rows
            return self.append(source) if v is None else v

        return self._retry_conflicts(attempt)

    def update_where(self, spark: SparkSession, assignments: dict[str, str],
                     condition: str | None) -> int:
        """SQL UPDATE: every RHS reads the pre-update row (build all
        assignment expressions before applying) and is stored as its
        column's type. Up to ``DV_MAX_ROWS`` matching rows: their
        positions become a deletion vector and their updated copies one
        append stage (two Spark jobs: the discovery scan and the stage
        write, which reads only the touched files). More: the touched
        files are rewritten."""

        def apply_set(rows, guarded=True):
            projected = []
            for field in rows.schema:
                name = field.name
                if name in assignments:
                    e = F.expr(assignments[name])
                    if condition and guarded:
                        e = F.when(F.expr(condition), e).otherwise(F.col(name))
                    projected.append(e.cast(field.dataType).alias(name))
                else:
                    projected.append(F.col(name))
            return rows.select(*projected)

        if condition is None:
            return self.overwrite(
                apply_set(self.read(spark)), op="update",
                partition_by=self.partition_by(),
            )
        matched = lambda df: df.filter(f"coalesce(({condition}), false)")  # noqa: E731

        def updated(m, positions):
            # only the touched files are read, and of them only the hits
            hit = self.frame(spark, m, sorted(positions), positions=True)
            hit = hit.filter(self._at(spark, positions, "__file", "__row"))
            return apply_set(hit.drop("__file", "__row"), guarded=False)

        def attempt():
            base = self._resolve_version(None, None)  # raises on an empty table
            v = self._dml(spark, "update", base, matched, apply_set, updated)
            return base if v is None else v

        return self._retry_conflicts(attempt)

    # ------------------------------------------------------- cleanup

    def expire(self, keep_last: int = 1) -> list[int]:
        """Drop manifests older than the newest ``keep_last`` versions
        (their snapshots stop being readable; run vacuum() after to
        reclaim the files only they referenced)."""
        vs = self.versions()
        dropped = vs[:-keep_last] if keep_last else vs
        for v in dropped:
            os.unlink(self._manifest_path(v))
        return dropped

    #: vacuum grace period: unreferenced files younger than this are
    #: presumed to be a concurrent writer's in-flight stage (written but
    #: not yet published) and are skipped — deleting them would let the
    #: racing commit publish a manifest pointing at vanished files
    #: (the Delta-style retention default, scaled to edge workloads)
    VACUUM_RETENTION_SECONDS = 3600.0

    def vacuum(self, retention_seconds: float | None = None) -> list[str]:
        """Delete data files referenced by NO retained manifest (crash
        orphans + expired-snapshot files) and older than the retention
        grace period; prune stage dirs emptied by the sweep. Retention
        protects concurrent writers mid-stage: ``retention_seconds=0``
        opts into the unguarded sweep (safe only with no other writer)."""
        import time

        if retention_seconds is None:
            retention_seconds = self.VACUUM_RETENTION_SECONDS
        cutoff = time.time() - retention_seconds
        live: set[str] = set()
        for v in self.versions():
            live.update(self.manifest(v)["files"])
        removed = []
        for root, _dirs, names in os.walk(self.data_dir):
            for n in names:
                p = os.path.join(root, n)
                rel = os.path.relpath(p, self.path)
                if n.endswith(".parquet") and rel not in live:
                    try:
                        if os.path.getmtime(p) > cutoff:
                            continue  # likely an in-flight stage
                    except OSError:
                        continue  # raced with its own writer/cleaner
                    os.unlink(p)
                    removed.append(rel)
        for entry in os.listdir(self.data_dir):
            d = os.path.join(self.data_dir, entry)
            try:
                # a young dir may be a writer mid-stage (only _temporary
                # content, no .parquet yet) — never prune inside retention
                if not os.path.isdir(d) or os.path.getmtime(d) > cutoff:
                    continue
            except OSError:
                continue
            if not any(
                ns for _r, _d, ns in os.walk(d) if any(x.endswith(".parquet") for x in ns)
            ):
                shutil.rmtree(d)
        return sorted(removed)
