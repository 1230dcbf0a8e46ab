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

Reference counterpart: EdgeLake tracks ingested-file provenance in TSD
tables (edge_lake/dbms/tsd_info.py) and updates SQLite/Postgres in
place; snapshot isolation over immutable parquet is the Spark-native
re-expression (single atomic rename/link, no table server).

At scale the manifest is KBs per version (file paths only); data files
never move. The complete-file-list choice bounds reader work at one
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from edgelake_spark.checkpoint import materialize as _materialize
from edgelake_spark.localframe import local_frame

_LOG_DIR = "_txlog"
_DATA_DIR = "data"


class TxConflict(RuntimeError):
    """Another writer published this version first (surfaced only after
    the internal retry budget is exhausted)."""


class TxTable:
    """One versioned parquet table rooted at ``path``."""

    #: optimistic-concurrency retries before giving up
    MAX_RETRIES = 20

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.data_dir = os.path.join(self.path, _DATA_DIR)
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
                 partition_by=_INHERIT) -> int:
        """Optimistic-concurrency commit loop. ``build(prev_manifest)``
        returns the complete relative file list for the new version.

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
            manifest = {
                "version": base + 1,
                "op": op,
                "timestamp": datetime.now(timezone.utc).isoformat(),
                "files": build(prev),
                "schema": schema_json or (prev or {}).get("schema"),
                "partition_by": pb,
                "meta": meta or {},
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
        """Snapshot read. The stored schema is passed to the reader
        explicitly, so partition-directory columns keep their committed
        types and an empty version still has its schema.

        Files are read per commit-stage directory (each stage is its own
        basePath — partition dirs live INSIDE stages, so one global
        basePath would see conflicting structures), then unioned by
        name. Long append chains therefore deepen the scan union —
        compact() folds them back to one stage."""
        m = self.manifest(self._resolve_version(version, timestamp))
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not m["files"]:
            return local_frame(spark, [], schema)
        groups: dict[str, list[str]] = {}
        for f in m["files"]:
            stage = f.split("/", 2)[1]  # data/<stage>/...
            groups.setdefault(stage, []).append(os.path.join(self.path, f))
        out = None
        for stage in sorted(groups):
            part = (
                spark.read.schema(schema)
                .option("basePath", os.path.join(self.data_dir, stage))
                .parquet(*groups[stage])
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
        Delta OPTIMIZE shape. This is what the engine's append paths
        call for plan-depth insurance: cost is proportional to the
        small-file data folded, never the table, so an INSERT chain
        stays O(rows inserted) amortized."""

        def attempt():
            base = self.latest_version()
            if not base:
                return base
            m = self.manifest(base)
            stages: dict[str, list[str]] = {}
            for f in m["files"]:
                stages.setdefault(f.split("/", 2)[1], []).append(f)
            small = [
                s
                for s, fs in stages.items()
                if sum(os.path.getsize(os.path.join(self.path, f)) for f in fs)
                < small_bytes
            ]
            if len(small) <= 1:
                return base  # nothing worth folding
            schema = StructType.fromJson(json.loads(m["schema"]))
            parts = None
            for s in small:
                p = (
                    spark.read.schema(schema)
                    .option("basePath", os.path.join(self.data_dir, s))
                    .parquet(*[os.path.join(self.path, f) for f in stages[s]])
                )
                parts = p if parts is None else parts.unionByName(p)
            pb = m.get("partition_by")
            new_files, schema_json = self._stage(parts.coalesce(1), pb)
            folded = {f for s in small for f in stages[s]}

            def build(prev):
                kept = [f for f in (prev or {}).get("files", []) if f not in folded]
                return sorted(kept + new_files)

            return self._publish(
                build, "compact", schema_json, {"folded_stages": len(small)},
                expected_base=base,
            )

        return self._retry_conflicts(attempt)

    # ------------------------------------------- file-granular DML

    def _rel_of_uri(self, uri: str) -> str:
        return uri.split(self.path + "/", 1)[-1]

    def _touched_files(self, spark: SparkSession, condition: str, base: int) -> list[str]:
        """Relative paths of version-``base`` files containing ≥1 row
        where ``condition`` is TRUE. The discovery scan carries the
        predicate, so Catalyst prunes via parquet row-group stats —
        files that provably cannot match are skipped without reading
        rows."""
        from pyspark.sql import functions as F

        uris = (
            self.read(spark, version=base)
            .filter(f"coalesce(({condition}), false)")
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        return [self._rel_of_uri(r.f) for r in uris]

    def _rewrite_files(self, spark: SparkSession, touched: list[str],
                       transform, op: str, base: int) -> int:
        """Copy-on-write at FILE granularity (the Delta-style contract):
        rewrite only the files holding matching rows; every other file
        is carried into the new manifest untouched. A DELETE of one
        day's rows from a year-sized table moves one day of data, not
        the table. ``transform(df_of_touched_rows) -> replacement df``.
        Version-pinned against ``base``: the publish raises TxConflict
        if another writer committed first (the caller's retry loop
        re-reads and re-stages). (File membership tests use a
        broadcastable set; at very large file counts swap the isin for
        a broadcast join on file name.)"""
        from pyspark.sql import functions as F

        touched_set = set(touched)
        df = self.read(spark, version=base)
        # relative path = whatever follows "<table root>/" in the file
        # URI — scheme-agnostic (file://, hdfs://, s3://) and JVM-side
        rel = F.expr(f"substring_index(input_file_name(), '{self.path}/', -1)")
        replaced = transform(
            df.withColumn("__rel", rel).filter(F.col("__rel").isin(touched)).drop("__rel")
        )
        pb = self.manifest(base).get("partition_by")
        new_files, schema = self._stage(replaced, pb)

        def build(prev):
            kept = [f for f in (prev or {}).get("files", []) if f not in touched_set]
            return sorted(kept + new_files)

        return self._publish(
            build, op, schema, {"rewrote": len(touched)}, expected_base=base
        )

    def delete_where(self, spark: SparkSession, condition: str | None) -> int:
        """SQL DELETE semantics (only rows where the predicate is TRUE
        die); commit is proportional to touched files."""
        if condition is None:
            v, _removed = self.remove_files(lambda f: True, op="delete")
            return v

        def attempt():
            base = self.latest_version()
            touched = self._touched_files(spark, condition, base)
            if not touched:
                return base  # no-op: nothing matched
            return self._rewrite_files(
                spark, touched,
                lambda rows: rows.filter(f"NOT coalesce(({condition}), false)"),
                "delete", base,
            )

        return self._retry_conflicts(attempt)

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     key_cols: list[str]) -> int:
        """Full-row upsert (the CDC special case of Delta MERGE): rows
        whose key matches a source row are replaced by it; unmatched
        source rows are inserted. File-granular: only files containing
        matched keys are rewritten — the discovery scan is a semi join
        against the (broadcast) source keys — and the commit stages
        (touched rows minus matched keys) + all source rows. An upsert
        of one device's day into a 100 TB table moves that device's
        files plus the new rows, nothing else."""
        from pyspark.sql import functions as F

        # localCheckpoint: the key set must not remain a FILE source —
        # input_file_name() (the discovery scan) rejects plans with a
        # second file source, and the keys are broadcast-sized anyway
        keys = source.select(*key_cols).distinct().transform(_materialize)

        def replace(rows):
            survivors = rows.join(F.broadcast(keys), key_cols, "anti")
            return survivors.unionByName(source)

        def attempt():
            base = self.latest_version()
            if not base:
                return self.append(source)
            touched = [
                self._rel_of_uri(r.f)
                for r in (
                    self.read(spark, version=base)
                    .join(F.broadcast(keys), key_cols, "semi")
                    .select(F.input_file_name().alias("f"))
                    .distinct()
                    .collect()
                )
            ]
            if not touched:
                # pure insert: nothing matched, append the source rows
                return self.append(source)
            return self._rewrite_files(spark, touched, replace, "merge", base)

        return self._retry_conflicts(attempt)

    def update_where(self, spark: SparkSession, assignments: dict[str, str],
                     condition: str | None) -> int:
        """SQL UPDATE: every RHS reads the pre-update row (build all
        assignment expressions before applying); rewrite touched files
        only."""
        from pyspark.sql import functions as F

        def apply_set(rows):
            projected = []
            for name in rows.columns:
                if name in assignments:
                    e = F.expr(assignments[name])
                    if condition:
                        e = F.when(F.expr(condition), e).otherwise(F.col(name))
                    projected.append(e.alias(name))
                else:
                    projected.append(F.col(name))
            return rows.select(*projected)

        if condition is None:
            return self.overwrite(
                apply_set(self.read(spark)), op="update",
                partition_by=self.partition_by(),
            )

        def attempt():
            base = self.latest_version()
            touched = self._touched_files(spark, condition, base)
            if not touched:
                return base
            return self._rewrite_files(spark, touched, apply_set, "update", base)

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
