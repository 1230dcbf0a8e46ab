"""Incremental aggregate maintenance over the commit log.

The 100 TB pattern for standing dashboards/rollups: a refresh must cost
O(new data), not O(history). The commit log already knows exactly which
files each version added, so a refresh is:

    delta files (manifest diff) → partial aggregate over the delta
    → merge with the stored aggregate state → publish new state

Only MERGEABLE aggregates qualify (count/sum/min/max — the same
partial/final algebra Catalyst uses for two-phase aggregation; avg is
carried as sum+count). The state table is itself a TxTable, so refresh
is atomic, time-travelable, and records the source version it is
consistent with in the commit metadata.

Append-only contract: if a source version REMOVED files (DML rewrite,
compaction folds, drop partition) or deleted rows of files it kept
(a point DML's deletion vector), the delta algebra is invalid and
refresh() raises — callers rebuild with full_refresh(), exactly what
Delta/materialized-view engines do on non-append changes.

Reference parity: the closest reference feature is the repeatable query
scheduler writing query results to a table (`table=` / scheduler
policies); this is its incremental form, which the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from edgelake_spark.txlog import TxTable, changed_files


class IncrementalAgg:
    """Maintain ``dst`` = SELECT group_cols, merge-able aggs FROM src.

    ``aggs`` maps output column -> (kind, input_expr) with kind in
    {"count", "sum", "min", "max"}; count ignores its input expr.
    """

    _MERGE = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}

    def __init__(self, src: TxTable, dst: TxTable,
                 group_cols: list[str], aggs: dict):
        for name, (kind, _expr) in aggs.items():
            if kind not in self._MERGE:
                raise ValueError(f"aggregate {name}: {kind!r} is not mergeable")
        self.src, self.dst = src, dst
        self.group_cols, self.aggs = list(group_cols), dict(aggs)

    # ----------------------------------------------------------- plumbing

    def _agg_select(self) -> list[str]:
        out = []
        for name, (kind, expr) in self.aggs.items():
            if kind == "count":
                out.append(f"CAST(count(*) AS BIGINT) AS {name}")
            else:
                out.append(f"{kind}({expr}) AS {name}")
        return out

    def _aggregate(self, df: DataFrame) -> DataFrame:
        keys = ", ".join(self.group_cols)
        df.createOrReplaceTempView("__inc_delta")
        sel = ", ".join([keys] + self._agg_select())
        return df.sparkSession.sql(
            f"SELECT {sel} FROM __inc_delta GROUP BY {keys}"
        )

    def _merge_states(self, merged: DataFrame) -> DataFrame:
        keys = ", ".join(self.group_cols)
        merged.createOrReplaceTempView("__inc_states")
        sel = ", ".join(
            [keys]
            + [
                f"{self._MERGE[kind]}({name}) AS {name}"
                for name, (kind, _e) in self.aggs.items()
            ]
        )
        return merged.sparkSession.sql(
            f"SELECT {sel} FROM __inc_states GROUP BY {keys}"
        )

    def _applied_version(self) -> int:
        v = self.dst.latest_version()
        if not v:
            return 0
        return int(self.dst.manifest(v).get("meta", {}).get("src_version", 0))

    # ------------------------------------------------------------ refresh

    def refresh(self, spark: SparkSession) -> dict:
        """Advance ``dst`` to the source head, reading ONLY files added
        since the last applied source version. Returns a stats dict
        ({"src_version", "delta_files", "skipped"})."""
        cur = self.src.latest_version()
        applied = self._applied_version()
        if not cur or cur == applied:
            return {"src_version": applied, "delta_files": 0, "skipped": True}
        old_manifest = self.src.manifest(applied) if applied else {}
        new_manifest = self.src.manifest(cur)
        changed = changed_files(old_manifest, new_manifest)
        if changed:
            raise ValueError(
                f"source removed {len(changed)} files or rows of them since "
                f"version {applied} (DML/compaction/drop) — the append-only "
                f"delta algebra does not apply; run full_refresh()"
            )
        delta = sorted(set(new_manifest["files"]) - set(old_manifest.get("files", [])))
        if delta:
            part = self._aggregate(self.src.frame(spark, new_manifest, delta))
            if self.dst.latest_version():
                state = self.dst.read(spark)
                part = self._merge_states(state.unionByName(part))
            self.dst.overwrite(part, meta={"src_version": cur})
        return {"src_version": cur, "delta_files": len(delta), "skipped": False}

    def full_refresh(self, spark: SparkSession) -> dict:
        """Rebuild the state from a full source scan (the recovery path
        after non-append source changes)."""
        cur = self.src.latest_version()
        self.dst.overwrite(
            self._aggregate(self.src.read(spark)), meta={"src_version": cur}
        )
        return {"src_version": cur, "delta_files": -1, "skipped": False}
