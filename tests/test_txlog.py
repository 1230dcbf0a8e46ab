"""Transactional commit log (edgelake_spark/txlog.py): atomic commits,
snapshot isolation, time travel, crash consistency, vacuum, and the
optimistic-concurrency race.

Reference counterpart: EdgeLake's TSD file-provenance + in-place SQL
DML (edge_lake/dbms/tsd_info.py); here re-expressed as Delta-style
snapshot isolation over immutable parquet.
"""

from __future__ import annotations

import json
import os

import pytest

from edgelake_spark.txlog import TxConflict, TxTable
from tests.conftest import REPO_ROOT


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_commit_read_versions(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    assert t.latest_version() == 0

    v1 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    v3 = t.overwrite(_df(spark, [(9, "z")]))
    assert (v1, v2, v3) == (1, 2, 3)

    assert sorted(r.k for r in t.read(spark).collect()) == [9]
    assert sorted(r.k for r in t.read(spark, version=2).collect()) == [1, 2, 3]
    assert sorted(r.k for r in t.read(spark, version=1).collect()) == [1, 2]

    hist = t.history()
    assert [m["op"] for m in hist] == ["overwrite", "append", "overwrite"]
    # timestamp travel: at-or-before v2's commit time → v2's rows
    at = hist[1]["timestamp"]
    assert sorted(r.k for r in t.read(spark, timestamp=at).collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="version 7"):
        t.read(spark, version=7)


def test_crash_between_write_and_commit_reads_clean(spark, tmp_path):
    """A writer killed after staging data but before publishing the
    manifest must be invisible: the old snapshot reads clean, and
    vacuum() reclaims the orphan."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))

    # simulate the crash: stage files, never publish
    orphan_files, _schema = t._stage(_df(spark, [(666, "crash")]))
    assert orphan_files  # data really is on disk
    assert sorted(r.k for r in t.read(spark).collect()) == [1]
    assert t.latest_version() == 1

    # a torn manifest tmp file is equally invisible
    (tmp_path / "t" / "_txlog" / "_tmp.dead.json").write_text('{"version": 99')
    assert t.latest_version() == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [1]

    # inside the retention window the orphan is presumed in-flight
    assert t.vacuum() == []
    removed = t.vacuum(retention_seconds=0)
    assert set(removed) == set(orphan_files)
    assert sorted(r.k for r in t.read(spark).collect()) == [1]


def test_concurrent_writers_linearize(spark, tmp_path):
    """os.link publish: when two writers race for the same version
    number, exactly one wins and the loser recomputes — appends from
    both survive."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "base")]))

    # force a race: pre-publish version 2 between t's stage and publish
    other = TxTable(str(tmp_path / "t"))
    real_stage = t._stage

    def stage_then_interleave(df, partition_by=None):
        out = real_stage(df, partition_by)
        if not stage_then_interleave.done:
            stage_then_interleave.done = True
            other.append(_df(spark, [(100, "interloper")]))
        return out

    stage_then_interleave.done = False
    t._stage = stage_then_interleave
    t.append(_df(spark, [(1, "mine")]))
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 100]
    assert t.latest_version() == 3

    # exhausted retry budget surfaces TxConflict
    t2 = TxTable(str(tmp_path / "t2"))
    t2.overwrite(_df(spark, [(0, "x")]))
    t2.MAX_RETRIES = 1
    files, schema = t2._stage(_df(spark, [(1, "y")]))
    # occupy every version t2 would try
    TxTable(str(tmp_path / "t2")).append(_df(spark, [(50, "w")]))

    real_publish_target = t2._manifest_path

    def always_taken(v):  # every candidate name already exists
        return real_publish_target(t2.latest_version())

    t2._manifest_path = always_taken
    with pytest.raises(TxConflict):
        t2._publish(lambda prev: files, "append", schema, None)


def test_expire_vacuum_bound_history(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(4):
        t.overwrite(_df(spark, [(i, "v")]))
    all_files_v1 = t.manifest(1)["files"]
    assert t.expire(keep_last=2) == [1, 2]
    assert t.versions() == [3, 4]
    removed = t.vacuum(retention_seconds=0)
    assert set(all_files_v1) <= set(removed)
    # retained snapshots still read
    assert [r.k for r in t.read(spark, version=3).collect()] == [2]
    assert [r.k for r in t.read(spark, version=4).collect()] == [3]


def test_partitioned_commits_and_metadata_only_drop(spark, tmp_path):
    """partitionBy commit + remove_files: drop partition is a manifest
    edit; the dropped bucket still reads at the prior version."""
    from pyspark.sql import functions as F

    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-02-01")],
        "k int, _par_bucket string",
    )
    t.overwrite(df, partition_by="_par_bucket")
    assert t.read(spark).filter(F.col("_par_bucket") == "2024-01-01").count() == 2

    v, removed = t.remove_files(lambda f: "_par_bucket=2024-01-01" in f, op="drop_partition")
    assert v == 2 and removed
    assert sorted(r.k for r in t.read(spark).collect()) == [3]
    # time travel across the drop
    assert sorted(r.k for r in t.read(spark, version=1).collect()) == [1, 2, 3]
    # partition column survives the explicit-schema read
    assert dict(t.read(spark).dtypes)["_par_bucket"] == "string"


def test_empty_table_and_schema_carries(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    v, removed = t.remove_files(lambda f: True, op="truncate")
    out = t.read(spark)
    assert out.count() == 0
    assert out.columns == ["k", "v"]


def test_manifest_is_complete_and_json(tmp_path, spark):
    """One manifest fully describes a version (reader needs no history
    walk) — the scale contract of the complete-file-list choice."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    m = json.loads(open(t._manifest_path(2)).read())
    assert m["version"] == 2
    assert len(m["files"]) >= 2  # v1's files + v2's files, complete list
    assert all(not os.path.isabs(f) for f in m["files"])  # relocatable


def test_compact_folds_append_chain(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, "x")]))
    assert len({f.split("/", 2)[1] for f in t.manifest(5)["files"]}) == 5
    t.compact(spark)
    m = t.manifest(t.latest_version())
    assert m["op"] == "compact"
    assert len({f.split("/", 2)[1] for f in m["files"]}) == 1  # one stage
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_concurrent_threads_all_appends_survive(spark, tmp_path):
    """Real thread race (not an interleaved mock): N writers append
    simultaneously through the os.link publish; every row must survive
    and the version history must be gapless."""
    import threading

    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "base")]))
    n_writers = 6
    errors = []

    def writer(i: int) -> None:
        try:
            # each thread its own TxTable handle, like separate processes
            TxTable(str(tmp_path / "t")).append(_df(spark, [(100 + i, f"w{i}")]))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.versions() == list(range(1, n_writers + 2))  # gapless
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == [0] + [100 + i for i in range(n_writers)]


def test_concurrent_processes_all_appends_survive(spark, tmp_path):
    """Cross-PROCESS twin of the thread race: two separate OS processes
    append to one TxTable simultaneously through the os.link publish.
    Threads share a Python runtime (GIL serialization can mask races);
    two processes pin the actual filesystem contract the 100 TB story
    leans on — os.link is an atomic compare-and-swap ACROSS processes,
    so every commit lands, the version chain is gapless, and append
    file lists grow monotonically."""
    import subprocess
    import sys as _sys
    import textwrap

    table_path = str(tmp_path / "xproc")
    t = TxTable(table_path)
    n_each = 25

    # a Spark StructType json, written without a Spark session in the
    # subprocess (the writers are pure-filesystem: pyarrow stage +
    # TxTable._publish — the commit protocol under test)
    writer_src = textwrap.dedent(
        """
        import json, os, sys, time
        import pyarrow as pa
        import pyarrow.parquet as pq
        from edgelake_spark.txlog import TxTable

        path, tag, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
        t = TxTable(path)
        schema_json = json.dumps({
            "type": "struct",
            "fields": [
                {"name": "writer", "type": "string", "nullable": True, "metadata": {}},
                {"name": "i", "type": "long", "nullable": True, "metadata": {}},
            ],
        })
        # barrier: spin until the parent drops the GO file, so both
        # writers enter the commit loop together
        while not os.path.exists(os.path.join(path, "_GO")):
            time.sleep(0.002)
        for i in range(n):
            stage = f"{tag}_{i}"
            os.makedirs(os.path.join(t.data_dir, stage), exist_ok=True)
            rel = os.path.join("data", stage, "part-0.parquet")
            pq.write_table(
                pa.table({"writer": [tag], "i": [i]}),
                os.path.join(path, rel),
            )
            t._publish(
                lambda prev, rel=rel: (((prev or {}).get("files")) or []) + [rel],
                "append",
                schema_json,
                {"writer": tag, "i": i},
            )
        print("OK", tag)
        """
    )
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", writer_src, table_path, tag, str(n_each)],
            cwd=REPO_ROOT,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in ("wa", "wb")
    ]
    import time as _time

    _time.sleep(1.0)  # let both processes import and reach the barrier
    (tmp_path / "xproc" / "_GO").write_text("go")
    outs = [p.communicate(timeout=120) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs

    # both writers' commits all landed; the chain is linear and gapless
    assert t.latest_version() == 2 * n_each
    assert t.versions() == list(range(1, 2 * n_each + 1))
    seen = set()
    prev_files: set = set()
    for v in t.versions():
        m = t.manifest(v)
        meta = m["meta"]
        seen.add((meta["writer"], meta["i"]))
        files = set(m["files"])
        # append-only chain: every version strictly grows the file set
        assert prev_files < files
        prev_files = files
    assert seen == {(w, i) for w in ("wa", "wb") for i in range(n_each)}
    # per-writer commit order is preserved (each writer publishes i in
    # order, so version order restricted to one writer is sorted)
    for w in ("wa", "wb"):
        idx = [t.manifest(v)["meta"]["i"] for v in t.versions()
               if t.manifest(v)["meta"]["writer"] == w]
        assert idx == sorted(idx)
    got = t.read(spark)
    assert got.count() == 2 * n_each
    per = {r["writer"]: r["n"] for r in got.groupBy("writer").count()
           .withColumnRenamed("count", "n").collect()}
    assert per == {"wa": n_each, "wb": n_each}


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: a random sequence of overwrite/append/remove/
    compact must always read back what a plain in-memory list model
    says — and every historical version must replay its model state."""
    import random

    rng = random.Random(20260814)
    for trial in range(3):
        t = TxTable(str(tmp_path / f"m{trial}"))
        model: list[int] = []
        history: list[list[int]] = []
        next_k = 0
        for _ in range(8):
            op = rng.choice(["overwrite", "append", "remove", "compact"])
            if op == "overwrite":
                model = [next_k, next_k + 1]
                t.overwrite(_df(spark, [(k, "v") for k in model]))
                next_k += 2
            elif op == "append":
                t.append(_df(spark, [(next_k, "v")]))
                model = model + [next_k]
                next_k += 1
            elif op == "remove":
                if not t.latest_version():
                    continue
                threshold = rng.randrange(next_k + 1)
                kept_files: list[str] = []
                # model: we can't map files→keys, so emulate by value
                # using a full overwrite of the filtered model instead
                model = [k for k in model if k >= threshold]
                t.overwrite(_df(spark, [(k, "v") for k in model] or []), op="delete") \
                    if model else t.overwrite(
                        spark.createDataFrame([], "k int, v string"), op="delete")
            else:
                if not t.latest_version():
                    continue
                t.compact(spark)
            history.append(list(model))
        # latest matches the model
        assert sorted(r.k for r in t.read(spark).collect()) == sorted(model)
        # every retained version replays its recorded state
        for v, state in zip(t.versions(), history):
            assert sorted(r.k for r in t.read(spark, version=v).collect()) == sorted(state)


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """Point DML is merge-on-read: a DELETE matching rows in one file
    removes no data file — every file carries over in the manifest, and
    the dead rows' positions become that file's deletion vector (the
    100 TB contract: a point delete costs its rows, not its file)."""
    t = TxTable(str(tmp_path / "t"))
    # three separate commits, one file each (coalesce pins the layout)
    t.overwrite(_df(spark, [(1, "a"), (2, "a")]).coalesce(1))
    t.append(_df(spark, [(10, "b"), (11, "b")]).coalesce(1))
    t.append(_df(spark, [(20, "c"), (21, "c")]).coalesce(1))
    before = t.manifest(t.latest_version())["files"]
    (file_b,) = set(t.manifest(2)["files"]) - set(t.manifest(1)["files"])
    (file_c,) = set(before) - set(t.manifest(2)["files"])

    v = t.delete_where(spark, "k = 10")
    m = t.manifest(v)
    assert m["op"] == "delete" and m["meta"]["deleted_rows"] == 1
    assert m["files"] == before  # no file removed, none written
    assert m["deleted"] == {file_b: [0]}
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 11, 20, 21]

    # no-match delete is a no-op: no new version
    assert t.delete_where(spark, "k = 999") == v
    assert t.latest_version() == v

    # update same contract: the old copies die by position, the new
    # ones land as one appended stage; NULL-condition rows untouched (3VL)
    v2 = t.update_where(spark, {"v": "'upd'"}, "k >= 20")
    m2 = t.manifest(v2)
    assert m2["meta"]["deleted_rows"] == 2
    assert set(before) < set(m2["files"])
    assert len({f.split("/", 2)[1] for f in set(m2["files"]) - set(before)}) == 1
    assert m2["deleted"] == {file_b: [0], file_c: [0, 1]}
    vals = {r.k: r.v for r in t.read(spark).collect()}
    assert vals == {1: "a", 2: "a", 11: "b", 20: "upd", 21: "upd"}
    # time travel still sees the pre-DML rows
    assert sorted(r.k for r in t.read(spark, version=3).collect()) == [1, 2, 10, 11, 20, 21]


def test_merge_upsert_file_granular(spark, tmp_path):
    """A point MERGE removes no data file: matched rows die by position
    and the source rows land as one appended stage."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "a")]).coalesce(1))
    t.append(_df(spark, [(10, "b")]).coalesce(1))
    before = set(t.manifest(t.latest_version())["files"])

    # matched key 10 → its row is deleted by position; key 99 → inserted
    v = t.merge_upsert(spark, _df(spark, [(10, "NEW"), (99, "ins")]), ["k"])
    m = t.manifest(v)
    assert m["op"] == "merge" and m["meta"]["deleted_rows"] == 1
    assert before < set(m["files"])  # untouched files carried, one stage added
    assert list(m["deleted"]) == sorted(before - set(t.manifest(1)["files"]))
    vals = {r.k: r.v for r in t.read(spark).collect()}
    assert vals == {1: "a", 2: "a", 10: "NEW", 99: "ins"}

    # no matches → pure append, nothing rewritten
    v2 = t.merge_upsert(spark, _df(spark, [(500, "x")]), ["k"])
    assert t.manifest(v2)["op"] == "append"
    assert set(m["files"]) <= set(t.manifest(v2)["files"])
    # time travel across both merges
    assert sorted(r.k for r in t.read(spark, version=2).collect()) == [1, 2, 10]
    # a source column the table lacks is an error, not silently dropped
    with pytest.raises(ValueError, match="not in the table"):
        t.merge_upsert(spark, spark.createDataFrame([(1, "z", 5)], "k int, v string, x int"), ["k"])


def test_compact_does_not_drop_concurrent_append(spark, tmp_path):
    """Version-pinned rewrite: a compact racing a concurrent append must
    retry and keep the appended rows (review round-5 finding: a
    list-only retry silently dropped them)."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))

    other = TxTable(str(tmp_path / "t"))
    real_stage = t._stage
    fired = []

    def stage_then_append(df, partition_by=None):
        out = real_stage(df, partition_by)
        if not fired:
            fired.append(1)
            other.append(_df(spark, [(77, "late")]))
        return out

    t._stage = stage_then_append
    t.compact(spark)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 77]
    assert t.manifest(t.latest_version())["op"] == "compact"


def test_compact_small_folds_only_small_stages(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    # incompressible payload so the big stage really is big on disk
    big = spark.range(20_000).selectExpr(
        "cast(id as int) as k", "md5(cast(id as string)) as v"
    )
    t.overwrite(big.coalesce(1))
    for i in range(4):
        t.append(_df(spark, [(100_000 + i, "tiny")]).coalesce(1))
    before = t.manifest(t.latest_version())["files"]
    big_files = [f for f in before if f in t.manifest(1)["files"]]

    v = t.compact_small(spark, small_bytes=20 << 10)
    m = t.manifest(v)
    assert m["meta"]["folded_stages"] == 4
    assert set(big_files) <= set(m["files"])  # the big stage untouched
    stages = {f.split("/", 2)[1] for f in m["files"]}
    assert len(stages) == 2  # big + one folded stage
    assert t.read(spark).count() == 20_004


def test_compact_preserves_partition_embedding(spark, tmp_path):
    """Compaction/DML restages of a partitioned table must keep the
    _par_bucket= path embedding (review round-5 finding: a restage
    without partition_by made tx_partitions() silently miss rows)."""
    from edgelake_spark.ingest.partitions import tx_partitions

    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-02-01")],
        "k int, _par_bucket string",
    )
    t.overwrite(df, partition_by="_par_bucket")
    assert t.partition_by() == "_par_bucket"

    # appends inherit the layout even when the caller doesn't restate it
    t.append(spark.createDataFrame([(4, "2024-03-01")], "k int, _par_bucket string"))
    # full compaction restages WITH the embedding
    t.compact(spark)
    m = t.manifest(t.latest_version())
    assert m["partition_by"] == "_par_bucket"
    assert all("_par_bucket=" in f for f in m["files"])
    assert tx_partitions(t) == ["2024-01-01", "2024-02-01", "2024-03-01"]

    # file-granular DML rewrite also keeps it
    t.update_where(spark, {"k": "k + 10"}, "k = 1")
    m = t.manifest(t.latest_version())
    assert all("_par_bucket=" in f for f in m["files"])
    assert tx_partitions(t) == ["2024-01-01", "2024-02-01", "2024-03-01"]
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3, 4, 11]

    # small-stage folding too
    t.compact_small(spark, small_bytes=32 << 20)
    m = t.manifest(t.latest_version())
    assert all("_par_bucket=" in f for f in m["files"])
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3, 4, 11]


def test_vacuum_spares_in_flight_stage(spark, tmp_path):
    """vacuum() must not delete files a concurrent writer has staged but
    not yet published (review round-5 finding): inside the retention
    window unreferenced files survive, so the racing commit stays valid."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))

    # a concurrent writer mid-commit: data staged, manifest not published
    staged, schema = t._stage(_df(spark, [(2, "inflight")]))
    assert t.vacuum() == []  # retention protects the stage
    for f in staged:
        assert os.path.exists(os.path.join(str(tmp_path / "t"), f))

    # the racing commit can still publish and read its files
    v = t._publish(
        lambda prev: sorted((prev or {}).get("files", []) + staged),
        "append", schema, None,
    )
    assert sorted(r.k for r in t.read(spark, version=v).collect()) == [1, 2]


def test_append_partition_sentinel(spark, tmp_path):
    """append() inherits the table's partition layout by default, but
    partition_by=None still means "explicitly unpartitioned", and an
    inherited layout with a missing partition column is a clear error
    instead of a deep _stage failure (round-6 advice)."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "2024-01-01")], "k int, _par_bucket string"),
        partition_by="_par_bucket",
    )

    # inherited layout but the batch lacks the partition column → clear error
    with pytest.raises(ValueError, match="_par_bucket"):
        t.append(spark.createDataFrame([(2,)], "k int"))

    # explicit None: unpartitioned append into the partitioned table
    t.append(
        spark.createDataFrame([(3, "2024-02-01")], "k int, _par_bucket string"),
        partition_by=None,
    )
    m = t.manifest(t.latest_version())
    new_files = [f for f in m["files"] if "_par_bucket=" not in f]
    assert new_files, "explicit None should write unembedded files"
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]

    # explicit None unpartitions only THAT batch: the manifest keeps
    # recording the table layout, so a later inherit-default append
    # still embeds paths (round-7 advice: None used to erase the
    # recorded layout permanently)
    assert m["partition_by"] == "_par_bucket"
    assert t.partition_by() == "_par_bucket"
    t.append(
        spark.createDataFrame([(4, "2024-03-01")], "k int, _par_bucket string")
    )
    m2 = t.manifest(t.latest_version())
    later = [f for f in m2["files"] if f not in m["files"]]
    assert later and all("_par_bucket=" in f for f in later)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3, 4]


# ------------------------------------------------------ deletion vectors


def _dv_subset_of_files(t):
    return all(set(m.get("deleted", {})) <= set(m["files"]) for m in t.history())


def _data_files(t):
    return {
        os.path.join(root, n)
        for root, _dirs, names in os.walk(t.data_dir)
        for n in names if n.endswith(".parquet")
    }


def test_point_dml_job_counts(spark, tmp_path):
    """A point DELETE is one Spark job (the bounded discovery scan) and
    writes no data file; a point UPDATE is two (discovery + the write of
    its one replacement stage)."""
    from tests.conftest import spark_jobs

    t = TxTable(str(tmp_path / "t"))
    t.overwrite(spark.range(1000).selectExpr("cast(id as int) as k", "'v' as v").repartition(4))
    files = _data_files(t)
    _, jobs = spark_jobs(spark, lambda: t.delete_where(spark, "k = 7"))
    assert jobs == 1 and _data_files(t) == files
    _, jobs = spark_jobs(spark, lambda: t.update_where(spark, {"v": "'u'"}, "k = 8"))
    assert jobs == 2
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert len(rows) == 999 and 7 not in rows and rows[8] == "u" and rows[9] == "v"


def test_dv_survives_compact_small_and_compact(spark, tmp_path):
    """Folding stages that carry deletion vectors does not bring the
    dead rows back; the fold drops the vectors of the files it rewrote."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(k, "a") for k in range(10)]).coalesce(1))
    for k in (10, 11, 12):
        t.append(_df(spark, [(k, "b")]).coalesce(1))
    t.delete_where(spark, "k in (3, 11)")
    t.update_where(spark, {"v": "'u'"}, "k = 4")
    want = {k: ("u" if k == 4 else "a" if k < 10 else "b")
            for k in range(13) if k not in (3, 11)}
    assert len(t.manifest(t.latest_version())["deleted"]) == 2

    v = t.compact_small(spark)
    m = t.manifest(v)
    assert m["op"] == "compact" and m["deleted"] == {}
    assert {r.k: r.v for r in t.read(spark).collect()} == want

    t.delete_where(spark, "k = 0")
    del want[0]
    assert t.manifest(t.latest_version())["deleted"]
    v = t.compact(spark)
    assert t.manifest(v)["deleted"] == {}
    assert {r.k: r.v for r in t.read(spark).collect()} == want
    assert _dv_subset_of_files(t)


def test_dv_time_travel(spark, tmp_path):
    """``version=`` reads before a point DELETE see the row, reads after
    it do not, and a later UPDATE's replacement rows stay version-bound."""
    t = TxTable(str(tmp_path / "t"))
    v1 = t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    v2 = t.delete_where(spark, "k = 2")
    v3 = t.update_where(spark, {"v": "'z'"}, "k = 3")
    assert sorted(r.k for r in t.read(spark, version=v1).collect()) == [1, 2, 3]
    assert sorted(r.k for r in t.read(spark, version=v2).collect()) == [1, 3]
    assert {r.k: r.v for r in t.read(spark, version=v2).collect()} == {1: "a", 3: "c"}
    assert {r.k: r.v for r in t.read(spark, version=v3).collect()} == {1: "a", 3: "z"}
    ts = t.manifest(v2)["timestamp"]
    assert sorted(r.k for r in t.read(spark, timestamp=ts).collect()) == [1, 3]


def test_dv_on_partitioned_table(spark, tmp_path):
    """Deletion vectors on a ``_par_bucket=`` partitioned table: keys are
    the partition files, the UPDATE stage keeps the path embedding, and
    a metadata-only partition drop takes the dropped files' vectors."""
    from edgelake_spark.ingest.partitions import tx_partitions

    t = TxTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-02-01"), (4, "2024-02-01")],
        "k int, _par_bucket string",
    ), partition_by="_par_bucket")
    before = t.manifest(t.latest_version())["files"]
    t.delete_where(spark, "k = 1")
    v = t.update_where(spark, {"k": "k + 10"}, "k = 3")
    m = t.manifest(v)
    assert set(before) < set(m["files"])
    assert all("_par_bucket=" in f for f in m["files"])
    assert all("_par_bucket=" in f for f in m["deleted"])
    assert {f.split("_par_bucket=")[1].split("/")[0] for f in m["deleted"]} == {
        "2024-01-01", "2024-02-01",
    }
    got = sorted((r.k, r._par_bucket) for r in t.read(spark).collect())
    assert got == [(2, "2024-01-01"), (4, "2024-02-01"), (13, "2024-02-01")]
    assert tx_partitions(t) == ["2024-01-01", "2024-02-01"]

    t.remove_files(lambda f: "_par_bucket=2024-01-01" in f, op="drop partition")
    m = t.manifest(t.latest_version())
    assert all("2024-02-01" in f for f in m["deleted"])
    assert sorted(r.k for r in t.read(spark).collect()) == [4, 13]
    assert _dv_subset_of_files(t)


def test_bulk_delete_over_cap_rewrites(spark, tmp_path):
    """Up to DV_MAX_ROWS matching rows a DELETE records positions; one
    more and it rewrites the touched files, dropping their vectors."""
    from edgelake_spark.txlog import DV_MAX_ROWS

    t = TxTable(str(tmp_path / "t"))
    n = DV_MAX_ROWS + 10
    t.overwrite(spark.range(n).selectExpr("cast(id as int) as k", "'v' as v").coalesce(1))
    v = t.delete_where(spark, f"k < {DV_MAX_ROWS}")
    m = t.manifest(v)
    assert m["meta"] == {"deleted_rows": DV_MAX_ROWS}
    assert sum(len(rows) for rows in m["deleted"].values()) == DV_MAX_ROWS

    t.overwrite(spark.range(n).selectExpr("cast(id as int) as k", "'v' as v").coalesce(1))
    v = t.delete_where(spark, f"k <= {DV_MAX_ROWS}")
    m = t.manifest(v)
    assert m["meta"] == {"rewrote": 1} and m["deleted"] == {}
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(DV_MAX_ROWS + 1, n))


def test_compact_small_purges_vectors_over_cap(spark, tmp_path):
    """Past DV_MAX_ROWS dead rows compact_small rewrites the files that
    carry them, even in a stage too large to count as small; the other
    files of that stage carry over, and the purged files are not packed
    into one."""
    from edgelake_spark.txlog import DV_MAX_ROWS

    t = TxTable(str(tmp_path / "t"))
    n = 2 * DV_MAX_ROWS
    # four files of contiguous k ranges, one stage
    t.overwrite(spark.range(0, n, 1, 4).selectExpr("cast(id as int) as k", "'v' as v"))
    files = t.manifest(1)["files"]
    assert len(files) == 4
    t.delete_where(spark, f"k < {DV_MAX_ROWS // 2}")  # all of the first file
    assert t.compact_small(spark, small_bytes=1) == t.latest_version()  # under the cap
    t.delete_where(spark, f"k >= {n - DV_MAX_ROWS // 2 - 1}")  # the last file, one row of the third
    dv_files = set(t.manifest(t.latest_version())["deleted"])
    assert len(dv_files) == 3
    v = t.compact_small(spark, small_bytes=1)
    m = t.manifest(v)
    assert m["op"] == "compact" and m["deleted"] == {}
    assert m["meta"] == {"folded_stages": 0, "purged_files": 3}
    kept = set(files) - dv_files
    assert kept < set(m["files"])
    new = set(m["files"]) - kept
    assert not new & set(files) and len(new) > 1
    assert sorted(r.k for r in t.read(spark).collect()) == list(
        range(DV_MAX_ROWS // 2, n - DV_MAX_ROWS // 2 - 1)
    )
    assert _dv_subset_of_files(t)


def test_delete_races_appending_process(spark, tmp_path):
    """Two processes: this one runs point DELETEs while another appends
    through the os.link publish. Every append survives, every deleted
    row stays deleted, and every manifest keeps its vector keys inside
    its file list."""
    import subprocess
    import sys as _sys
    import textwrap

    path = str(tmp_path / "race")
    t = TxTable(path)
    t.overwrite(_df(spark, [(k, "base") for k in range(12)]).coalesce(1))
    schema_json = t.manifest(1)["schema"]
    writer_src = textwrap.dedent(
        """
        import os, sys, time
        import pyarrow as pa
        import pyarrow.parquet as pq
        from edgelake_spark.txlog import TxTable

        path, schema_json, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
        t = TxTable(path)
        while not os.path.exists(os.path.join(path, "_GO")):
            time.sleep(0.002)
        for i in range(n):
            rel = os.path.join("data", f"app{i:03d}", "part-0.parquet")
            os.makedirs(os.path.dirname(os.path.join(path, rel)), exist_ok=True)
            pq.write_table(
                pa.table({"k": pa.array([1000 + i], pa.int32()), "v": ["app"]}),
                os.path.join(path, rel),
            )
            t._publish(lambda prev, rel=rel: sorted(prev["files"] + [rel]),
                       "append", schema_json, {"i": i})
            time.sleep(0.03)
        print("OK")
        """
    )
    n_app = 40
    proc = subprocess.Popen(
        [_sys.executable, "-c", writer_src, path, schema_json, str(n_app)],
        cwd=REPO_ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    import time as _time

    (tmp_path / "race" / "_GO").write_text("go")
    scans = []
    real_match = t._match_positions

    def match_then_wait(spark_, m, matched):
        # the first delete holds its positions until the writer has
        # published, so its own publish must lose the race
        out = real_match(spark_, m, matched)
        if not scans:
            deadline = _time.monotonic() + 120
            while t.latest_version() == m["version"] and _time.monotonic() < deadline:
                _time.sleep(0.01)
        scans.append(1)
        return out

    t._match_positions = match_then_wait
    deleted = [0, 2, 4, 6, 8, 10]
    for k in deleted:
        t.delete_where(spark, f"k = {k}")
    out = proc.communicate(timeout=120)
    assert proc.returncode == 0, out

    ops = [m["op"] for m in t.history()]
    assert ops.count("append") == n_app and ops.count("delete") == len(deleted)
    # the first delete lost the publish race and re-ran against the new head
    assert len(scans) > len(deleted)
    want = [k for k in range(12) if k not in deleted] + [1000 + i for i in range(n_app)]
    assert sorted(r.k for r in t.read(spark).collect()) == want
    assert _dv_subset_of_files(t)
