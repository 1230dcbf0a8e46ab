"""Blobs archiver lifecycle (ingest/archiver.py): descriptor → blob
store + date-keyed archive + watch-dir row file + TSD provenance →
`get archived files` readback. Reference:
edge_lake/members/alarchiver.py data_archiver, utils_io.py:2459
archive_file, member_cmd.py:20711 get archived files."""

from __future__ import annotations

import gzip
import json
from datetime import datetime

import pytest

from edgelake_spark.engine import EdgeLakeEngine

NOW = datetime(2024, 2, 1, 10, 30, 0)


def _descriptor(tmp_path, blobs):
    return {
        "blobs": {
            "dbms": "video",
            "table": "releases",
            "list": [
                {"info": {"timestamp": "2024-01-01 00:00:00", "name": n, "file": f}}
                for n, f in blobs
            ],
        }
    }


def _setup(tmp_path, spark, **run_flags):
    eng = EdgeLakeEngine(spark, now=NOW)
    (tmp_path / "bwatch").mkdir()
    (tmp_path / "blobs").mkdir()
    flags = " ".join(f"and {k} = {v}" for k, v in run_flags.items())
    df = eng.run(
        f"run blobs archiver where bwatch_dir = {tmp_path}/bwatch and "
        f"blobs_dir = {tmp_path}/blobs and archive_dir = {tmp_path}/archive and "
        f"watch_dir = {tmp_path}/watch and err_dir = {tmp_path}/err {flags}"
    )
    assert "dbms = True" in df.collect()[0].archiver or run_flags
    return eng


def test_archive_roundtrip_store_compress_tsd(spark, tmp_path):
    eng = _setup(tmp_path, spark)
    (tmp_path / "blobs" / "clip.mp4").write_bytes(b"mp4-bytes-1")
    (tmp_path / "blobs" / "cam.png").write_bytes(b"png-bytes-2")
    desc = tmp_path / "bwatch" / "video.releases.json"
    desc.write_text(json.dumps(_descriptor(tmp_path, [("A", "clip.mp4"), ("B", "cam.png")])))

    results = eng.archiver.process_once()
    assert results == {"video.releases.json": "ok"}

    # 1. blobs stored in the blobs DBMS, retrievable by source name
    counts = eng.run("get files count where dbms = blobs_video").collect()
    assert [(c.table_name, c.n_files) for c in counts] == [("releases", 2)]
    dest = tmp_path / "back.mp4"
    eng.run(
        f"file retrieve where dbms = blobs_video and table = releases and name = clip.mp4 and dest = {dest}"
    )
    assert dest.read_bytes() == b"mp4-bytes-1"

    # 2. archive tree is YY/MM/DD with gzip; originals gone
    day = tmp_path / "archive" / "24" / "02" / "01"
    assert sorted(p.name for p in day.iterdir()) == ["cam.png.gz", "clip.mp4.gz"]
    with gzip.open(day / "clip.mp4.gz") as fh:
        assert fh.read() == b"mp4-bytes-1"
    assert not (tmp_path / "blobs" / "clip.mp4").exists()

    # 3. `get archived files` readback, date-filtered
    rows = eng.run("get archived files 2024-02-01").collect()
    assert [(r.archive_date, r.file_name, r.compressed) for r in rows] == [
        ("2024-02-01", "cam.png.gz", True),
        ("2024-02-01", "clip.mp4.gz", True),
    ]
    assert eng.run("get archived files 2024-02-02").collect() == []

    # 4. watch-dir row file under the TSD naming convention, rows carry
    # the content hash in the file column
    watch_files = list((tmp_path / "watch").iterdir())
    assert len(watch_files) == 1
    name = watch_files[0].name
    assert name.startswith("video.releases.archiver.") and name.endswith(".240201103000.json")
    rows = [json.loads(line) for line in watch_files[0].read_text().splitlines()]
    assert [r["name"] for r in rows] == ["A", "B"]
    assert all(len(r["file"]) == 32 for r in rows)  # md5 content hashes

    # 5. TSD provenance row registered for the emitted file
    tsd = eng.run("time file get").collect()
    assert len(tsd) == 1 and tsd[0].file_name == name and tsd[0].status1 == "archived"

    # descriptor consumed
    assert not desc.exists()


def test_archiver_error_path_and_uncompressed(spark, tmp_path):
    eng = _setup(tmp_path, spark, compress="false")
    # descriptor referencing a missing blob → err dir, archiver survives
    bad = tmp_path / "bwatch" / "bad.json"
    bad.write_text(json.dumps(_descriptor(tmp_path, [("X", "missing.bin")])))
    (tmp_path / "blobs" / "ok.bin").write_bytes(b"fine")
    good = tmp_path / "bwatch" / "good.json"
    good.write_text(json.dumps(_descriptor(tmp_path, [("Y", "ok.bin")])))

    results = eng.archiver.process_once()
    assert results["good.json"] == "ok"
    assert results["bad.json"].startswith("err")
    assert (tmp_path / "err" / "err_bad.json").exists()
    assert eng.archiver.processed_ok == 1 and eng.archiver.processed_err == 1

    # uncompressed archive keeps raw bytes
    day = tmp_path / "archive" / "24" / "02" / "01"
    assert (day / "ok.bin").read_bytes() == b"fine"


def test_archiver_dbms_only_deletes_blob(spark, tmp_path):
    """folder = false and dbms = true: blob goes to the store, the file
    is deleted (reference: update_dbms without archive_file)."""
    eng = _setup(tmp_path, spark, folder="false")
    (tmp_path / "blobs" / "b.bin").write_bytes(b"bb")
    (tmp_path / "bwatch" / "d.json").write_text(
        json.dumps(_descriptor(tmp_path, [("Z", "b.bin")]))
    )
    assert eng.archiver.process_once() == {"d.json": "ok"}
    assert not (tmp_path / "blobs" / "b.bin").exists()
    assert not (tmp_path / "archive").exists()
    counts = eng.run("get files count where dbms = blobs_video").collect()
    assert counts[0].n_files == 1


def test_get_archived_without_archiver_errors(spark):
    eng = EdgeLakeEngine(spark)
    with pytest.raises(ValueError, match="no blobs archiver"):
        eng.run("get archived files")


def test_archiver_feeds_watch_dir_ingest(spark, tmp_path):
    """The full operator-node loop (reference aloperator + alarchiver):
    blob descriptor → archiver emits the SQL row file into the watch
    dir → StreamIngest streams it into the table → query sees typed
    rows carrying the blob's content hash."""
    from pyspark.sql import types as T

    from edgelake_spark.streaming.ingest import StreamIngest
    from edgelake_spark.txlog import TxTable

    eng = _setup(tmp_path, spark)
    (tmp_path / "blobs" / "clip.mp4").write_bytes(b"mp4-bytes")
    (tmp_path / "bwatch" / "d.json").write_text(
        json.dumps(_descriptor(tmp_path, [("A", "clip.mp4")]))
    )
    assert eng.archiver.process_once() == {"d.json": "ok"}

    schema = T.StructType(
        [
            T.StructField("timestamp", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("file", T.StringType()),
        ]
    )
    ingest = StreamIngest(
        spark=spark,
        source_dir=str(tmp_path / "watch"),
        target_dir=str(tmp_path / "landed"),
        schema=schema,
        write_immediate=True,
    )
    q = ingest.start("archiver_ingest")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert ingest.rows_flushed == 1

    landed = TxTable(str(tmp_path / "landed")).read(spark)
    row = landed.collect()[0]
    assert row.name == "A" and len(row.file) == 32  # the blob content hash
    # ...and the hash joins back to the stored blob
    stored = spark.table(eng.blob_views[("blobs_video", "releases")]).collect()[0]
    assert stored.blob_hash == row.file
