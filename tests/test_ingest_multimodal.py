"""Mapping policies, partitioned writes, multimodal plumbing."""

import hashlib
import json

import pytest

from pyspark.sql import functions as F

from edgelake_spark.ingest.mapping import apply_mapping_policy, parse_bring_path
from edgelake_spark.ingest.partitions import (
    PARTITION_COL,
    drop_partitions_before_tx,
    write_partitioned_tx,
)
from edgelake_spark.functions.multimodal import BLOB_SCHEMA, extract_features
from edgelake_spark.localframe import local_frame
from edgelake_spark.txlog import TxTable


def _mk_blobs(spark, rows):
    """(content, media_type, source_name) → blobs-table rows keyed by
    content sha256."""
    data = [
        (hashlib.sha256(content).hexdigest(), media_type, name, content, len(content))
        for content, media_type, name in rows
    ]
    return local_frame(spark, data, BLOB_SCHEMA)


def test_parse_bring_path():
    assert parse_bring_path("[readings][][value]") == ["readings", "", "value"]
    assert parse_bring_path("[device]") == ["device"]


def test_apply_mapping_policy_explodes_readings(spark):
    policy = {
        "mapping": {
            "id": "m1",
            "dbms": "d",
            "table": "t",
            "schema": {
                "device": {"type": "varchar", "bring": "[device]"},
                "ts": {"type": "timestamp", "bring": "[readings][][ts]"},
                "value": {"type": "float", "bring": "[readings][][value]"},
                "site": {"type": "varchar", "default": "main"},
                "__script__": {"type": "varchar"},  # ignored dummy column
            },
        }
    }
    payload = {
        "device": "plc-1",
        "readings": [
            {"ts": "2024-01-01 10:00:00", "value": 1.5},
            {"ts": "2024-01-01 10:00:10", "value": 2.5},
        ],
    }
    raw = spark.createDataFrame([(json.dumps(payload),)], "value string")
    out = apply_mapping_policy(spark, raw, policy)
    assert out.columns == ["device", "ts", "value", "site"]
    rows = out.orderBy("ts").collect()
    assert len(rows) == 2
    assert rows[0].device == "plc-1" and rows[0].value == 1.5 and rows[0].site == "main"
    assert rows[1].ts.second == 10


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", 1.0),
            ("2024-01-05 10:00:00", 2.0),
            ("2024-02-10 10:00:00", 3.0),
        ],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    table = TxTable(str(tmp_path / "t"))
    write_partitioned_tx(df, table, "ts", unit="day", count=2)
    back = table.read(spark)
    assert back.count() == 3
    # three rows land in three distinct 2-day epoch-anchored buckets
    buckets = sorted(r[0] for r in back.select(PARTITION_COL).distinct().collect())
    assert len(buckets) == 3
    # partition pruning: filter on the bucket column appears in the scan
    pruned = back.filter(F.col(PARTITION_COL) == str(buckets[0]))
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull" in plan
    dropped = drop_partitions_before_tx(table, "2024-02-01")
    assert len(dropped) == 2
    assert table.read(spark).count() == 1


def test_multimodal_feature_stub(spark):
    blobs = _mk_blobs(
        spark,
        [(b"fake-image-bytes-1", "image", "a.jpg"), (b"fake-image-bytes-2", "image", "b.jpg")],
    )
    assert blobs.schema["content"].dataType.simpleString() == "binary"
    feats = extract_features(blobs, decode_stub=True).collect()
    assert len(feats) == 2
    f0 = next(f for f in feats if f.blob_hash.startswith(blobs.collect()[0].blob_hash[:8]))
    assert len(f0.feature) == 8
    assert all(0.0 <= x <= 1.0 for x in f0.feature)
    assert 1 <= f0.width <= 64 and 1 <= f0.height <= 64
    # determinism: same bytes → same features
    feats2 = extract_features(blobs, decode_stub=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_file_store_retrieve_roundtrip(spark, tmp_path):
    """file store / file retrieve / get files count command surface
    (reference member_cmd.py:19225-19234, bucket_dbms.py:110,220)."""
    import hashlib

    import pytest

    from edgelake_spark.engine import EdgeLakeEngine

    eng = EdgeLakeEngine(spark)
    a = tmp_path / "cam1.png"
    b = tmp_path / "clip.mp4"
    a.write_bytes(b"png-bytes-1")
    b.write_bytes(b"mp4-bytes-22")

    r = eng.run(f"file store where dbms = blobs_edgex and table = video and file = {a}").collect()[0]
    assert r.stored and r.blob_hash == hashlib.md5(b"png-bytes-1").hexdigest()
    eng.run(f"file store where dbms = blobs_edgex and table = video and hash = abc123 and file = {b}")

    # duplicate hash → error, unless ignore = true (reference
    # bucket_dbms.py:205-214 Already_exists / ignore_duplicate)
    with pytest.raises(ValueError, match="duplicate"):
        eng.run(f"file store where dbms = blobs_edgex and table = video and file = {a}")
    r = eng.run(
        f"file store where dbms = blobs_edgex and table = video and file = {a} and ignore = true"
    ).collect()[0]
    assert not r.stored

    counts = eng.run("get files count where dbms = blobs_edgex and table = video").collect()
    assert [(c.dbms, c.table_name, c.n_files) for c in counts] == [("blobs_edgex", "video", 2)]

    # retrieve by hash → exact bytes at dest
    dest = tmp_path / "restored.bin"
    out = eng.run(
        f"file retrieve where dbms = blobs_edgex and table = video and hash = abc123 and dest = {dest}"
    ).collect()
    assert len(out) == 1 and dest.read_bytes() == b"mp4-bytes-22"

    # retrieve by source name
    dest2 = tmp_path / "byname.bin"
    out = eng.run(
        f"file retrieve where dbms = blobs_edgex and table = video and name = cam1.png and dest = {dest2}"
    ).collect()
    assert dest2.read_bytes() == b"png-bytes-1"
    assert out[0].blob_hash == hashlib.md5(b"png-bytes-1").hexdigest()

    # retrieve all (limit = 0) into a directory, one file per blob
    ddir = tmp_path / "dump"
    out = eng.run(
        f"file retrieve where dbms = blobs_edgex and table = video and limit = 0 and dest = {ddir}"
    ).collect()
    assert {o.source_name for o in out} == {"cam1.png", "clip.mp4"}
    assert (ddir / "cam1.png").read_bytes() == b"png-bytes-1"

    # media type inferred from extension
    blobs = spark.table(eng.blob_views[("blobs_edgex", "video")]).collect()
    assert {r.source_name: r.media_type for r in blobs} == {
        "cam1.png": "image",
        "clip.mp4": "video",
    }


def test_decode_paths_and_auto_selection(spark):
    """Import-guarded real decode: PIL path when importable, the
    deterministic double otherwise — same pipeline either way."""
    import pytest

    from edgelake_spark.functions import multimodal as mm

    blobs = _mk_blobs(spark, [(b"not-an-image", "image", "x.png")])
    # "auto" always runs end-to-end: double here (no PIL), real decode
    # in deployments that have it (exercised in the skipif test below)
    if mm._PILImage is None:
        feats = extract_features(blobs, decode_stub="auto").collect()
        assert len(feats) == 1 and len(feats[0].feature) == 8
        assert mm.decode_for("image") is mm._decode_fake
        with pytest.raises(NotImplementedError):
            mm._decode_real(b"x", "image")
    assert mm.decode_for("audio") is mm._decode_fake  # no audio lib ever here
    with pytest.raises(NotImplementedError):
        mm._decode_real(b"x", "audio")


def test_real_image_decode_with_pil(spark):
    """Runs only where PIL is installed: real histogram features."""
    import io

    import pytest

    from edgelake_spark.functions import multimodal as mm

    if mm._PILImage is None:
        pytest.skip("PIL not installed in this container")
    img = mm._PILImage.new("L", (4, 2), color=128)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    blobs = _mk_blobs(spark, [(buf.getvalue(), "image", "gray.png")])
    row = extract_features(blobs, decode_stub="auto").collect()[0]
    assert (row.width, row.height) == (4, 2)
    assert abs(sum(row.feature) - 1.0) < 1e-6 and row.feature[4] == 1.0


def test_sample_frames_expands_in_batch(spark):
    from edgelake_spark.functions.multimodal import sample_frames

    blobs = _mk_blobs(
        spark, [(b"vid-a", "video", "a.mp4"), (b"vid-b", "video", "b.mp4")]
    )
    out = sample_frames(blobs, n_frames=4).collect()
    assert len(out) == 8  # 2 blobs × 4 frames
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["blob_hash"], []).append(r)
    for frames in by_blob.values():
        assert sorted(f["frame_idx"] for f in frames) == [0, 1, 2, 3]
        # frames are distinct and deterministic per (blob, idx)
        assert len({f["frame_hash"] for f in frames}) == 4
        for f in frames:
            assert 1 <= f["frame_width"] <= 64


def test_file_retrieve_default_cap(spark, tmp_path, monkeypatch):
    """Whole-table `file retrieve` (no hash/name) is capped at
    RETRIEVE_CAP by default — an uncapped export of a 1M-blob table
    would stream every blob through the driver. Explicit `limit = 0`
    opts back into unlimited."""
    from edgelake_spark.engine import EdgeLakeEngine

    eng = EdgeLakeEngine(spark)
    monkeypatch.setattr(EdgeLakeEngine, "RETRIEVE_CAP", 3)
    for i in range(5):
        p = tmp_path / f"b{i}.bin"
        p.write_bytes(f"blob-{i}".encode())
        eng.run(f"file store where dbms = d and table = t and file = {p}")

    ddir = tmp_path / "capped"
    out = eng.run(f"file retrieve where dbms = d and table = t and dest = {ddir}").collect()
    assert len(out) == 3  # capped, not 5

    ddir2 = tmp_path / "all"
    out = eng.run(
        f"file retrieve where dbms = d and table = t and limit = 0 and dest = {ddir2}"
    ).collect()
    assert len(out) == 5
    assert (ddir2 / "b4.bin").read_bytes() == b"blob-4"
