"""Streaming semantics: conditions, data monitor ring, aggregation
ingest, end-to-end micro-batched file ingest."""

import json
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from edgelake_spark.streaming import (
    DataMonitor,
    StreamIngest,
    StreamingCondition,
    aggregation_ingest,
    apply_conditions,
)
from edgelake_spark.txlog import TxTable
from tests.conftest import drop_last_commit


def test_condition_parse():
    c = StreamingCondition.parse("if [value] > 10 then ignore entry")
    assert (c.column, c.op, c.value, c.is_ignore) == ("value", ">", "10", True)
    c2 = StreamingCondition.parse("if [status] == 'err' then send alert", limit=2)
    assert c2.action == "send alert" and c2.limit == 2 and not c2.is_ignore


def test_apply_conditions(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "ok"), (2, 15.0, "ok"), (3, 25.0, "err")], "id long, value double, status string"
    )
    ignore = StreamingCondition.parse("if [value] > 10 then ignore entry")
    fired = []
    alert = StreamingCondition.parse("if [status] == err then alert", limit=1)
    out = apply_conditions(df, [ignore, alert], on_action=lambda c, n: fired.append(n))
    assert [r.id for r in out.orderBy("id").collect()] == [1]
    assert fired == [1]
    # limit exhausted → no second firing
    apply_conditions(df, [alert], on_action=lambda c, n: fired.append(n))
    assert fired == [1]


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t


def test_data_monitor_ring_and_alerts():
    clock = FakeClock()
    mon = DataMonitor(value_column="v", intervals=3, interval_seconds=60, clock=clock)
    mon.set_alert("min", "<", 2.0)
    mon.add_values([5.0, 10.0])
    mon.add_values([1.0])  # same interval; triggers min<2 alert
    clock.t += 61  # next interval
    mon.add_values([7.0])
    snap = mon.snapshot()
    assert len(snap) == 2
    assert snap[0] == {"interval": 0, "min": 1.0, "max": 10.0, "sum": 16.0, "count": 3, "avg": 16.0 / 3}
    assert snap[1]["min"] == 7.0 and snap[1]["interval"] == 1
    assert len(mon.alert_log) >= 1
    # ring wraps: after 3 more intervals the oldest is overwritten
    for _ in range(3):
        clock.t += 61
        mon.add_values([2.0])
    assert len(mon.snapshot()) == 3


def test_data_monitor_from_batch(spark):
    mon = DataMonitor(value_column="value", intervals=4, interval_seconds=3600)
    df = spark.createDataFrame([(1.0,), (9.0,), (4.0,)], "value double")
    mon.process_batch(df)
    snap = mon.snapshot()
    assert snap[0]["min"] == 1.0 and snap[0]["max"] == 9.0 and snap[0]["count"] == 3


def test_aggregation_ingest_batch_semantics(spark, tmp_path):
    # run the agg pipeline on a bounded stream via memory sink
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("value", T.DoubleType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T00:00:10.000", "value": 1.0},
        {"ts": "2024-01-01T00:00:50.000", "value": 3.0},
        {"ts": "2024-01-01T00:01:20.000", "value": 5.0},
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.format("json").schema(schema).load(str(src))
    agg = aggregation_ingest(stream, "ts", "value", window="1 minute")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("agg_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.interval_start.isoformat(): (r.min_value, r.max_value, r.count_value)
            for r in spark.sql("select * from agg_out").collect()
        }
    finally:
        q.stop()
    assert got["2024-01-01T00:00:00"] == (1.0, 3.0, 2)
    assert got["2024-01-01T00:01:00"] == (5.0, 5.0, 1)


def test_stream_ingest_end_to_end(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("device", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "in"
    dst = tmp_path / "out"
    src.mkdir()
    rows = [{"device": "d1", "value": 5.0}, {"device": "d2", "value": 50.0}]
    (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    mon = DataMonitor(value_column="value", intervals=2, interval_seconds=3600)
    ingest = StreamIngest(
        spark=spark,
        source_dir=str(src),
        target_dir=str(dst),
        schema=schema,
        conditions=[StreamingCondition.parse("if [value] > 10 then ignore entry")],
        monitor=mon,
        write_immediate=True,
    )
    q = ingest.start("test_ingest")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = TxTable(str(dst)).read(spark)
    rows_out = landed.collect()
    assert len(rows_out) == 1 and rows_out[0].device == "d1"
    assert "insert_timestamp" in landed.columns
    assert mon.snapshot()[0]["count"] == 1  # monitor sees post-condition rows


def test_get_streaming_command(spark, tmp_path):
    """`get streaming` (reference streaming_data.py:713 show_info):
    thresholds + per-ingest flushed-row counters + registered
    consumers."""
    import json as _json

    from edgelake_spark.engine import EdgeLakeEngine

    src = tmp_path / "src3"
    dst = tmp_path / "dst3"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"device": f"d{i}", "value": i}) for i in range(4))
    )
    schema = T.StructType(
        [T.StructField("device", T.StringType()), T.StructField("value", T.LongType())]
    )
    ingest = StreamIngest(
        spark=spark, source_dir=str(src), target_dir=str(dst), schema=schema,
        write_immediate=True,
    )
    eng = EdgeLakeEngine(spark)
    eng.stream_ingests.append(ingest)
    eng.run(
        "run kafka consumer where ip = 127.0.0.1 and port = 9092 and topic = "
        '(name = s1 and dbms = iot and table = m and column.value.int = "bring [v]")'
    )
    q = ingest.start("test_get_streaming")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {(r.scope, r.item): r.value for r in eng.run("get streaming").collect()}
    assert out[("config", "threshold_time_sec")] == "60"
    assert out[("config", "threshold_volume_bytes")] == "10000"
    assert out[("ingest", str(dst))] == "flushed_rows=4"
    assert out[("consumer", "s1")] == "iot.m"


def test_lsh_band_keys_match_batch_sql(spark):
    # the streaming fingerprinter must land every doc in EXACTLY the
    # buckets the batch sweep computes — compare per-doc band-key sets
    # against the registered batch SQL at sf0.001
    from edgelake_spark.catalog import register_sf_tables
    from edgelake_spark.functions import dedup as dd
    from edgelake_spark.streaming.stateful import minhash_band_keys_py

    register_sf_tables(spark, "/root/testdata/sf0.001")
    sig_sql = dd.spark_minhash_sig_sql("documents", where="doc_id < 30")
    bands = ", ".join(
        f"{dd.spark_band_key('sig', b)} AS b{b}" for b in range(dd.BANDS)
    )
    batch = {
        r["doc_id"]: [r[f"b{b}"] for b in range(dd.BANDS)]
        for r in spark.sql(f"SELECT doc_id, {bands} FROM ({sig_sql})").collect()
    }
    docs = spark.sql("SELECT doc_id, text FROM documents WHERE doc_id < 30").collect()
    assert len(batch) == len(docs) > 0
    for r in docs:
        assert minhash_band_keys_py(r["text"]) == batch[r["doc_id"]], r["doc_id"]


def test_lsh_dedup_stream_flags_near_dups_across_batches(spark, tmp_path):
    from edgelake_spark.streaming.stateful import lsh_dedup_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    novel = (
        "completely different content about spark partitions shuffles "
        "and broadcast joins at terabyte scale clusters"
    )
    src = tmp_path / "lsrc"
    src.mkdir()
    # batch 1: original + one exact re-text under a new id + a novel doc
    rows1 = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},
        {"doc_id": 3, "text": novel},
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows1))
    flagged = lsh_dedup_stream(
        spark.readStream.format("json").schema(schema).load(str(src))
    )
    q = (
        flagged.writeStream.outputMode("update")
        .format("memory")
        .queryName("lsh_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 arrives later: a near-dup of doc 1 (one word changed)
        # and another novel doc — state must remember batch-1 buckets
        near = base.replace("tonight", "tomorrow")
        rows2 = [
            {"doc_id": 10, "text": near},
            {"doc_id": 11, "text": "unrelated text about minhash lsh banding"},
        ]
        (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows2))
        q.processAllAvailable()
        verdicts = {}
        for r in spark.sql("select doc_id, max(dup) d from lsh_out group by doc_id").collect():
            verdicts[r["doc_id"]] = bool(r["d"])
    finally:
        q.stop()
    assert verdicts[1] is False  # first arrival keeps
    assert verdicts[2] is True  # exact re-text shares every band
    assert verdicts[3] is False  # novel
    assert verdicts[10] is True  # near-dup caught across the batch gap
    assert verdicts[11] is False


def test_band_claim_policy_unifies_stream_and_batch(spark, tmp_path):
    """r9-verdict stretch: the greedy keep-first band-claim contract
    lives in ONE function (dedup.band_claim_policy); this pins its two
    drivers verdict-identical on the same corpus — (a) the batch SQL
    twin (band_claims_sql, the doc_lsh_claims gate body), (b) the
    streaming monitor folding arrivals in doc_id order, and (c) a
    direct Python fold of the policy over each band bucket. The
    doc_lsh_claims gate, which reads the persisted band index, agrees
    with the fold over the whole corpus."""
    import json as _json

    from edgelake_spark.catalog import register_sf_tables
    from edgelake_spark.functions import dedup as dd
    from edgelake_spark.queries import SPARK_QUERIES
    from edgelake_spark.streaming.stateful import (
        lsh_dedup_stream,
        minhash_band_keys_py,
    )

    sf_dir = "/root/testdata/sf0.001"
    register_sf_tables(spark, sf_dir)
    corpus = spark.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").collect()
    docs = [r for r in corpus if r["doc_id"] < 60]
    assert docs

    def fold(rows):
        """(c) direct fold of the shared policy per band bucket."""
        buckets: dict = {}
        for r in rows:
            for b, key in enumerate(minhash_band_keys_py(r["text"])):
                buckets.setdefault((b, key), []).append(r["doc_id"])
        dup_fold: dict = {}
        kept_fold: dict = {}
        for ids in buckets.values():
            claimant, verdicts = dd.band_claim_policy(None, sorted(ids))
            for d, dup in verdicts:
                dup_fold[d] = dup_fold.get(d, False) or dup
                if dup:
                    kept_fold[d] = min(kept_fold.get(d, claimant), claimant)
        return {d: (dup, kept_fold.get(d)) for d, dup in dup_fold.items()}

    # (a) batch SQL twin
    spark.sql(
        dd.spark_minhash_sig_sql("documents", where="doc_id < 60")
    ).createOrReplaceTempView("__claims_parity_sig")
    batch = {
        r["doc_id"]: (bool(r["is_dup"]), r["kept_by"])
        for r in spark.sql(
            dd.band_claims_sql(dd.band_unions("spark", "__claims_parity_sig"))
        ).collect()
    }
    assert batch == fold(docs)

    # the gate over the persisted index, whole corpus
    gate = {
        r["doc_id"]: (bool(r["is_dup"]), r["kept_by"])
        for r in SPARK_QUERIES["doc_lsh_claims"](spark, sf_dir).collect()
    }
    assert len(gate) == len(corpus)
    assert gate == fold(corpus)

    # (b) the stream over the same docs in ONE micro-batch (arrival
    # order = doc_id order inside a batch) produces the same per-doc
    # dup verdicts
    src = tmp_path / "claims_src"
    src.mkdir()
    (src / "docs.json").write_text(
        "\n".join(
            _json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) for r in docs
        )
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    flagged = lsh_dedup_stream(
        spark.readStream.format("json").schema(schema).load(str(src))
    )
    q = (
        flagged.writeStream.outputMode("update")
        .format("memory")
        .queryName("claims_parity_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = {
            r["doc_id"]: bool(r["d"])
            for r in spark.sql(
                "select doc_id, max(dup) d from claims_parity_out group by doc_id"
            ).collect()
        }
    finally:
        q.stop()
    assert stream == {d: v for d, (v, _k) in batch.items()}


def test_hll_stream_merges_registers_across_batches(spark, tmp_path):
    """The streaming HLL monitor must converge to the SAME sketch as a
    batch build over the union of all batches — registers merge by max
    regardless of arrival order or batch boundaries."""
    import hashlib

    from edgelake_spark.functions.sketch import HLL_M, _HLL_MAXRHO, _HLL_WBITS
    from edgelake_spark.streaming.stateful import hll_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = tmp_path / "hsrc"
    src.mkdir()
    ids1 = list(range(100))
    ids2 = list(range(50, 220))  # overlaps batch 1 — dups must not bump
    (src / "a.json").write_text(
        "\n".join(json.dumps({"event_id": i, "event_type": "t"}) for i in ids1)
    )
    out = hll_stream(
        spark.readStream.format("json").schema(schema).load(str(src)),
        "event_type",
        value_col="event_id",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_out")
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b.json").write_text(
            "\n".join(json.dumps({"event_id": i, "event_type": "t"}) for i in ids2)
        )
        q.processAllAvailable()
        # the LAST update row per key carries the merged sketch
        rows = spark.sql(
            "select * from hll_out where n_rows = (select max(n_rows) from hll_out)"
        ).collect()
    finally:
        q.stop()
    assert len(rows) == 1
    got = rows[0]

    # reference sketch: batch build over the union, same md5 math
    regs = [0] * HLL_M
    wmask = (1 << _HLL_WBITS) - 1
    for i in set(ids1) | set(ids2):
        h60 = int(hashlib.md5(f"hll:{i}".encode()).hexdigest()[:15], 16)
        idx, w = h60 >> _HLL_WBITS, h60 & wmask
        rho = _HLL_MAXRHO - w.bit_length() if w else _HLL_MAXRHO
        regs[idx] = max(regs[idx], rho)
    assert got["n_rows"] == len(ids1) + len(ids2)
    assert got["registers_hit"] == sum(1 for r in regs if r)
    assert got["sum_inv"] == sum(1 << (_HLL_MAXRHO - r) for r in regs if r)


def test_cms_stream_adds_cells_across_batches(spark, tmp_path):
    """The streaming CMS monitor's cells must equal a direct count over
    the union of all batches — cell merge is addition, independent of
    batch boundaries."""
    import hashlib

    from edgelake_spark.functions.dedup import SHINGLE_WORDS  # noqa: F401
    from edgelake_spark.functions.sketch import CMS_DEPTH, CMS_WIDTH
    from edgelake_spark.streaming.stateful import cms_cells_stream

    schema = T.StructType([T.StructField("text", T.StringType())])
    src = tmp_path / "csrc"
    src.mkdir()
    b1 = ["spark spark shuffle", "broadcast join join"]
    b2 = ["spark shuffle shuffle shuffle", "join"]
    (src / "a.json").write_text("\n".join(json.dumps({"text": t}) for t in b1))
    out = cms_cells_stream(
        spark.readStream.format("json").schema(schema).load(str(src)),
        "text",
        min_cell=1,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cms_out")
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b.json").write_text("\n".join(json.dumps({"text": t}) for t in b2))
        q.processAllAvailable()
        # update mode re-emits per batch: keep the LAST emission per cell
        rows = spark.sql(
            "SELECT j, col, max(cell) AS cell FROM cms_out GROUP BY j, col"
        ).collect()
    finally:
        q.stop()
    got = {(r["j"], r["col"]): r["cell"] for r in rows}

    # reference cells over the union, same md5 addressing
    ref = {}
    for t in b1 + b2:
        for w in t.split():
            for j in range(CMS_DEPTH):
                h = hashlib.md5(f"cms{j}:{w}".encode()).hexdigest()
                col = int(h[:15], 16) % CMS_WIDTH
                ref[(j, col)] = ref.get((j, col), 0) + 1
    assert got == ref


def test_lsh_dedup_claims_survive_query_restart(spark, tmp_path):
    """The sharp consequence of losing band-claim state: a restarted
    crawl would silently KEEP near-duplicates of pre-restart documents.
    Stop the query after batch 1, start a NEW query instance from the
    same checkpointLocation, then stream a near-dup of a batch-1 doc —
    the restored claims must flag it. (Memory sink refuses recovery;
    foreachBatch is the recovery-capable sink.)"""
    from edgelake_spark.streaming.stateful import lsh_dedup_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    src = tmp_path / "lrsrc"
    src.mkdir()
    ckpt = str(tmp_path / "lrckpt")
    rows: list = []

    def start():
        flagged = lsh_dedup_stream(
            spark.readStream.format("json").schema(schema).load(str(src))
        )
        return (
            flagged.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "a.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": base},
                {"doc_id": 2, "text": "novel content about broadcast joins"},
            ]
        )
    )
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    near = base.replace("tonight", "tomorrow")
    (src / "b.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 10, "text": near},
                {"doc_id": 11, "text": "fresh text on watermark semantics"},
            ]
        )
    )
    q2 = start()  # NEW query instance; claims restored from ckpt
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    verdicts = {}
    for r in rows:
        verdicts[r.doc_id] = verdicts.get(r.doc_id, False) or bool(r.dup)
    assert verdicts[1] is False  # first arrival, pre-restart
    assert verdicts[10] is True  # near-dup caught ACROSS the restart
    assert verdicts[11] is False


def test_tx_ingest_is_exactly_once_across_replay_and_restart(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the data
    write and the batch commit, Spark REPLAYS the epoch. The sink
    publishes each batch atomically with an (ingest_query, epoch)
    token in the TxTable manifest, so: (a) a replayed epoch on a live
    query is skipped via the in-memory cache; (b) a replayed epoch on a
    RESTARTED query (cold cache) is skipped via the ledger scan; and
    (c) across a real stop/start cycle every source row lands exactly
    once."""
    import json as _json

    from edgelake_spark.streaming.ingest import StreamIngest
    from edgelake_spark.txlog import TxTable

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "txsrc"
    src.mkdir()
    tx_path = str(tmp_path / "txtable")

    def ingest():
        return StreamIngest(
            spark=spark,
            source_dir=str(src),
            target_dir=tx_path,
            schema=schema,
            write_immediate=True,
        )

    (src / "a.json").write_text(
        "\n".join(_json.dumps({"event_id": i, "value": i / 2}) for i in range(40))
    )
    ing1 = ingest()
    q1 = ing1.start("tx_ingest_q")
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    table = TxTable(tx_path)
    v1 = table.latest_version()
    assert table.read(spark).count() == 40
    assert ing1.epochs_skipped == 0

    # (a) simulate Spark replaying the committed epoch on the live query
    batch = spark.createDataFrame(
        [(999, 0.5)], "event_id long, value double"
    )
    top_epoch = max(
        int((m.get("meta") or {}).get("epoch", -1)) for m in table.history()
    )
    ing1._handle_batch(batch, top_epoch)
    assert ing1.epochs_skipped == 1
    assert table.latest_version() == v1  # no new commit, no new rows
    assert table.read(spark).count() == 40

    # (b) replay against a FRESH instance (cold cache -> ledger scan)
    ing2 = ingest()
    ing2._query_name = "tx_ingest_q"
    ing2._handle_batch(batch, top_epoch)
    assert ing2.epochs_skipped == 1
    assert table.read(spark).count() == 40

    # (c) full restart: new query instance from the same checkpoint
    (src / "b.json").write_text(
        "\n".join(_json.dumps({"event_id": 100 + i, "value": float(i)}) for i in range(25))
    )
    ing3 = ingest()
    q2 = ing3.start("tx_ingest_q")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = table.read(spark)
    assert got.count() == 65  # 40 + 25, nothing doubled
    assert got.select("event_id").distinct().count() == 65


def test_stream_ingest_replay_after_lost_commit_lands_once(spark, tmp_path):
    """A StreamIngest with no delivery options is exactly-once: after
    the last `commits/<n>` of its checkpoint is lost, the restarted
    query replays epoch n, and the sink skips it instead of landing
    the batch a second time."""
    import json as _json

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    src = tmp_path / "replay_src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"event_id": i, "value": i / 2}) for i in range(5))
    )
    dst = str(tmp_path / "replay_table")

    def run_once() -> StreamIngest:
        ing = StreamIngest(
            spark=spark, source_dir=str(src), target_dir=dst, schema=schema,
            write_immediate=True,
        )
        q = ing.start("replay_q")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return ing

    run_once()
    drop_last_commit(f"{dst}/_checkpoints/replay_q")
    again = run_once()
    assert again.epochs_skipped == 1
    landed = TxTable(dst).read(spark)
    assert sorted(r.event_id for r in landed.collect()) == list(range(5))


def test_tx_ingest_replayed_epoch_skips_monitor(spark, tmp_path):
    """A replayed epoch must be skipped BEFORE monitor processing:
    its rows were counted by the committed run, so re-counting them
    drifts DataMonitor stats from rows_flushed under exactly-once."""
    import json as _json

    from edgelake_spark.streaming.ingest import StreamIngest
    from edgelake_spark.streaming.monitor import DataMonitor
    from edgelake_spark.txlog import TxTable

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "monsrc"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"event_id": i, "value": 1.0}) for i in range(10))
    )
    mon = DataMonitor(value_column="value")
    ing = StreamIngest(
        spark=spark,
        source_dir=str(src),
        target_dir=str(tmp_path / "txtable"),
        schema=schema,
        write_immediate=True,
        monitor=mon,
    )
    q = ing.start("mon_q")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    table = TxTable(str(tmp_path / "txtable"))
    assert table.read(spark).count() == 10

    def ring_count() -> int:
        return sum(i.count for i in mon.ring)

    rows_after_commit = ring_count()
    assert rows_after_commit == 10
    # replay the committed epoch: monitor must NOT advance
    top_epoch = max(
        int((m.get("meta") or {}).get("epoch", -1)) for m in table.history()
    )
    batch = spark.createDataFrame([(999, 0.5)], "event_id long, value double")
    ing._handle_batch(batch, top_epoch)
    assert ing.epochs_skipped == 1
    assert ring_count() == rows_after_commit  # untouched by the replay


def test_hll_stream_registers_survive_query_restart(spark, tmp_path):
    """Cross-restart twin of the merge test: stop after batch 1, start
    a NEW query instance from the same checkpoint, stream overlapping
    batch 2 — the restored registers must end identical to a batch
    build over the union (a lost register can only LOWER sum_inv's
    complement, silently inflating distinct estimates)."""
    import hashlib

    from edgelake_spark.functions.sketch import HLL_M, _HLL_MAXRHO, _HLL_WBITS
    from edgelake_spark.streaming.stateful import hll_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = tmp_path / "hrsrc"
    src.mkdir()
    ckpt = str(tmp_path / "hrckpt")
    ids1, ids2 = list(range(100)), list(range(50, 220))
    rows: list = []

    def start():
        out = hll_stream(
            spark.readStream.format("json").schema(schema).load(str(src)),
            "event_type",
            value_col="event_id",
        )
        return (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "a.json").write_text(
        "\n".join(json.dumps({"event_id": i, "event_type": "t"}) for i in ids1)
    )
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    (src / "b.json").write_text(
        "\n".join(json.dumps({"event_id": i, "event_type": "t"}) for i in ids2)
    )
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = max(rows, key=lambda r: r.n_rows)
    regs = [0] * HLL_M
    wmask = (1 << _HLL_WBITS) - 1
    for i in set(ids1) | set(ids2):
        h60 = int(hashlib.md5(f"hll:{i}".encode()).hexdigest()[:15], 16)
        idx, w = h60 >> _HLL_WBITS, h60 & wmask
        rho = _HLL_MAXRHO - w.bit_length() if w else _HLL_MAXRHO
        regs[idx] = max(regs[idx], rho)
    assert got.n_rows == len(ids1) + len(ids2)
    assert got.registers_hit == sum(1 for r in regs if r)
    assert got.sum_inv == sum(1 << (_HLL_MAXRHO - r) for r in regs if r)


def test_cms_stream_cells_survive_query_restart(spark, tmp_path):
    """Cross-restart twin for the CMS monitor (completing the recovery
    matrix: reservoir, KLL, LSH claims, HLL registers, CMS cells): a
    restarted query restored from checkpoint must end with the same
    cells as a direct count over the union — a lost cell UNDERcounts,
    which for CMS breaks its one guarantee (never underestimate)."""
    import hashlib

    from edgelake_spark.functions.sketch import CMS_DEPTH, CMS_WIDTH
    from edgelake_spark.streaming.stateful import cms_cells_stream

    schema = T.StructType([T.StructField("text", T.StringType())])
    src = tmp_path / "crsrc"
    src.mkdir()
    ckpt = str(tmp_path / "crckpt")
    b1 = ["spark spark shuffle", "broadcast join join"]
    b2 = ["spark shuffle shuffle shuffle", "join"]
    rows: list = []

    def start():
        out = cms_cells_stream(
            spark.readStream.format("json").schema(schema).load(str(src)),
            "text",
            min_cell=1,
        )
        return (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "a.json").write_text("\n".join(json.dumps({"text": t}) for t in b1))
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    (src / "b.json").write_text("\n".join(json.dumps({"text": t}) for t in b2))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {}
    for r in rows:  # update mode re-emits: last emission per cell wins
        got[(r.j, r.col)] = max(got.get((r.j, r.col), 0), r.cell)
    ref = {}
    for t in b1 + b2:
        for w in t.split():
            for j in range(CMS_DEPTH):
                h = hashlib.md5(f"cms{j}:{w}".encode()).hexdigest()
                col = int(h[:15], 16) % CMS_WIDTH
                ref[(j, col)] = ref.get((j, col), 0) + 1
    assert got == ref


def test_anomaly_state_survives_query_restart(spark, tmp_path):
    """A cell of the recovery matrix (every applyInPandasWithState
    operator pinned): the anomaly monitor's Welford (n, mean, m2) must
    restore bit-identically in a NEW query instance — the restarted
    stream's final emission equals a single-process fold over all
    values in order."""
    import math

    from edgelake_spark.streaming.stateful import anomaly_stream

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    vals1 = [float(v) for v in range(1, 41)]           # warm-up, no flags
    vals2 = [20.5, 1000.0, 19.5]                       # 1000 is the outlier

    src = tmp_path / "anom_src"
    src.mkdir()
    ckpt = str(tmp_path / "anom_ckpt")
    rows: list = []

    def start():
        out = anomaly_stream(
            spark.readStream.format("json").schema(schema).load(str(src)),
            "event_type",
            z_threshold=3.0,
        )
        return (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "a.json").write_text(
        "\n".join(json.dumps({"event_type": "t", "value": v}) for v in vals1)
    )
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    (src / "b.json").write_text(
        "\n".join(json.dumps({"event_type": "t", "value": v}) for v in vals2)
    )
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = max(rows, key=lambda r: r.n_total)
    n, mean, m2 = 0, 0.0, 0.0
    flagged = 0
    for v in vals1 + vals2:
        if n >= 30:
            var = m2 / n
            if var > 0 and abs(v - mean) / math.sqrt(var) > 3.0:
                flagged += 1
        n += 1
        d = v - mean
        mean += d / n
        m2 += d * (v - mean)
    assert got.n_total == 43
    assert got.mean == mean and got.std == math.sqrt(m2 / n)
    assert got.n_flagged >= 1 and got.last_flagged_value == 1000.0
    assert flagged >= 1
