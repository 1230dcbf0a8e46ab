"""Custom stateful streaming operators via applyInPandasWithState.

The reference's only stateful stream processing is the data-monitor ring
(node-local, in-memory). This module shows the scalable Spark idiom for
operators that need per-key state across micro-batches — state lives in
the state store, partitioned by key, surviving restarts via
checkpointing; no driver involvement.

Operators: ``session_stream`` (gap-based sessions), ``anomaly_stream``
(per-key running z-score), ``lsh_dedup_stream`` (MinHash-LSH band
claims), ``hll_stream`` (distinct counts), ``cms_cells_stream``
(count-min heavy cells) and ``weighted_sample_stream`` (ES weighted
reservoir). Each backs a ``stream_*`` gate in queries.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _keyed_state(
    df: DataFrame, group_col: str, fn, output: str, state: str,
    mode: str = "update", key_col: str | None = None,
) -> DataFrame:
    """``df`` grouped on ``group_col`` through the stateful ``fn`` (per-key
    state, no timeout). With ``key_col``, ``group_col`` is first set to
    ``key_col`` cast to string — a named column, not an inline alias
    expression, because FlatMapGroupsInPandasWithState requires
    resolvable grouping attributes."""
    if key_col is not None:
        from pyspark.sql import functions as F

        df = df.withColumn(group_col, F.col(key_col).cast("string"))
    return df.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=output,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------ sessionization

SESSION_OUTPUT = (
    "user_id string, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)
#: per-key state: running session counter + open-session accumulator
#: (timestamps as epoch microseconds — bigints round-trip the state
#: store across engines/versions without timezone surprises)
SESSION_STATE = "session_id bigint, n bigint, start_us bigint, last_us bigint"


def make_session_fn(gap_minutes: int = 30, ts_col: str = "ts"):
    """Gap-based sessionizer for applyInPandasWithState: a session
    closes (and is EMITTED) when a new event arrives more than
    ``gap_minutes`` after the previous one; the open session stays in
    state across micro-batches. Matches the batch lag/cumsum form
    (queries._SESSIONIZE) for every closed session — the batch query's
    last session per user corresponds to the state still open here."""

    def sessions(key, batches, state) -> "Iterator[pd.DataFrame]":
        gap_us = gap_minutes * 60_000_000
        if state.exists:
            sid, n, start_us, last_us = state.get
        else:
            sid, n, start_us, last_us = 0, 0, None, None
        pdfs = [pdf for pdf in batches if len(pdf)]
        out = []
        if pdfs:
            rows = pd.concat(pdfs).sort_values(ts_col)
            for ts in rows[ts_col]:
                ts_us = int(pd.Timestamp(ts).value // 1_000)
                if last_us is not None and ts_us - last_us > gap_us:
                    out.append((key[0], sid, n, start_us, last_us))
                    sid, n, start_us = sid + 1, 0, ts_us
                if start_us is None:
                    start_us = ts_us
                n += 1
                last_us = ts_us
        state.update((sid, n, start_us, last_us))
        yield pd.DataFrame(
            [
                {
                    "user_id": u,
                    "session_id": s + 1,  # batch cumsum numbering starts at 1
                    "n_events": c,
                    "session_start": pd.Timestamp(st * 1_000),
                    "session_end": pd.Timestamp(en * 1_000),
                }
                for u, s, c, st, en in out
            ],
            columns=["user_id", "session_id", "n_events", "session_start", "session_end"],
        )

    return sessions


def session_stream(
    stream_df: DataFrame, key_col: str = "user_id", ts_col: str = "ts", gap_minutes: int = 30
) -> DataFrame:
    """Closed sessions per key over a stream (append semantics: a row is
    final once emitted). State is one small tuple per key in the state
    store — partitioned, checkpointed, no driver involvement."""
    return _keyed_state(stream_df, "user_id", make_session_fn(gap_minutes, ts_col),
                        SESSION_OUTPUT, SESSION_STATE, mode="append", key_col=key_col)


# ------------------------------------------------- streaming anomaly

ANOMALY_OUTPUT = (
    "key string, n_total bigint, mean double, std double, "
    "n_flagged bigint, last_flagged_value double"
)
#: Welford accumulators: count, running mean, M2 (sum of squared
#: deviations) — numerically stable one-pass variance, mergeable state
ANOMALY_STATE = "n bigint, mean double, m2 double"


def make_anomaly_fn(z_threshold: float = 3.0, value_col: str = "value", min_n: int = 30,
                    order_cols: tuple = ()):
    """Per-key streaming z-score monitor: each value is scored against
    the state BEFORE it updates the state (a point can't vouch for
    itself), using Welford's one-pass mean/variance. Values only start
    flagging after ``min_n`` observations so cold keys don't alarm.
    ``order_cols`` (e.g. ("ts", "event_id")) sorts each micro-batch by
    event time before scoring — taming intra-batch shuffle disorder so
    a replay is deterministic; cross-batch order remains arrival
    order (streaming semantics)."""

    def anomaly(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        n_flagged, last_flagged = 0, None
        pdfs = [pdf for pdf in batches if len(pdf)]
        if order_cols and pdfs:
            pdfs = [pd.concat(pdfs).sort_values(list(order_cols))]
        for pdf in pdfs:
            for v in pdf[value_col]:
                v = float(v)
                if n >= min_n:
                    var = m2 / n
                    if var > 0 and abs(v - mean) / math.sqrt(var) > z_threshold:
                        n_flagged += 1
                        last_flagged = v
                # Welford update AFTER scoring
                n += 1
                delta = v - mean
                mean += delta / n
                m2 += delta * (v - mean)
        state.update((n, mean, m2))
        std = math.sqrt(m2 / n) if n else 0.0
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "n_total": n,
                    "mean": mean,
                    "std": std,
                    "n_flagged": n_flagged,
                    "last_flagged_value": last_flagged,
                }
            ]
        )

    return anomaly


def anomaly_stream(
    stream_df: DataFrame,
    key_col: str,
    value_col: str = "value",
    z_threshold: float = 3.0,
    min_n: int = 30,
    order_cols: tuple = (),
) -> DataFrame:
    """Per-key streaming anomaly monitor (the alert half of the
    reference's data-monitor ring, data_monitor.py, as a stateful
    operator): emits per-batch flag counts against a cross-batch
    Welford state. State is three scalars per key — bounded at any
    stream length or key cardinality that fits a state store."""
    return _keyed_state(stream_df, "key",
                        make_anomaly_fn(z_threshold, value_col, min_n, order_cols),
                        ANOMALY_OUTPUT, ANOMALY_STATE, key_col=key_col)


# ------------------------------------------------ streaming LSH dedup


def minhash_band_keys_py(text: str) -> list:
    """Pure-Python twin of the batch MinHash-LSH band keys
    (functions/dedup.py spark_minhash_sig_sql + spark_band_key):
    identical tokenization, word-3-shingles (the same partial shingle
    for docs shorter than SHINGLE_WORDS), 60/56-bit md5 splits, the
    h1 + i*h2 double-hash minima, and the md5('a|b|c|d') band digests —
    so a document fingerprinted on the stream lands in EXACTLY the
    buckets the batch sweep would put it in (asserted against the batch
    SQL in test_streaming). Empty docs produce no shingles and no
    bands, like the batch groupBy."""
    import hashlib
    import re

    from edgelake_spark.functions.dedup import (
        BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        SHINGLE_WORDS,
    )

    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    if not toks:
        return []
    shingles = [
        " ".join(toks[j : j + SHINGLE_WORDS])
        for j in range(0, max(len(toks) - SHINGLE_WORDS, 0) + 1)
    ]
    sig = [None] * NUM_HASHES
    for s in shingles:
        h = hashlib.md5(s.encode()).hexdigest()
        h1 = int(h[0:15], 16)
        h2 = int(h[16:30], 16)
        for i in range(NUM_HASHES):
            v = h1 + i * h2
            if sig[i] is None or v < sig[i]:
                sig[i] = v
    return [
        hashlib.md5(
            "|".join(str(x) for x in sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]).encode()
        ).hexdigest()
        for b in range(BANDS)
    ]


LSH_BAND_OUTPUT = "band_key string, doc_id bigint, dup boolean"
LSH_BAND_STATE = "claimed_by bigint"


def _band_claim(key, batches, state: "GroupState"):
    """Streaming driver of the shared greedy keep-first rule
    (functions/dedup.band_claim_policy): the persisted claimant (or the
    first arrival) keeps the band bucket; every later doc sharing it is
    flagged. Docs inside one micro-batch order by doc_id so the verdict
    is deterministic regardless of partition arrival order."""
    from edgelake_spark.functions.dedup import band_claim_policy

    claimed = state.get[0] if state.exists else None
    doc_ids = sorted(
        {int(d) for pdf in batches for d in pdf["doc_id"]}
    )
    claimed, verdicts = band_claim_policy(claimed, doc_ids)
    state.update((claimed,))
    yield pd.DataFrame(
        [{"band_key": key[0], "doc_id": d, "dup": dup} for d, dup in verdicts]
    )


def lsh_dedup_stream(
    stream_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection: fingerprint each
    incoming document map-side (Arrow-batched pandas_udf — the same
    band keys as the batch sweep), explode to (band_key, doc) and claim
    buckets in per-band state. A document is a near-duplicate when ANY
    of its bands emits dup=true — the greedy keep-first-arrival policy
    a streaming crawl pipeline runs, where the batch gate
    doc_minhash_pairs is the offline sweep.

    Scale shape: fingerprinting is stateless map work; the only shuffle
    is the band_key grouping (same key as the batch band join); state
    is ONE bigint per distinct band bucket, so the store grows with
    corpus novelty, not stream length. Aggregate the per-band verdicts
    with max(dup) per doc in the sink (foreachBatch) — band state stays
    band-local, no cross-key coordination."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def band_keys_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: minhash_band_keys_py(t or ""))

    exploded = (
        stream_df.withColumn("doc_id", F.col(id_col).cast("bigint"))
        .withColumn("band_key", F.explode(band_keys_udf(F.col(text_col))))
        .select("band_key", "doc_id")
    )
    return _keyed_state(exploded, "band_key", _band_claim, LSH_BAND_OUTPUT, LSH_BAND_STATE)


# ------------------------------------------------- HLL distinct monitor

HLL_OUTPUT = (
    "key string, n_rows bigint, registers_hit bigint, "
    "sum_inv bigint, est_hll double"
)
#: per-key state: the m HLL registers (rho fits in a byte; ints for
#: state-store round-trip simplicity) — FIXED size regardless of how
#: many distinct values the key has seen. This is the whole point:
#: exact streaming COUNT(DISTINCT) state grows with cardinality, the
#: sketch never does.
HLL_STATE = "regs array<integer>, n bigint"


def make_hll_fn(key_prefix: str = "hll:", value_col: str = "event_id"):
    """Build the applyInPandasWithState function for a per-key
    HyperLogLog cardinality monitor. Register math is BIT-IDENTICAL to
    the batch SQL (functions/sketch.hll_register_agg_sql): md5 of
    'hll:<value>', top HLL_P hex60 bits pick the register, rho =
    leading zeros of the remaining bits + 1, registers merge by max —
    so a one-batch replay reproduces the batch aggregate exactly, and
    a restored checkpoint continues the same sketch."""
    import hashlib

    from edgelake_spark.functions.sketch import (
        HLL_M,
        HLL_P,
        _HLL_AM2,
        _HLL_MAXRHO,
        _HLL_WBITS,
    )

    wmask = (1 << _HLL_WBITS) - 1
    am2 = float(_HLL_AM2)
    scale = float(1 << _HLL_MAXRHO)

    def hll(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            regs, n = list(state.get[0]), int(state.get[1])
        else:
            regs, n = [0] * HLL_M, 0
        for pdf in batches:
            col = pdf[value_col]
            n += len(col)
            for v in col:
                h = hashlib.md5(
                    (key_prefix + str(v)).encode()
                ).hexdigest()
                h60 = int(h[:15], 16)
                idx = h60 >> _HLL_WBITS
                w = h60 & wmask
                rho = _HLL_MAXRHO - w.bit_length() if w else _HLL_MAXRHO
                if rho > regs[idx]:
                    regs[idx] = rho
        state.update((regs, n))
        hit = sum(1 for r in regs if r)
        sum_inv = sum(1 << (_HLL_MAXRHO - r) for r in regs if r)
        est = am2 * scale / float(sum_inv + (HLL_M - hit) * (1 << _HLL_MAXRHO))
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "n_rows": n,
                    "registers_hit": hit,
                    "sum_inv": sum_inv,
                    "est_hll": est,
                }
            ]
        )

    return hll


def hll_stream(
    stream_df: DataFrame, key_col: str, value_col: str = "event_id"
) -> DataFrame:
    """Per-key streaming approximate-distinct monitor: emits one row per
    key per micro-batch with the running register summary and estimate.
    The edge-monitoring companion to the batch events_hll_distinct
    gate — watch a stream's cardinality (distinct devices, distinct
    users) with O(m) state per key and exactly-merged registers across
    restarts (checkpointed state store)."""
    return _keyed_state(stream_df, "key", make_hll_fn(value_col=value_col),
                        HLL_OUTPUT, HLL_STATE, key_col=key_col)


# --------------------------------------------- CMS heavy-cell monitor

CMS_OUTPUT = "j bigint, col bigint, cell bigint"
#: per-row state: that sketch row's width cells — fixed size however
#: many distinct tokens flow past (the same bound as the HLL monitor)
CMS_STATE = "cells array<long>"


def make_cms_fn(min_cell: int = 500):
    """applyInPandasWithState function for one Count-Min sketch ROW:
    the group key is the hash-row index j, the state is that row's
    cells, and incoming (col) rows (hashed map-side in SQL, bit-
    identical to functions/sketch.cms_cells_sql) increment them. Emits
    cells ≥ min_cell after each batch — cell merge is addition, so a
    replay equals the batch sketch exactly."""
    from edgelake_spark.functions.sketch import CMS_WIDTH

    def cms(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cells = list(state.get[0])
        else:
            cells = [0] * CMS_WIDTH
        for pdf in batches:
            for col, cnt in pdf["col"].value_counts().items():
                cells[int(col)] += int(cnt)
        state.update((cells,))
        j = int(key[0])
        out = [
            {"j": j, "col": c, "cell": n}
            for c, n in enumerate(cells)
            if n >= min_cell
        ]
        yield pd.DataFrame(out, columns=["j", "col", "cell"])

    return cms


def cms_cells_stream(stream_df: DataFrame, text_col: str = "text",
                     min_cell: int = 500) -> DataFrame:
    """Streaming Count-Min over a document stream's tokens: tokenize
    and hash MAP-SIDE in SQL (same md5/hex60 cell addressing as the
    batch sketch), shuffle on the sketch-row index only (CMS_DEPTH
    groups), and keep each row's cells as fixed-size per-key state.
    The monitor's output is the heavy-cell table a drift/abuse alert
    reads; per-shard sketches merge by addition."""
    from edgelake_spark.functions import dedup as dd
    from edgelake_spark.functions import text as tx
    from edgelake_spark.functions.sketch import CMS_DEPTH, CMS_WIDTH

    words = stream_df.selectExpr(
        f"explode({tx.spark_tokens(text_col)}) AS word"
    ).selectExpr("word", f"explode(sequence(0, {CMS_DEPTH - 1})) AS j")
    h = "md5(concat('cms', CAST(j AS STRING), ':', word))"
    cols = words.selectExpr(
        "CAST(j AS BIGINT) AS j",
        f"CAST({dd.spark_hex60(h)} % {CMS_WIDTH} AS BIGINT) AS col",
    )
    return _keyed_state(cols, "j", make_cms_fn(min_cell), CMS_OUTPUT, CMS_STATE)


# ------------------------------- weighted reservoir sampler (ES top-k)

WSAMP_OUTPUT = (
    "key string, n_seen bigint, samp_rank bigint, doc_id bigint, weight double"
)
#: per-key state: the k largest ES keys seen so far with their ids and
#: weights (+ the rows-seen counter) — k rows per stratum FOREVER,
#: however long the stream runs
WSAMP_STATE = "ks array<double>, ids array<long>, ws array<double>, n bigint"


def es_key(doc_id: int, weight: float) -> float:
    """The ONE ES key construction — shared by this reservoir, pinned
    by the property tests (tests/test_properties.py), and mirrored
    expression-for-expression by the batch SQL (_weighted_sample_sql
    in queries.py): salted md5-hex60 uniform in (0,1], then ln(u)/w."""
    import hashlib
    import math

    h = hashlib.md5(f"wsamp:{doc_id}".encode()).hexdigest()
    u = (int(h[:15], 16) + 1) / 1152921504606846976.0
    return math.log(u) / weight


def make_weighted_sample_fn(k: int = 10, id_col: str = "doc_id",
                            weight_col: str = "weight"):
    """applyInPandasWithState function for a per-stratum streaming
    weighted sample without replacement. Keys are Efraimidis–Spirakis
    ln(u)/w with the batch gate's salted md5-hex60 uniform (u ∈ (0,1],
    bit-identical construction to doc_weighted_sample's SQL) — keeping
    the k LARGEST keys ever seen IS a weighted sample without
    replacement of the entire stream, so the reservoir never needs to
    revisit evicted rows. Top-k-of-union is associative and
    commutative: per-shard reservoirs merge losslessly for cross-node
    rollup, the same lifecycle as the HLL/CMS monitors above.

    ln() here is libm (Python) vs the JVM's in the batch gate — a
    potential 1-ULP key difference; selection parity holds because the
    measured adjacent-key gaps are ≥2.7e-5 (see the batch gate's
    docstring), eleven orders above ULP noise, and keys are never
    emitted."""

    def wsamp(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ks, ids, ws, n = state.get
            entries, n = list(zip(ks, ids, ws)), int(n)
        else:
            entries, n = [], 0
        entries = list(entries)
        for pdf in batches:
            n += len(pdf)
            for d, w in zip(pdf[id_col], pdf[weight_col]):
                d, w = int(d), float(w)
                entries.append((es_key(d, w), d, w))
        entries.sort(key=lambda e: (-e[0], e[1]))
        del entries[k:]
        state.update((
            [e[0] for e in entries],
            [e[1] for e in entries],
            [e[2] for e in entries],
            n,
        ))
        yield pd.DataFrame(
            [
                {"key": key[0], "n_seen": n, "samp_rank": i + 1,
                 "doc_id": d, "weight": w}
                for i, (_, d, w) in enumerate(entries)
            ]
        )

    return wsamp


def weighted_sample_stream(
    stream_df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    k: int = 10,
) -> DataFrame:
    """Per-stratum streaming weighted sample: one row per reservoir
    slot per key per micro-batch (update mode) — the streaming twin of
    the batch doc_weighted_sample gate. Weight arrives as a COLUMN
    (computed upstream at ingest by the same SQL expression the batch
    gate uses), so the sampler is generic over any positive weight.

    Scale shape: the only shuffle is the stratum grouping; state and
    output are k rows per stratum regardless of stream length; shard
    reservoirs merge by top-k-of-union (associative), so a two-level
    rollup (per-executor reservoir → global) needs no re-scan."""
    return _keyed_state(
        stream_df, "key", make_weighted_sample_fn(k=k, id_col=id_col, weight_col=weight_col),
        WSAMP_OUTPUT, WSAMP_STATE, key_col=key_col,
    )
