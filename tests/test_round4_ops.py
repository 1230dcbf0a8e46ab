"""Edge-case semantics of the round-4 second-wave operators: M4
tie-breaking, SQ8 degenerate dimensions, token-rank OOV handling.

The oracle-parity suite proves whole-result equality at sf0.01; these
tests pin the boundary behaviors that the synthetic data may never
exercise (exact value ties inside a pixel bucket, a constant embedding
dimension, out-of-vocabulary tokens)."""

from __future__ import annotations

from datetime import datetime

import pytest

from edgelake_spark import catalog
from edgelake_spark.functions.similarity import sq8_index_sql as _sq8_index_sql
from edgelake_spark.queries import _m4_sql, _token_rank_sql


@pytest.fixture(autouse=True)
def _restore_sf_views(spark):
    """These tests shadow the shared `events`/`*_rep` temp views with
    hand-built fixtures; drop the registration cache afterwards so the
    next register_sf_tables() re-creates the real views instead of
    short-circuiting onto ours."""
    yield
    catalog._REGISTERED.pop(spark, None)


def _run_m4(spark, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).createOrReplaceTempView("events")
    return {
        (r["series"], r["bucket"]): r
        for r in spark.sql(_m4_sql("spark")).collect()
    }


def test_m4_value_tie_breaks_on_event_id(spark):
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 1, 0)
    t2 = datetime(2024, 1, 1, 0, 2, 0)
    # three points in ONE 15-min bucket, all with the same value: the
    # min-value point must be the lowest event_id (lexicographic
    # (value, event_id) pair), the max-value point the highest
    out = _run_m4(
        spark,
        [(7, t1, "a", 5.0), (3, t0, "a", 5.0), (9, t2, "a", 5.0)],
    )
    row = next(iter(out.values()))
    assert row["n"] == 3
    assert row["t_min"] == t0  # event_id 3 wins the min tie
    assert row["t_max"] == t2  # event_id 9 wins the max tie
    assert row["first_v"] == 5.0 and row["last_v"] == 5.0
    assert row["t_first"] == t0 and row["t_last"] == t2


def test_m4_null_values_excluded(spark):
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    out = _run_m4(spark, [(1, t0, "a", None), (2, t0, "a", 2.5)])
    row = next(iter(out.values()))
    assert row["n"] == 1 and row["min_v"] == 2.5


def test_m4_first_last_within_bucket(spark):
    t = [datetime(2024, 1, 1, 0, m, 0) for m in range(4)]
    out = _run_m4(
        spark,
        [(1, t[0], "a", 9.0), (2, t[1], "a", 1.0), (3, t[2], "a", 4.0), (4, t[3], "a", 2.0)],
    )
    row = next(iter(out.values()))
    assert (row["first_v"], row["last_v"]) == (9.0, 2.0)
    assert (row["min_v"], row["max_v"]) == (1.0, 9.0)
    assert (row["t_min"], row["t_max"]) == (t[1], t[0])


def test_sq8_constant_dimension_codes_zero(spark):
    # dim 1 is constant across vectors → mx == mn → code 0, not a
    # divide-by-zero NaN; dim 0 spans [0, 2] → codes 0 / 128 / 255
    spark.createDataFrame(
        [(0, [0.0, 7.0]), (1, [1.0, 7.0]), (2, [2.0, 7.0])],
        "vec_id long, embedding array<float>",
    ).createOrReplaceTempView("embeddings_rep")
    codes = {
        (r["vec_id"], r["dim"]): r["code"]
        for r in spark.sql(_sq8_index_sql("spark")).collect()
    }
    assert codes[(0, 1)] == codes[(1, 1)] == codes[(2, 1)] == 0
    assert codes[(0, 0)] == 0
    assert codes[(1, 0)] == 128  # floor(0.5*255 + 0.5) = floor(128.0)
    assert codes[(2, 0)] == 255


def test_token_rank_oov_penalty(spark):
    # vocabulary cap 2: terms ranked (b:1, a:2) by (count desc, term);
    # 'zzz' is out-of-vocabulary → rank 3
    spark.createDataFrame(
        [(0, "a b b"), (1, "zzz b a"), (2, "b")],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents_rep")
    rows = {
        r["doc_id"]: r
        for r in spark.sql(_token_rank_sql("spark", vocab_top=2)).collect()
    }
    # doc 0: ranks a=2, b=1, b=1 → sum 4, mean 4/3
    assert rows[0]["sum_rank"] == 4 and rows[0]["n_tokens"] == 3
    # doc 1: zzz=3 (OOV), b=1, a=2 → sum 6
    assert rows[1]["sum_rank"] == 6
    assert rows[2]["sum_rank"] == 1 and rows[2]["mean_rank"] == 1.0
    assert rows[0]["mean_rank"] == 4 / 3


def test_lag_corr_exact_at_high_magnitude(spark, tmp_path):
    """Covariance products at micro-quantized means ~5e9 exceed int64;
    the factors must widen to DECIMAL before multiplying or Spark's
    ANSI mode throws ARITHMETIC_OVERFLOW (and a non-ANSI session would
    silently wrap). Engines must still agree bit-for-bit."""
    import duckdb
    import pandas as pd

    from edgelake_spark.catalog import register_sf_tables
    from edgelake_spark.queries import _lag_corr_sql

    rows = []
    for t in range(48):  # 48 hourly points, two series, values ~5000
        ts = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t)
        rows.append(("alpha", ts, 5000.0 + (t % 7) * 13.5))
        rows.append(("beta", ts, 4900.0 + ((t * 3) % 11) * 9.25))
    pdf = pd.DataFrame(rows, columns=["event_type", "ts", "value"])
    try:
        spark.createDataFrame(pdf).createOrReplaceTempView("events")
        got = spark.sql(_lag_corr_sql("spark")).toPandas()
        duck = duckdb.connect()
        duck.register("events", pdf)
        want = duck.execute(_lag_corr_sql("duck")).df()
        a = got[sorted(got.columns)].astype(str).reset_index(drop=True)
        b = want[sorted(want.columns)].astype(str).reset_index(drop=True)
        assert len(a) == 4 and a.equals(b)  # one pair x 4 lags, bit-equal
    finally:
        register_sf_tables(spark, "/root/testdata/sf0.001")
