"""Mergeable sketch operators: HyperLogLog, Count-Min, KMV bottom-k.

At 100 TB, exact DISTINCT / heavy-hitter / set-overlap queries shuffle
the full key set; sketches bound the shuffled state to a fixed set of
registers / cells / k samples that merge ASSOCIATIVELY — exactly the
shape Spark's two-phase (partial → final) aggregation wants. Each
builder here emits engine-templated SQL ("spark" | "duck") over the
repo's md5 conventions (functions/dedup.py hex60) so both engines
produce BIT-IDENTICAL sketches:

- register indices, rho values, cells, and bottom-k ranks are pure
  integer arithmetic (shifts, div/mod, bin-length for integer log2);
- the few floating-point steps are single IEEE multiplies/divides of
  values both engines hold exactly (integers < 2^53 and a shared
  decimal literal parsed via CAST(.. AS DOUBLE)) — correctly rounded,
  hence engine-independent. No libm (ln/pow) anywhere, for the same
  reason bm25 uses a rational idf.

The HLL estimator is the raw HyperLogLog form (Flajolet et al. 2007,
alpha_m * m^2 * sum(2^-M)^-1) with the inverse-power sum carried as ONE
BIGINT (sum of 2^(maxrho - M), max m * 2^maxrho = 2^61 < 2^63) so the
register merge is an integer sum — order-independent across partitions,
unlike a float sum. Bias corrections (linear counting) need ln(); they
are presentation-side policy, deliberately left to the caller, so the
gate output stays bit-exact.

There is no quantile sketch: the events_quantiles gate computes exact
percentiles, and no gate needs an approximate one.

Reference parity: the reference engine has no sketch surface; this is
part of the training-data/OLAP superset (SURVEY.md §2 "beyond the
reference"), next to approx row-count estimation (admin.py `get rows
count estimate`).
"""

from __future__ import annotations

from edgelake_spark.functions import dedup as dd

# ------------------------------------------------------------------ HLL

#: HLL precision: p index bits -> m = 2^p registers.
HLL_P = 9
HLL_M = 1 << HLL_P
#: hex60 leaves 60 - p bits of hash material for the rho ruler.
_HLL_WBITS = 60 - HLL_P
_HLL_MAXRHO = _HLL_WBITS + 1
#: alpha_m * m^2 for the raw estimator, precomputed in Python so both
#: engines parse the SAME decimal literal (CAST('..' AS DOUBLE) is
#: correctly rounded on both).
_HLL_AM2 = repr(0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M)


def hll_est_expr(sum_inv: str = "sum_inv", hit: str = "hit") -> str:
    """The raw-HLL estimate over the aggregated register columns — a
    shared-literal parse plus two IEEE ops (exact power-of-two scale,
    then one correctly-rounded division), identical on both engines
    and in the Python streaming operator."""
    return (
        f"CAST('{_HLL_AM2}' AS DOUBLE) * CAST({1 << _HLL_MAXRHO} AS DOUBLE) "
        f"/ CAST({sum_inv} + ({HLL_M} - {hit}) * {1 << _HLL_MAXRHO} AS DOUBLE)"
    )


def hll_distinct_sql(engine: str, table: str, group: str, key: str) -> str:
    """Per-``group`` HyperLogLog distinct-count estimate of ``key``,
    emitted next to the exact count so the gate pins the estimator's
    accuracy, not just its determinism.

    Scale shape: one map-side hash per row; ONE shuffle on
    (group, register-index) with partial max(rho) combine — at any
    corpus size each group's state is ≤ m = 2^p BIGINTs, and registers
    from different partitions/days/segments merge by max(), so the
    sketch is also a storable per-partition artifact (sketch once,
    re-aggregate forever). The exact count(DISTINCT) column is the
    verification yardstick and would be dropped at 100 TB.
    """
    if engine == "spark":
        h = f"md5(concat('hll:', CAST({key} AS STRING)))"
        h60 = dd.spark_hex60(h)
        idx = f"h60 div {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"shiftleft(CAST(1 AS BIGINT), {_HLL_MAXRHO} - m)"
    else:
        h = f"md5('hll:' || CAST({key} AS VARCHAR))"
        h60 = dd.duck_hex60(h)
        idx = f"h60 // {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"(CAST(1 AS BIGINT) << ({_HLL_MAXRHO} - m))"
    est = hll_est_expr()
    return f"""
WITH h AS (
  SELECT {group} AS grp, {h60} AS h60 FROM {table}
),
r AS (
  SELECT grp, {idx} AS idx, {w} AS w FROM h
),
reg AS (
  -- rho = leading zeros of the {_HLL_WBITS}-bit suffix + 1; integer
  -- log2 via bin-string length (exact on both engines)
  SELECT grp, idx,
         max(CASE WHEN w = 0 THEN {_HLL_MAXRHO}
                  ELSE {_HLL_MAXRHO} - length(bin(w)) END) AS m
  FROM r GROUP BY grp, idx
),
agg AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS hit,
         CAST(sum({shift}) AS BIGINT) AS sum_inv
  FROM reg GROUP BY grp
),
ex AS (
  SELECT {group} AS grp, CAST(count(DISTINCT {key}) AS BIGINT) AS exact_distinct
  FROM {table} GROUP BY {group}
)
SELECT agg.grp AS {group},
       ex.exact_distinct,
       {est} AS est_hll,
       agg.hit AS registers_hit,
       abs({est} - CAST(ex.exact_distinct AS DOUBLE))
         / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
FROM agg JOIN ex ON ex.grp = agg.grp
ORDER BY {group}
"""


def hll_register_agg_sql(engine: str, table: str, group: str, key: str) -> str:
    """The batch form of the STREAMING HLL monitor's per-key output:
    (key, n_rows, registers_hit, sum_inv, est_hll). The streaming
    operator (streaming/stateful.hll_stream) updates the identical
    md5/hex60 registers row-at-a-time in Python, so a one-batch replay
    must reproduce this aggregate bit-for-bit — registers are
    order-independent (max), the inverse-power sum is an integer, and
    the estimate is the same literal-parse + two IEEE ops."""
    if engine == "spark":
        h = f"md5(concat('hll:', CAST({key} AS STRING)))"
        h60 = dd.spark_hex60(h)
        idx = f"h60 div {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"shiftleft(CAST(1 AS BIGINT), {_HLL_MAXRHO} - m)"
        keycast = f"CAST({group} AS STRING)"
    else:
        h = f"md5('hll:' || CAST({key} AS VARCHAR))"
        h60 = dd.duck_hex60(h)
        idx = f"h60 // {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"(CAST(1 AS BIGINT) << ({_HLL_MAXRHO} - m))"
        keycast = f"CAST({group} AS VARCHAR)"
    return f"""
WITH h AS (
  SELECT {keycast} AS key, {h60} AS h60 FROM {table}
),
r AS (
  SELECT key, {idx} AS idx, {w} AS w FROM h
),
reg AS (
  SELECT key, idx,
         max(CASE WHEN w = 0 THEN {_HLL_MAXRHO}
                  ELSE {_HLL_MAXRHO} - length(bin(w)) END) AS m
  FROM r GROUP BY key, idx
),
cnt AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_rows FROM h GROUP BY key
),
agg AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS hit,
         CAST(sum({shift}) AS BIGINT) AS sum_inv
  FROM reg GROUP BY key
)
SELECT agg.key, cnt.n_rows,
       agg.hit AS registers_hit, agg.sum_inv,
       {hll_est_expr()} AS est_hll
FROM agg JOIN cnt ON cnt.key = agg.key
ORDER BY agg.key
"""


# ------------------------------------------------------------ Count-Min

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_heavy_hitters_sql(engine: str, docs: str, topk: int = 20) -> str:
    """Count-Min sketch over the corpus token frequencies, probed at the
    exact top-``topk`` tokens: emits exact count, CMS estimate, and the
    overcount (always ≥ 0 — CMS never underestimates), pinning both the
    construction and the CMS error bound (≤ total_tokens / width per
    row, min over depth rows).

    Scale shape: the corpus collapses to its VOCABULARY first (one
    token-keyed shuffle with map-side partial counts), rows fan out
    depth× over distinct words only, and the sketch aggregate is
    ≤ depth × width cells — fixed-size state that merges by cell-wise
    sum, so per-shard sketches combine without re-reading text. The
    exact top-k CTE is the verification yardstick (vocabulary-bounded,
    same cost class as doc_bpe_pairs' word-frequency table).
    """
    if engine == "spark":
        toks = f"SELECT explode({_toks_spark()}) AS word FROM {docs}"
        js = "explode(sequence(0, {d})) AS j".format(d=CMS_DEPTH - 1)
        h = "md5(concat('cms', CAST(j AS STRING), ':', word))"
        col = dd.spark_hex60(h) + f" % {CMS_WIDTH}"
    else:
        toks = f"SELECT unnest({_toks_duck()}) AS word FROM {docs}"
        js = "unnest([{}]) AS j".format(", ".join(str(i) for i in range(CMS_DEPTH)))
        h = "md5('cms' || CAST(j AS VARCHAR) || ':' || word)"
        col = dd.duck_hex60(h) + f" % {CMS_WIDTH}"
    return f"""
WITH w AS ({toks}),
wv AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word),
rows_j AS (SELECT word, freq, {js} FROM wv),
cells AS (SELECT j, {col} AS col, word, freq FROM rows_j),
sketch AS (
  SELECT j, col, CAST(sum(freq) AS BIGINT) AS cell
  FROM cells GROUP BY j, col
),
top AS (
  SELECT word, freq FROM wv ORDER BY freq DESC, word LIMIT {topk}
),
probe AS (SELECT j, {col} AS col, word, freq
          FROM (SELECT word, freq, {js} FROM top) p),
est AS (
  SELECT p.word, p.freq, CAST(min(s.cell) AS BIGINT) AS est_cms
  FROM probe p JOIN sketch s ON s.j = p.j AND s.col = p.col
  GROUP BY p.word, p.freq
)
SELECT word, freq AS exact_count, est_cms, est_cms - freq AS overcount
FROM est
ORDER BY exact_count DESC, word
"""


# --------------------------------------------------------- KMV bottom-k

KMV_K = 128


def kmv_dt_sql(engine: str, docs: str) -> str:
    """The distinct (source, word-3-shingle) set — KMV's one
    corpus-sized stage, split out so the Spark runner can materialize
    it ONCE (localCheckpoint temp view): the downstream query reads it
    from five places (sketch build, source list, sizes, both sides of
    the intersection self-join), and CTE inlining would re-run the
    explode+distinct pipeline per reference (measured 7.5 s at sf0.1;
    0.9 s materialized). The shingle array is built INSIDE the explode
    generator over staged tokens — exploding a pre-staged array column
    defeats the Generate fusion (the round-6 8× rule, SCALE.md)."""
    if engine == "spark":
        toks = (
            f"SELECT source, explode({dd.spark_shingles_over('toks')}) AS word "
            f"FROM (SELECT source, {_toks_spark()} AS toks FROM {docs}) t0"
        )
    else:
        toks = (
            f"SELECT source, unnest({dd.duck_shingles_over('toks')}) AS word "
            f"FROM (SELECT source, {_toks_duck()} AS toks FROM {docs}) t0"
        )
    return f"SELECT DISTINCT source, word FROM ({toks}) t"


def kmv_jaccard_sql(engine: str, docs: str, dt_table: str | None = None) -> str:
    """Pairwise source shingle-set Jaccard from KMV (bottom-k) sketches,
    next to the exact Jaccard: for each source keep the k smallest
    md5-hex60 values of its distinct word 3-shingles; for a pair, the
    estimator is |bottom-k(union sketch) ∩ A ∩ B| / k' with k' = min(k,
    |union sketch|) (Beyer et al. 2007). Hash ranks and memberships are
    integers, so both engines agree bit-exactly. Shingles rather than
    unigrams: the testdata corpus has a ~31-word closed vocabulary, so
    every source's unigram set is identical (Jaccard 1.0) while the
    3-gram sets genuinely differ — the same reason MinHash shingles.

    Scale shape: ONE shingle-keyed shuffle builds the distinct
    (source, shingle) set; a per-source window prunes to k rows, and
    ALL pair logic runs on n_sources × k rows — the all-pairs
    comparison never touches the corpus. The exact-Jaccard CTE is the
    verification yardstick and gets the same discipline: intersections
    come from a shingle-keyed equi self-join (fan-out ≤ C(df, 2) with
    df ≤ n_sources per shingle) + inclusion-exclusion — a pairs×corpus
    OR-join is a nested loop and measured 13 s at sf0.1 before this
    shape. At 100 TB only the k-row sketches would be kept (they
    merge: union of two sketches = bottom-k of concat).
    """
    if engine == "spark":
        h = "md5(concat('kmv:', word))"
        h60 = dd.spark_hex60(h)
    else:
        h = "md5('kmv:' || word)"
        h60 = dd.duck_hex60(h)
    if dt_table is None:
        dt_cte = f"dt AS (\n  {kmv_dt_sql(engine, docs)}\n),\n"
        dt = "dt"
    else:
        dt_cte = ""
        dt = dt_table
    return f"""
WITH {dt_cte}hv AS (SELECT source, word, {h60} AS h FROM {dt}),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hv
  ) r WHERE rn <= {KMV_K}
),
srcs AS (SELECT DISTINCT source FROM {dt}),
pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM srcs a JOIN srcs b ON a.source < b.source
),
member AS (
  SELECT p.s1, p.s2, s.h,
         max(CASE WHEN s.source = p.s1 THEN 1 ELSE 0 END) AS in1,
         max(CASE WHEN s.source = p.s2 THEN 1 ELSE 0 END) AS in2
  FROM pairs p JOIN sk s ON s.source = p.s1 OR s.source = p.s2
  GROUP BY p.s1, p.s2, s.h
),
ranked AS (
  SELECT s1, s2, in1, in2,
         row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
  FROM member
),
est AS (
  SELECT s1, s2,
         CAST(sum(CASE WHEN rn <= {KMV_K} AND in1 = 1 AND in2 = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(least(max(rn), {KMV_K}) AS BIGINT) AS k_used
  FROM ranked GROUP BY s1, s2
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM {dt} GROUP BY source
),
inter AS (
  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_inter
  FROM {dt} a JOIN {dt} b ON b.word = a.word AND a.source < b.source
  GROUP BY a.source, b.source
),
ex AS (
  SELECT p.s1, p.s2,
         coalesce(i.n_inter, CAST(0 AS BIGINT)) AS n_inter,
         sa.n + sb.n - coalesce(i.n_inter, CAST(0 AS BIGINT)) AS n_union
  FROM pairs p
  LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
  JOIN sizes sa ON sa.source = p.s1
  JOIN sizes sb ON sb.source = p.s2
)
SELECT e.s1, e.s2,
       CAST(e.n_both AS DOUBLE) / CAST(e.k_used AS DOUBLE) AS jaccard_est,
       CAST(x.n_inter AS DOUBLE) / CAST(x.n_union AS DOUBLE) AS jaccard_exact,
       x.n_union, e.k_used
FROM est e JOIN ex x ON x.s1 = e.s1 AND x.s2 = e.s2
ORDER BY e.s1, e.s2
"""


def _toks_spark() -> str:
    from edgelake_spark.functions import text as tx

    return tx.spark_tokens("text")


def _toks_duck() -> str:
    from edgelake_spark.functions import text as tx

    return tx.duck_tokens("text")


def hll_rollup_sql(engine: str, table: str, group: str, key: str) -> str:
    """Two-level HLL rollup — the property that makes sketches the
    100 TB answer, asserted as DATA: build per-(group, day) register
    tables (the pre-aggregated artifact a hypertable rollup would
    store), merge the daily registers by max into per-group sketches,
    and emit the merged estimate NEXT TO the direct single-pass
    estimate. They are equal bit-for-bit (register max is associative;
    the estimate is a pure function of the registers), so the gate's
    value hash pins mergeability itself — any range of days can be
    answered from stored daily sketches without rescanning rows.
    """
    if engine == "spark":
        h = f"md5(concat('hll:', CAST({key} AS STRING)))"
        h60 = dd.spark_hex60(h)
        idx = f"h60 div {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"shiftleft(CAST(1 AS BIGINT), {_HLL_MAXRHO} - m)"
        day = "date_trunc('day', ts)"
    else:
        h = f"md5('hll:' || CAST({key} AS VARCHAR))"
        h60 = dd.duck_hex60(h)
        idx = f"h60 // {1 << _HLL_WBITS}"
        w = f"h60 % {1 << _HLL_WBITS}"
        shift = f"(CAST(1 AS BIGINT) << ({_HLL_MAXRHO} - m))"
        day = "date_trunc('day', ts)"
    rho = (
        f"CASE WHEN w = 0 THEN {_HLL_MAXRHO} "
        f"ELSE {_HLL_MAXRHO} - length(bin(w)) END"
    )
    return f"""
WITH h AS (
  SELECT {group} AS grp, {day} AS d, {idx} AS idx, {w} AS w
  FROM (SELECT {group}, ts, {h60} AS h60 FROM {table}) x
),
daily AS (
  -- the stored artifact: one register set per (group, day)
  SELECT grp, d, idx, max({rho}) AS m
  FROM h GROUP BY grp, d, idx
),
n_daily AS (
  SELECT grp, CAST(count(DISTINCT d) AS BIGINT) AS n_days FROM daily GROUP BY grp
),
merged_reg AS (
  SELECT grp, idx, max(m) AS m FROM daily GROUP BY grp, idx
),
merged AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS hit,
         CAST(sum({shift}) AS BIGINT) AS sum_inv
  FROM merged_reg GROUP BY grp
),
direct_reg AS (
  SELECT grp, idx, max({rho}) AS m FROM h GROUP BY grp, idx
),
direct AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS hit,
         CAST(sum({shift}) AS BIGINT) AS sum_inv
  FROM direct_reg GROUP BY grp
)
SELECT m.grp AS {group}, nd.n_days,
       {hll_est_expr('m.sum_inv', 'm.hit')} AS est_merged,
       {hll_est_expr('dr.sum_inv', 'dr.hit')} AS est_direct,
       CAST(m.sum_inv = dr.sum_inv AND m.hit = dr.hit AS BOOLEAN) AS registers_equal
FROM merged m
JOIN direct dr ON dr.grp = m.grp
JOIN n_daily nd ON nd.grp = m.grp
ORDER BY {group}
"""


def cms_cells_sql(engine: str, docs: str, min_cell: int = 500) -> str:
    """The Count-Min sketch CELLS themselves (j, col, cell ≥ min_cell) —
    the batch form of the STREAMING CMS monitor's state
    (streaming/stateful.cms_cells_stream): cells are sums keyed on
    md5-derived (row, column), so a one-batch replay must reproduce
    this table bit-for-bit, and per-shard sketches merge by cell-wise
    addition. Emitting only heavy cells keeps the output the part a
    monitor actually watches (light cells are noise floor)."""
    if engine == "spark":
        toks = f"SELECT explode({_toks_spark()}) AS word FROM {docs}"
        js = "explode(sequence(0, {d})) AS j".format(d=CMS_DEPTH - 1)
        h = "md5(concat('cms', CAST(j AS STRING), ':', word))"
        col = dd.spark_hex60(h) + f" % {CMS_WIDTH}"
    else:
        toks = f"SELECT unnest({_toks_duck()}) AS word FROM {docs}"
        js = "unnest([{}]) AS j".format(", ".join(str(i) for i in range(CMS_DEPTH)))
        h = "md5('cms' || CAST(j AS VARCHAR) || ':' || word)"
        col = dd.duck_hex60(h) + f" % {CMS_WIDTH}"
    return f"""
WITH w AS ({toks}),
rows_j AS (SELECT word, {js} FROM w),
cells AS (SELECT CAST(j AS BIGINT) AS j, {col} AS col FROM rows_j)
SELECT j, CAST(col AS BIGINT) AS col, CAST(count(*) AS BIGINT) AS cell
FROM cells
GROUP BY j, col
HAVING count(*) >= {min_cell}
ORDER BY j, col
"""


def kmv_distinct_sql(engine: str, table: str, group: str, key: str) -> str:
    """KMV cardinality estimate — the ORDER-STATISTIC distinct counter
    (Bar-Yossef et al. 2002): with hashes uniform on [0, 2^60), the
    k-th smallest hash h_(k) estimates N ≈ (k-1)·2^60 / h_(k). The
    third classic estimator next to HLL (register max) and exact
    count(DISTINCT), emitted with both so the gate pins the estimator
    triangle on real data. Groups with fewer than k distinct keys keep
    the whole hash set inside the sketch, so the standard fallback
    applies: est = exact, rel_err = 0 (LEFT JOIN, never a dropped
    group). All ranks are integers; the estimate is one
    integer-product-to-double divide — engine-exact. NULL keys are
    excluded from the hash CTE (Spark ranks NULLs first, DuckDB last;
    count(DISTINCT) ignores them in both) so both engines rank the
    same row set.

    Scale shape: per-group distinct-hash ranking is ONE shuffle on
    (group, hash) with a window top-k; at 100 TB the bottom-k set (k
    BIGINTs per group) is the storable artifact, and two groups' KMVs
    merge by bottom-k of the union — same lifecycle as the Jaccard
    sketches above.
    """
    if engine == "spark":
        h = f"md5(concat('kmv:', CAST({key} AS STRING)))"
        h60 = dd.spark_hex60(h)
        keycast = f"CAST({group} AS STRING)"
    else:
        h = f"md5('kmv:' || CAST({key} AS VARCHAR))"
        h60 = dd.duck_hex60(h)
        keycast = f"CAST({group} AS VARCHAR)"
    k = KMV_K
    return f"""
WITH hv AS (
  SELECT DISTINCT {keycast} AS grp, {h60} AS h FROM {table}
  WHERE {key} IS NOT NULL
),
rk AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hv
),
kth AS (
  SELECT grp, h AS h_k FROM rk WHERE rn = {k}
),
ex AS (
  SELECT {keycast} AS grp,
         CAST(count(DISTINCT {key}) AS BIGINT) AS exact_distinct
  FROM {table} GROUP BY 1
)
SELECT ex.grp AS {group}, ex.exact_distinct,
       CASE WHEN kth.h_k IS NULL THEN CAST(ex.exact_distinct AS DOUBLE)
            ELSE CAST({k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                   / CAST(kth.h_k AS DOUBLE) END AS est_kmv,
       CASE WHEN kth.h_k IS NULL THEN CAST(0 AS DOUBLE)
            ELSE abs(CAST({k - 1} AS DOUBLE)
                       * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(kth.h_k AS DOUBLE)
                     - CAST(ex.exact_distinct AS DOUBLE))
                   / CAST(ex.exact_distinct AS DOUBLE) END AS rel_err
FROM ex LEFT JOIN kth ON kth.grp = ex.grp
ORDER BY {group}
"""


def kmv_vocab_churn_sql(engine: str, dt_table: str | None = None,
                        docs: str = "documents") -> str:
    """Set-DIFFERENCE estimation from KMV sketches: how much of corpus
    half A's shingle vocabulary is absent from half B (the
    between-crawls vocabulary-churn question), estimated from bottom-k
    sketches alone and emitted next to the exact answer. Estimator:
    within the union's bottom-k' (k' = min(k, |union|)), membership
    flags against each half are EXACT sketch lookups (any union-bottom-k
    hash is below both halves' k-th hashes), so
      churn ≈ (|bottom-k' ∩ A\\B| / k') · N̂_union,
    with N̂_union the order-statistic cardinality estimate — or the
    exact union count when it fits inside k. Counts, ranks, and flags
    are integers; the estimate is three IEEE ops in a fixed order.

    Scale shape: reads the SAME distinct (source, shingle) artifact as
    doc_kmv_jaccard; one shingle-keyed aggregate folds halves, one
    window ranks hashes, everything after runs on ≤ k rows.
    """
    if engine == "spark":
        h = "md5(concat('kmv:', word))"
        h60 = dd.spark_hex60(h)
    else:
        h = "md5('kmv:' || word)"
        h60 = dd.duck_hex60(h)
    if dt_table is None:
        mat = " MATERIALIZED" if engine == "duck" else ""
        dt_cte = f"dt AS{mat} ({kmv_dt_sql(engine, docs)}),\n"
        dt = "dt"
    else:
        dt_cte = ""
        dt = dt_table
    k = KMV_K
    half_a = "CAST(substr(source, 4) AS INT) < 10"
    est_union = (
        f"CASE WHEN mx.n_ranked <= {k} THEN CAST(mx.n_ranked AS DOUBLE) "
        f"ELSE CAST(mx.k_used - 1 AS DOUBLE) "
        f"* CAST(1152921504606846976 AS DOUBLE) / CAST(mx.h_k AS DOUBLE) END"
    )
    return f"""
WITH {dt_cte}half AS (
  SELECT word,
         max(CASE WHEN {half_a} THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN {half_a} THEN 0 ELSE 1 END) AS in_b
  FROM {dt} GROUP BY word
),
hv AS (SELECT {h60} AS h, in_a, in_b FROM half),
ranked AS (
  SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rn FROM hv
),
mx AS (
  SELECT CAST(max(rn) AS BIGINT) AS n_ranked,
         CAST(least(max(rn), {k}) AS BIGINT) AS k_used,
         CAST(max(CASE WHEN rn <= {k} THEN h END) AS BIGINT) AS h_k,
         CAST(sum(CASE WHEN rn <= {k} AND in_a = 1 AND in_b = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_a_topk
  FROM ranked
),
ex AS (
  SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_only_a,
         CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b
  FROM half
)
SELECT ex.n_a, ex.n_b, ex.exact_only_a,
       (CAST(mx.only_a_topk AS DOUBLE) / CAST(mx.k_used AS DOUBLE))
         * {est_union} AS est_only_a,
       mx.k_used
FROM ex CROSS JOIN mx
"""


def cms_rollup_sql(engine: str, table: str, key: str) -> str:
    """Two-level Count-Min rollup over event types per day — HLL's
    mergeability twin for the ADDITIVE sketch: per-day cell tables
    summed cell-wise must equal the direct single-pass sketch (sums are
    associative), asserted inside the value hash. Emits per sketch row
    j: the heaviest merged cell, total mass, and the equality flag —
    the shape a per-partition CMS artifact store relies on."""
    # the cell expression is rendered against the rows_j alias `k`
    # directly (never a textual rewrite of the key name, which corrupts
    # the SQL if the key is a substring of the md5/hex60 template)
    if engine == "spark":
        h = "md5(concat('cms', CAST(j AS STRING), ':', k))"
        col = dd.spark_hex60(h) + f" % {CMS_WIDTH}"
        js = "explode(sequence(0, {d})) AS j".format(d=CMS_DEPTH - 1)
        day = "date_trunc('day', ts)"
    else:
        h = "md5('cms' || CAST(j AS VARCHAR) || ':' || k)"
        col = dd.duck_hex60(h) + f" % {CMS_WIDTH}"
        js = "unnest([{}]) AS j".format(", ".join(str(i) for i in range(CMS_DEPTH)))
        day = "date_trunc('day', ts)"
    return f"""
WITH rows_j AS (
  SELECT {key} AS k, {day} AS d, {js} FROM {table}
),
cells AS (
  SELECT CAST(j AS BIGINT) AS j, d, {col} AS col FROM rows_j
),
daily AS (
  SELECT j, d, col, CAST(count(*) AS BIGINT) AS cell
  FROM cells GROUP BY j, d, col
),
merged AS (
  SELECT j, col, CAST(sum(cell) AS BIGINT) AS cell FROM daily GROUP BY j, col
),
direct AS (
  SELECT j, col, CAST(count(*) AS BIGINT) AS cell FROM cells GROUP BY j, col
),
cmp AS (
  SELECT m.j,
         CAST(max(m.cell) AS BIGINT) AS max_cell,
         CAST(sum(m.cell) AS BIGINT) AS total_mass,
         CAST(sum(CASE WHEN m.cell = dr.cell THEN 1 ELSE 0 END) AS BIGINT)
           AS n_equal,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM merged m JOIN direct dr ON dr.j = m.j AND dr.col = m.col
  GROUP BY m.j
)
SELECT j, max_cell, total_mass,
       CAST(n_equal = n_cells AS BOOLEAN) AS cells_equal, n_cells
FROM cmp
ORDER BY j
"""
