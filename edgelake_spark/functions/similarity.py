"""Similarity search over embedding columns (array<float>).

- cosine: elements cast to double FIRST, then multiply/accumulate in
  index order — both engines execute the identical IEEE sequence, so
  scores agree bit-for-bit with the DuckDB oracle.
- brute-force top-k: broadcast the (small) query set against the
  corpus; one pass, no corpus shuffle — the right baseline at any scale
  when |queries| is small.
- IVF top-k: deterministic centroid subset (vec_id % stride), assign
  each corpus vector to its nearest centroid (broadcast centroids),
  probe the nprobe nearest centroids per query. The corpus-side work
  drops by ~|centroids|/nprobe; at 100 TB the assignment becomes a
  bucketed/partitioned layout so probes touch only matching partitions.
"""

from __future__ import annotations

CENTROID_STRIDE = 47  # vec_id % 47 == 0 → deterministic centroid subset
NPROBE = 2


# --- staged variant: cast + norm computed ONCE per vector -------------
#
# Spark's higher-order functions are interpreted; recomputing the
# double-cast and the norm inside every candidate pair multiplies the
# per-pair cost ~5×. Staging (demb, norm) as columns first keeps the
# exact same IEEE operation sequence (so oracle parity holds) while the
# per-pair work drops to one zip_with+aggregate. At cluster scale this
# is also the right layout: norms live with the vectors, computed once
# at ingest.


def spark_norm_stage_sql(table: str, extra_cols: str = "label") -> str:
    demb = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return (
        f"SELECT vec_id, {extra_cols}, {demb} AS demb, "
        f"sqrt(aggregate({demb}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)) AS norm "
        f"FROM {table}"
    )


def duck_norm_stage_sql(table: str, extra_cols: str = "label") -> str:
    demb = "[x::DOUBLE for x in embedding]"
    return (
        f"SELECT vec_id, {extra_cols}, {demb} AS demb, "
        f"sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS norm "
        f"FROM {table}"
    )


def spark_cosine_staged(a: str, b: str) -> str:
    """Cosine over two pre-staged (demb, norm) rows, e.g. a='a', b='b'."""
    dot = (
        f"aggregate(zip_with({a}.demb, {b}.demb, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return f"({dot} / ({a}.norm * {b}.norm))"


def duck_cosine_staged(a: str, b: str) -> str:
    dot = (
        f"list_sum([({a}.demb)[i] * ({b}.demb)[i] "
        f"for i in range(1, len({a}.demb) + 1)])"
    )
    return f"({dot} / ({a}.norm * {b}.norm))"


# --- k-means centroid refinement (the IVF scale path) -----------------
#
# The IVF gate's centroids come FROM kmeans_refine (stride init + one
# fixed-point-staged Lloyd round); the DuckDB oracle reproduces the round
# bit-for-bit (duck_kmeans_centroids_cte), so the real k-means code is
# hash-verified. This is Lloyd's iteration as pure DataFrame ops:
# assign (N×C broadcast join, C small) → mean per cluster (one shuffle
# of C×dim partial sums) → repeat. Deterministic given a deterministic
# init (the stride subset), so runs are reproducible.
#
# Recall note (sf0.01, nprobe=2, 13 centroids, measured vs brute-force
# top-5): stride centroids 0.48, one-round k-means 0.44 — noise-level
# difference, because the synthetic embeddings are near-isotropic (all
# neighbors sit near 90°; see the SRP note below). Refinement earns its
# keep on REAL clustered data, where stride centroids track the id
# distribution instead of the vector distribution; the gate wires it in
# to verify the machinery, not to claim a recall win here.


def kmeans_refine(spark, vectors, iters: int = 2, stride: int = 47):
    """``vectors``: DataFrame(vec_id long, demb array<double>). Returns
    DataFrame(centroid_id long, centroid array<double>) after ``iters``
    Lloyd rounds from the stride-subset initialization.

    Per-cluster means go through FIXED-POINT floor(x · 2^40) BIGINT
    partial sums (exact, order-independent, and tie-free) then ONE cast
    back to double — so refined centroids are bit-identical across
    partition orders AND engines, letting the IVF gate oracle
    (duck_kmeans_centroids_cte) reproduce them exactly. Previously
    DECIMAL(38,18): that only held by luck — Spark casts double→decimal
    by rounding the shortest repr HALF_UP while DuckDB rounds the exact
    binary value HALF_EVEN, and float32-sourced doubles routinely need
    >18 digits, so individual staged values DO differ in the last
    place (the same finding pca_power_sql documents); the gates stayed
    green only because centroid ULPs never flipped a probe assignment.
    floor after one exact-rounded multiply has no rounding step at
    all."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    cents = (
        vectors.filter(F.col("vec_id") % stride == 0)
        .select(F.col("vec_id").alias("centroid_id"), F.col("demb").alias("centroid"))
    )
    for _ in range(iters):
        c = F.broadcast(cents)
        # squared L2 distance, index-order fold (deterministic)
        d2 = (
            "aggregate(zip_with(demb, centroid, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        # nearest centroid via min(struct(d2, cid, demb)): struct
        # ordering compares d2 then centroid_id — the same (d2, cid)
        # tie-break as a row_number window, but as a declarative agg it
        # partial-combines MAP-SIDE, so the shuffle carries one row per
        # vec_id instead of the window's N×C rows (measured 2.1s → 0.6s
        # for the Lloyd round at sf0.1)
        assigned = (
            vectors.crossJoin(c)
            .withColumn("__d2", F.expr(d2))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("__d2"), F.col("centroid_id"), F.col("demb")
                    )
                ).alias("__best")
            )
            .select(
                "vec_id",
                F.col("__best.centroid_id").alias("centroid_id"),
                F.col("__best.demb").alias("demb"),
            )
        )
        # per-cluster mean: explode to (cluster, idx, val), partial sums
        # combine map-side — one C×dim-sized shuffle, independent of N
        sums = (
            assigned.select(
                "centroid_id", F.posexplode("demb").alias("__i", "__x")
            )
            .groupBy("centroid_id", "__i")
            .agg(
                F.sum(
                    F.floor(F.col("__x") * F.lit(1099511627776.0)).cast("bigint")
                ).alias("__s"),
                F.count("*").alias("__n"),
            )
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "__i",
                            (
                                F.col("__s").cast("double")
                                / F.lit(1099511627776.0)
                                / F.col("__n").cast("double")
                            ).alias("__m"),
                        )
                    )
                ).alias("__pairs")
            )
            .select(
                "centroid_id",
                F.expr("transform(__pairs, p -> p.__m)").alias("centroid"),
            )
        )
        cents = sums
    return cents


def duck_kmeans_centroids_cte(n: str, stride: int = 47) -> str:
    """DuckDB CTE chain reproducing ONE kmeans_refine Lloyd round
    bit-for-bit: same stride init, same index-order squared-L2 fold,
    same (d2, cid) tie-break, same fixed-point floor(x·2^40)-staged
    means (see kmeans_refine for why decimal staging is NOT
    cross-engine safe). Emitted WITHOUT a leading WITH; defines
    ``centroids(cid, demb, norm)`` with norms per the staged
    convention (duck_norm_stage_sql)."""
    d2 = (
        "list_sum([((e.demb)[i] - (c.demb)[i]) * ((e.demb)[i] - (c.demb)[i]) "
        "for i in range(1, len(e.demb) + 1)])"
    )
    return f"""
kinit AS (
  SELECT vec_id AS cid, demb FROM {n} WHERE vec_id % {stride} = 0
),
kassign AS (
  SELECT vec_id, cid, demb FROM (
    SELECT e.vec_id, c.cid, e.demb,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2} ASC, c.cid) AS rn
    FROM {n} e JOIN kinit c ON true
  ) WHERE rn = 1
),
kcomp AS (
  SELECT cid, generate_subscripts(demb, 1) AS i, unnest(demb) AS x FROM kassign
),
kmean AS (
  SELECT cid, i,
    CAST(SUM(CAST(floor(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS m
  FROM kcomp GROUP BY cid, i
),
kcent AS (
  SELECT cid, list(m ORDER BY i) AS demb FROM kmean GROUP BY cid
),
centroids AS (
  SELECT cid, demb, sqrt(list_sum([x * x for x in demb])) AS norm FROM kcent
)"""


# ------------------------------------------------ sign-random-projection

#: SRP-LSH (Charikar 2002, "Similarity estimation techniques from
#: rounding algorithms"): H hyperplanes of deterministic +-1 components;
#: the H sign bits of vector . plane form the bucket key, and
#: P[bits agree] = 1 - angle/pi. Planes are Rademacher vectors derived
#: from integer mixing — pure arithmetic, bit-identical across engines.
#:
#: Recall characteristics (measured on the synthetic testdata): the
#: sf0.01 embeddings are near-isotropic, so true top-5 neighbors sit
#: near 90 degrees and sign bits approach coin flips — recall@5 is
#: ~0.16 at 8 bits/hamming-1 probes, and a sweep (6-10 bits, radius
#: 1-2, up to 6 independent tables) tops out ~0.5 while examining ~40%
#: of the corpus. That bound is the data, not the operator: on real
#: embedding corpora (low intrinsic dimension, clustered) SRP
#: concentrates sharply. Scale knobs: SRP_BITS ~ log2(n / target
#: bucket size), multiprobe radius for recall, L independent tables
#: (union of candidates) when radius alone is not enough.
SRP_BITS = 8
_SRP_A = 2654435761  # Knuth multiplicative-hash constants
_SRP_B = 40503
_SRP_MOD = 97
_SRP_HALF = 48  # < HALF → +1, else -1 (48/97 keeps E[component] ~ 0)


def spark_srp_key(demb: str) -> str:
    """SRP bucket key over a pre-staged double-cast embedding column.
    Index-order accumulation: the dot product runs the identical IEEE
    sequence in both engines, so the SIGN (and hence the key) agrees."""
    sign = (
        f"CASE WHEN pmod(j * {_SRP_A}L + i * {_SRP_B}L, {_SRP_MOD}) < {_SRP_HALF} "
        f"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
    )
    dot = (
        f"aggregate(sequence(1, size({demb})), CAST(0 AS DOUBLE), "
        f"(s, i) -> s + element_at({demb}, i) * {sign})"
    )
    return (
        f"aggregate(sequence(0, {SRP_BITS - 1}), 0L, "
        f"(acc, j) -> acc + CASE WHEN {dot} >= CAST(0 AS DOUBLE) "
        f"THEN shiftleft(1L, j) ELSE 0L END)"
    )


def duck_srp_key(demb: str) -> str:
    sign = (
        f"CASE WHEN ((j * {_SRP_A} + i * {_SRP_B}) % {_SRP_MOD}) < {_SRP_HALF} "
        f"THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END"
    )
    dot = (
        f"list_sum([({demb})[i] * {sign} "
        f"for i in range(1, len({demb}) + 1)])"
    )
    return (
        f"CAST(list_sum([CASE WHEN {dot} >= 0.0 "
        f"THEN (1::BIGINT << j) ELSE 0 END "
        f"for j in range(0, {SRP_BITS})]) AS BIGINT)"
    )


def spark_srp_probes(key: str) -> str:
    """Multiprobe key set: the exact bucket plus every 1-bit flip
    (hamming-1 neighbors) — recall insurance without widening the join
    beyond SRP_BITS+1 buckets per query."""
    return (
        f"concat(array({key}), transform(sequence(0, {SRP_BITS - 1}), "
        f"j -> CAST({key} ^ shiftleft(1L, j) AS BIGINT)))"
    )


def duck_srp_probes(key: str) -> str:
    return (
        f"list_prepend({key}, [xor({key}, 1::BIGINT << j) "
        f"for j in range(0, {SRP_BITS})])"
    )


# ------------------------------------------------------- distributed PCA


def pca_cov_sql(engine: str, table: str, dim: int = 64) -> str:
    """The covariance table (i, j, c, mu_i) — PCA's one corpus-sized
    stage, split out so the Spark runner can materialize it ONCE
    (localCheckpoint): the power-iteration SQL reads `cov` from seven
    places (four matvecs, Rayleigh matvec, trace, v0 domain), and CTE
    inlining would re-run the N·dim² Gram pipeline per reference."""
    q = "1099511627776.0"  # 2^40, exact in double
    ds = (
        "(CAST(SUM(CAST(floor(({x}) * " + q + ") AS BIGINT)) AS DOUBLE) / " + q + ")"
    )
    if engine == "spark":
        long_src = (
            f"SELECT vec_id, pos AS i, CAST(v AS DOUBLE) AS v "
            f"FROM (SELECT vec_id, posexplode(embedding) AS (pos, v) FROM {table})"
        )
    else:
        long_src = (
            f"SELECT vec_id, g.i - 1 AS i, CAST(embedding[g.i] AS DOUBLE) AS v "
            f"FROM {table} CROSS JOIN generate_series(1, {dim}) g(i)"
        )
    return f"""
WITH long AS ({long_src}),
nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM long),
mu AS (
  SELECT i, {ds.format(x='v')} / CAST(nn.n AS DOUBLE) AS mu
  FROM long CROSS JOIN nn GROUP BY i, nn.n
),
gram AS (
  SELECT a.i AS i, b.i AS j, {ds.format(x='a.v * b.v')} AS g
  FROM long a JOIN long b ON b.vec_id = a.vec_id
  GROUP BY a.i, b.i
)
SELECT g.i, g.j,
       (g.g - CAST(nn.n AS DOUBLE) * mi.mu * mj.mu) / CAST(nn.n AS DOUBLE) AS c,
       mi.mu AS mu_i
FROM gram g
JOIN mu mi ON mi.i = g.i
JOIN mu mj ON mj.i = g.j
CROSS JOIN nn
"""


def pca_power_sql(
    engine: str,
    table: str,
    dim: int = 64,
    iters: int = 4,
    cov_table: str | None = None,
) -> str:
    """Top principal component of the embedding cloud by Gram-matrix
    accumulation + ``iters`` unrolled power-method steps — the
    distributed PCA shape (embedding whitening / drift decomposition /
    low-rank probes): the ONLY corpus-sized stage is the (i, j) product
    aggregation, whose shuffled state is dim² cells thanks to map-side
    partial aggregation; every later step (covariance, matvecs,
    normalizations, Rayleigh quotient) runs on ≤ dim² rows.

    Cross-engine determinism: every sum is staged as FIXED-POINT
    floor(x · 2^40) BIGINTs — NOT decimal: double→DECIMAL casts round
    HALF_UP on the shortest repr in Spark but HALF_EVEN on the exact
    binary value in DuckDB, and float32-sourced data hits exact ties
    routinely (this dataset: embedding[2][37] = 0.1983642578125, a
    dyadic rational whose repr ends in '5' at digit 13 — decimal
    staging diverged in the last place). floor after one exact-rounded
    multiply has no tie cases, integer sums are order-independent, and
    the 2^-40 per-term quantization is far below the estimate's
    accuracy. Each later product/divide is a single correctly-rounded
    IEEE op in the same order on both engines; the power-iteration
    init is the exact binary constant 1/8; sqrt is IEEE-exact.

    At 100 TB: the long-form explode is linear in N·dim; the Gram
    aggregate is the one shuffle (≤ dim² × partitions partial rows);
    power iterations are free. This is why PCA-style probes run fine as
    SQL — the data-sized work is a single self-joined aggregation.

    Plan-size discipline: every CTE in the iteration chain is
    referenced EXACTLY ONCE (normalization is a window sum over the
    matvec output instead of a cross-joined scalar; the tail picks the
    eigvec component off the covariance DIAGONAL inside the final
    matvec aggregate) — a vK referenced twice doubles the inlined plan
    per iteration, 2^iters blow-up, measured as seconds of pure
    planning per run. The covariance table is the one multi-referenced
    input: the Spark runner materializes it (localCheckpoint) and the
    DuckDB form declares it AS MATERIALIZED.
    """
    q = "1099511627776.0"  # 2^40, exact in double
    ds = (
        "(CAST(SUM(CAST(floor(({x}) * " + q + ") AS BIGINT)) AS DOUBLE) / " + q + ")"
    )
    wds = (
        "(CAST(SUM(CAST(floor(({x}) * " + q + ") AS BIGINT)) OVER () AS DOUBLE) / "
        + q + ")"
    )
    if cov_table is None:
        mat = " MATERIALIZED" if engine == "duck" else ""
        cov_cte = f"cov AS{mat} ({pca_cov_sql(engine, table, dim)}),\n"
        cov = "cov"
    else:
        cov_cte = ""
        cov = cov_table
    # unrolled power iterations: vK = normalize(C vK-1); the window-sum
    # normalization keeps each rK referenced once (single-path chain)
    its = []
    prev = "v0"
    for k in range(1, iters + 1):
        its.append(
            f"""r{k} AS (
  SELECT c.i, {ds.format(x='c.c * p.v')} AS r
  FROM {cov} c JOIN {prev} p ON p.i = c.j
  GROUP BY c.i
),
v{k} AS (SELECT i, r / sqrt({wds.format(x='r * r')}) AS v FROM r{k})"""
        )
        prev = f"v{k}"
    its_sql = ",\n".join(its)
    return f"""
WITH {cov_cte}mud AS (SELECT i, mu_i AS mu FROM {cov} WHERE i = j),
v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS v FROM mud),
{its_sql},
wv AS (
  -- final matvec w = C v, with v_i picked off the diagonal cell so the
  -- last iterate is referenced exactly once
  SELECT c.i, {ds.format(x='c.c * p.v')} AS w,
         max(CASE WHEN c.j = c.i THEN p.v END) AS v
  FROM {cov} c JOIN {prev} p ON p.i = c.j
  GROUP BY c.i
),
s1 AS (SELECT i, w, v, {wds.format(x='w * v')} AS lambda1 FROM wv),
s2 AS (
  SELECT i, w, v, lambda1,
         sqrt({wds.format(x='(w - lambda1 * v) * (w - lambda1 * v)')}) AS resid
  FROM s1
),
tr AS (SELECT {ds.format(x='c')} AS trace FROM {cov} WHERE i = j)
SELECT CAST(s2.i AS BIGINT) AS dim, mud.mu, s2.v AS pc1_loading,
       s2.lambda1, s2.lambda1 / tr.trace AS var_share, s2.resid
FROM s2
JOIN mud ON mud.i = s2.i
CROSS JOIN tr
ORDER BY dim
"""
