"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each shape):
- exact dedup = hash + groupBy → Catalyst partial/final agg, one shuffle
  on the 32-byte digest, no text movement after the map side.
- MinHash-LSH = signature (map-only) → band keys (map-only) → shuffle on
  band key → pairs only within buckets. Candidate count is O(collisions),
  not O(n²); this is THE near-dup plan for 100 TB.
- SimHash = map-only fingerprint; near-dup lookup is an equality (or
  small-radius) match on a 16-bit key.
- n-gram Jaccard = exact verifier, only ever run blocked (metadata or
  LSH buckets), never as an open self-join.

Hashing: ONE md5 per shingle/token, split into a 60-bit and a 56-bit
integer; the k MinHash functions are Kirsch-Mitzenmacher double hashes
``g_i = h1 + i*h2`` (max value 2^60 + 15*2^56 < 2^63 — no overflow, no
mod needed). SimHash bits come from h1's low bits. Every builder has a
``duck_*`` twin emitting DuckDB SQL from the same constants; integer
results are bit-identical across engines (verified in tests).
"""

from __future__ import annotations

import os

from edgelake_spark import artifacts
from edgelake_spark.functions.text import duck_tokens, spark_tokens
from edgelake_spark.checkpoint import materialize as _materialize
from edgelake_spark.localframe import local_frame

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_WORDS = 3
SIMHASH_BITS = 16
NGRAM_CHARS = 3


# --------------------------------------------------- md5 → int64 halves


def spark_hex60(h: str) -> str:
    """First 15 hex chars (60 bits) of an md5 string expr → BIGINT."""
    return f"CAST(conv(substr({h}, 1, 15), 16, 10) AS BIGINT)"


def spark_hex56(h: str) -> str:
    """Hex chars 17..30 (56 bits) → BIGINT (independent of hex60)."""
    return f"CAST(conv(substr({h}, 17, 14), 16, 10) AS BIGINT)"


def duck_hex60(h: str) -> str:
    return (
        f"CAST(list_sum([CAST(strpos('0123456789abcdef', ({h})[i:i]) - 1 AS BIGINT)"
        f" << (4*(15-i)) for i in range(1, 16)]) AS BIGINT)"
    )


def duck_hex56(h: str) -> str:
    return (
        f"CAST(list_sum([CAST(strpos('0123456789abcdef', ({h})[16+i:16+i]) - 1 AS BIGINT)"
        f" << (4*(14-i)) for i in range(1, 15)]) AS BIGINT)"
    )


# ------------------------------------------------------------ shingles
#
# Shingle/hash pipelines are built as STAGED subqueries (tokens →
# shingles → hashes → signature), one column per stage. Spark evaluates
# higher-order-function lambdas with an interpreter and does NOT
# common-subexpression-eliminate inside the lambda body — inlining
# tokens into `slice(tokens, j, k)` re-runs the whole split() once per
# shingle (measured ~10× slowdown at sf0.1). Staging makes each step a
# per-row column read.


def spark_shingles_over(toks: str) -> str:
    """Word {SHINGLE_WORDS}-shingles over a pre-staged token column."""
    k = SHINGLE_WORDS
    return (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"j -> concat_ws(' ', slice({toks}, j, {k})))"
    )


def duck_shingles_over(toks: str) -> str:
    k = SHINGLE_WORDS
    return (
        f"[array_to_string(({toks})[j:j+{k - 1}], ' ') "
        f"for j in range(1, greatest(len({toks}) - {k - 1}, 1) + 1)]"
    )


def spark_word_grams_over(toks: str, k: int) -> str:
    """Word k-grams over a pre-staged token column (generalized
    shingle builder; k is a query-time choice, e.g. decontamination
    sweeps use a larger k than near-dup shingling)."""
    return (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"j -> concat_ws(' ', slice({toks}, j, {k})))"
    )


def duck_word_grams_over(toks: str, k: int) -> str:
    return (
        f"[array_to_string(({toks})[j:j+{k - 1}], ' ') "
        f"for j in range(1, greatest(len({toks}) - {k - 1}, 1) + 1)]"
    )


# ------------------------------------------------------------- minhash


def spark_minhash_sig_sql(table: str, where: str = "", id_col: str = "doc_id", text_col: str = "text") -> str:
    """Full SQL producing (id, sig ARRAY<BIGINT>): one md5 per shingle,
    then {NUM_HASHES} double-hash minima.

    Shape: explode shingles → per-shingle md5/hex-split (whole-stage
    codegen'd scalar exprs, NOT interpreted lambdas) → groupBy(id) with
    {NUM_HASHES} `min(h1 + i*h2)` aggregates (map-side partial combine,
    one shuffle on the id). ~3× faster than the array-lambda form and
    the same plan shape scales: hashing is embarrassingly parallel,
    state per group is {NUM_HASHES} longs."""
    w = f" WHERE {where}" if where else ""
    mins = ", ".join(f"min(h1 + {i} * h2) AS s{i}" for i in range(NUM_HASHES))
    arr = ", ".join(f"s{i}" for i in range(NUM_HASHES))
    leads = ", ".join(
        f"lead(w, {k}) OVER (PARTITION BY {id_col} ORDER BY pos) AS w{k}"
        for k in range(1, SHINGLE_WORDS)
    )
    shingle = "concat_ws(' ', w0, " + ", ".join(f"w{k}" for k in range(1, SHINGLE_WORDS)) + ")"
    # shingles are built with posexplode + lead() — codegen'd window ops
    # instead of interpreted array lambdas (~4s → <1s at sf0.1).
    # concat_ws skips the NULL leads at the tail, so docs shorter than
    # {SHINGLE_WORDS} words produce the same partial shingle as the
    # slice-based DuckDB oracle.
    return f"""
SELECT {id_col}, array({arr}) AS sig
FROM (
  SELECT {id_col}, {mins}
  FROM (
    SELECT {id_col}, {spark_hex60('h')} AS h1, {spark_hex56('h')} AS h2
    FROM (
      SELECT {id_col}, md5({shingle}) AS h
      FROM (
        SELECT {id_col}, pos, w AS w0, {leads},
               count(*) OVER (PARTITION BY {id_col}) AS n_toks
        FROM (
          SELECT {id_col}, pos, w
          FROM (SELECT {id_col}, {spark_tokens(text_col)} AS toks FROM {table}{w})
          LATERAL VIEW posexplode(toks) t AS pos, w
        )
      ) WHERE pos <= greatest(n_toks - {SHINGLE_WORDS}, 0)
    )
  ) GROUP BY {id_col}
)"""


def duck_minhash_sig_sql(table: str, where: str = "", id_col: str = "doc_id", text_col: str = "text") -> str:
    w = f" WHERE {where}" if where else ""
    return f"""
SELECT {id_col}, [list_min(list_transform(range(1, len(h1s) + 1),
         j -> h1s[j] + i * h2s[j])) for i in range(0, {NUM_HASHES})] AS sig
FROM (
  SELECT {id_col},
    [{duck_hex60('h')} for h in hs] AS h1s,
    [{duck_hex56('h')} for h in hs] AS h2s
  FROM (
    SELECT {id_col}, [md5(s) for s in shingles] AS hs
    FROM (
      SELECT {id_col}, {duck_shingles_over('toks')} AS shingles
      FROM (
        SELECT {id_col}, {duck_tokens(text_col)} AS toks
        FROM {table}{w}
      )
    )
  )
)"""


def spark_band_key(sig: str, band: int) -> str:
    lo = band * ROWS_PER_BAND + 1
    return (
        f"md5(array_join(transform(slice({sig}, {lo}, {ROWS_PER_BAND}), "
        f"x -> cast(x AS STRING)), '|'))"
    )


def duck_band_key(sig: str, band: int) -> str:
    lo = band * ROWS_PER_BAND + 1
    hi = lo + ROWS_PER_BAND - 1
    return f"md5(array_to_string(({sig})[{lo}:{hi}], '|'))"


def band_unions(engine: str, source: str) -> str:
    """The band keys of a signature relation ``source`` (doc_id, sig) as
    (doc_id, band_id, band_key) rows: one UNION ALL branch per band."""
    band = spark_band_key if engine == "spark" else duck_band_key
    return " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band_id, {band('sig', k)} AS band_key FROM {source}"
        for k in range(BANDS)
    )


def minhash_index_views(spark, sf_dir: str) -> tuple[str, str]:
    """The corpus's MinHash-LSH index as `__mh_sig` (doc_id, sig) and
    `__mh_bands` (doc_id, band_id, band_key), both persisted per state
    of ``documents.parquet``: the offline half of every LSH runner.
    Signatures are hashed once, over a repartitioned scan (the
    single-row-group source file is one input split); the band keys are
    derived from the signature artifact, not by hashing shingles again,
    and written as one file per signature file (not one per band).
    A warm call reads both with their recorded schemas and starts no
    Spark job."""
    source = os.path.join(sf_dir, "documents.parquet")
    version = spark_minhash_sig_sql("documents_rep")

    def signatures():
        n = spark.sparkContext.defaultParallelism
        spark.table("documents").repartition(n).createOrReplaceTempView("documents_rep")
        return spark.sql(version)

    sig = artifacts.parquet(spark, source, "minhash_sig", version, signatures)
    sig.createOrReplaceTempView("__mh_sig")
    bands = band_unions("spark", "__mh_sig")
    artifacts.parquet(
        spark, source, "minhash_bands", version + bands,
        lambda: spark.sql(bands).coalesce(sig.rdd.getNumPartitions()),
    ).createOrReplaceTempView("__mh_bands")
    return "__mh_sig", "__mh_bands"


def band_claim_policy(claimed, doc_ids):
    """THE greedy keep-first band-claim rule, in one place (r9 verdict
    stretch: the streaming monitor and the batch sweeps each carried
    their own copy of this contract and could drift).

    Given a band bucket's current claimant (``None`` if unclaimed) and
    the bucket's arriving doc ids IN ARRIVAL ORDER, returns
    ``(new_claimant, [(doc_id, dup), ...])``: the first arrival (or the
    persisted claimant) keeps the bucket, every other doc sharing it is
    flagged. Drivers:

    - streaming: ``streaming/stateful._band_claim`` folds each
      micro-batch through this per band bucket, doc_ids sorted within
      the batch (arrival order = batch order, ties by id);
    - batch: ``band_claims_sql`` below — for a static corpus processed
      in doc_id order the claimant is ``min(doc_id)`` per bucket, so
      one groupBy computes every bucket's fold result at once. The two
      drivers are pinned verdict-identical on the same corpus in
      tests/test_streaming.py (stream vs batch SQL vs this fold).
    """
    rows = []
    for d in doc_ids:
        dup = claimed is not None and claimed != d
        if claimed is None:
            claimed = d
        rows.append((d, dup))
    return claimed, rows


def band_claims_sql(bands: str) -> str:
    """Batch driver of ``band_claim_policy`` over a band relation
    ``bands`` (doc_id, band_id, band_key) — the ``band_unions`` of a
    signature table, or the persisted band index: per-doc keep/dup
    verdicts for a static corpus processed in doc_id order. The text is
    engine-neutral; band extraction is the only per-engine part.

    Semantics = the policy fold: a bucket's claimant is its min doc_id;
    ``is_dup`` = doc shares ANY bucket with a smaller doc_id (the
    streaming monitor's max-over-bands aggregation); ``kept_by`` = the
    smallest such claimant (NULL for keeps).

    Scale shape: one bucket groupBy (claims) + one band-key equi-join
    back + one doc groupBy — all map-side-combinable, no pairwise
    work, the same band-bucket partitioning the pair sweep shuffles on.
    """
    return f"""
WITH bands AS ({bands}),
claims AS (
  SELECT band_id, band_key, min(doc_id) AS claimed_by
  FROM bands GROUP BY band_id, band_key
)
SELECT b.doc_id,
       CAST(max(CASE WHEN c.claimed_by < b.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS is_dup,
       min(CASE WHEN c.claimed_by < b.doc_id THEN c.claimed_by END) AS kept_by
FROM bands b
JOIN claims c ON c.band_id = b.band_id AND c.band_key = b.band_key
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


# ------------------------------------------------------------ simhash


def spark_hs64_expr(col: str) -> str:
    """Per-token 60-bit hashes (stage this as a column, then apply
    spark_simhash_over so tokens hash once, not once per bit)."""
    toks = spark_tokens(col)
    return f"transform({toks}, t -> {spark_hex60('md5(t)')})"


def duck_hs64_expr(col: str) -> str:
    toks = duck_tokens(col)
    return f"[{duck_hex60('md5(t)')} for t in {toks}]"


def spark_simhash_sql(table: str, where: str = "", id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS) -> str:
    """SimHash via explode + groupBy — whole-stage-codegen'd integer
    aggregation instead of interpreted nested-lambda loops (~6× faster
    at sf0.1, and the shape that scales: map, shuffle on id, combine)."""
    w = f" WHERE {where}" if where else ""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    combine = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END" for j in range(bits)
    )
    return f"""
SELECT {id_col}, CAST({combine} AS BIGINT) AS simhash
FROM (
  SELECT {id_col}, {bit_sums}
  FROM (
    SELECT {id_col}, explode_outer(hs64) AS h
    FROM (SELECT {id_col}, {spark_hs64_expr(text_col)} AS hs64 FROM {table}{w})
  ) GROUP BY {id_col}
)"""


def duck_simhash_over(hs64: str, bits: int = SIMHASH_BITS) -> str:
    return (
        f"CAST(list_sum([CASE WHEN list_sum([CASE WHEN ((h >> j) & 1) = 1 "
        f"THEN 1 ELSE -1 END for h in {hs64}]) > 0 THEN (1::BIGINT << j) ELSE 0 END "
        f"for j in range(0, {bits})]) AS BIGINT)"
    )


# ------------------------------------------------------ n-gram jaccard


def spark_normalize(col: str) -> str:
    return f"regexp_replace(trim(lower({col})), '\\\\s+', ' ')"


def duck_normalize(col: str) -> str:
    return f"regexp_replace(trim(lower({col})), '\\s+', ' ', 'g')"


def spark_char_ngrams_over(norm: str) -> str:
    """Distinct character {NGRAM_CHARS}-grams over a PRE-STAGED
    normalized-text column (inlining the regexp into the lambda would
    re-run it once per character — see staging note above)."""
    n = NGRAM_CHARS
    return (
        f"array_distinct(transform(sequence(1, greatest(length({norm}) - {n - 1}, 1)), "
        f"i -> substr({norm}, i, {n})))"
    )


def duck_char_ngrams_over(norm: str) -> str:
    n = NGRAM_CHARS
    return (
        f"list_distinct([({norm})[i:i+{n - 1}] "
        f"for i in range(1, greatest(length({norm}) - {n - 1}, 1) + 1)])"
    )


def duck_char_ngrams(col: str) -> str:
    return duck_char_ngrams_over(duck_normalize(col))


def spark_jaccard(a: str, b: str) -> str:
    """Jaccard over two DISTINCT-element string arrays; division order
    fixed so both engines produce identical doubles."""
    inter = f"size(array_intersect({a}, {b}))"
    return (
        f"CAST({inter} AS DOUBLE) / "
        f"CAST(size({a}) + size({b}) - {inter} AS DOUBLE)"
    )


def duck_jaccard(a: str, b: str) -> str:
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
    return (
        f"CAST({inter} AS DOUBLE) / "
        f"CAST(len({a}) + len({b}) - {inter} AS DOUBLE)"
    )


# --------------------------------------------------- connected components

#: below this edge count the distributed loop is pure scheduling
#: overhead (measured: 49 s for 27 k edges vs <1 s driver-side)
DRIVER_CC_THRESHOLD = 2_500_000


def connected_components(pairs, driver_threshold: int = DRIVER_CC_THRESHOLD, max_rounds: int = 40,
                         stats: dict | None = None):
    """Undirected connected components over a (id1, id2) pair DataFrame
    → DataFrame (doc_id, component_id) with component_id = min id
    reachable (the dedup keep-candidate).

    Hybrid: the pair set is LSH *output* — already reduced from O(n²) to
    candidate pairs — so small graphs run path-compressed union-find on
    the driver; above ``driver_threshold`` edges the distributed branch
    runs min-label propagation PLUS pointer jumping (label :=
    label[label]), halving component diameter per round → O(log n)
    rounds on any graph (the large-graph CC idiom). Raises RuntimeError
    if the fixpoint is not reached within ``max_rounds`` — convergence
    is verified, never assumed. The cap is headroom, not expected
    cost: the loop exits at the measured fixpoint (sf0.1 LSH graph:
    18 rounds; its long near-dup CHAINS are close to the worst case
    for min-label + one jump), and the r10 sf10 run proved 20 was too
    tight at 100× data (cross-replica band collisions chain replicas,
    stretching the diameter) — a converging job must never die within
    a factor-2 of an observed legitimate round count.

    ``stats`` (optional dict) is filled with {n_edges, branch, rounds}
    so callers/benchmarks can record which branch ran and its
    rounds-to-fixpoint without re-deriving them.

    ``pairs`` may be any plan: it is materialized here, once, and both
    branches read that barrier, so the pair plan runs exactly once. One
    collect of at most ``driver_threshold + 1`` rows over the barrier
    picks the branch and is the driver branch's input; only the
    distributed branch counts its edges. That collect is one Spark job at
    any partition count: a single task reads the barrier's partitions in
    turn and stops at ``driver_threshold + 1`` rows, so no more than that
    reaches the driver (``limit(n).collect()`` would scan partitions in
    rounds, one job each; ``collect_head`` would send up to n rows per
    partition).
    """
    from pyspark.sql import functions as F

    spark = pairs.sparkSession
    pairs = _materialize(pairs)
    head = pairs.coalesce(1).limit(driver_threshold + 1).collect()
    on_driver = len(head) <= driver_threshold
    if stats is not None:
        stats["n_edges"] = len(head) if on_driver else pairs.count()
        stats["branch"] = "driver" if on_driver else "distributed"
        stats["rounds"] = 0
    if on_driver:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in head:
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {x: find(x) for x in parent}
        # component id = min doc_id in the component (find() roots are
        # already minima because unions always point max → min)
        rows = sorted(comp.items())
        return local_frame(spark, rows, "doc_id long, component_id long")

    # bidirectional edge set: both orientations of each row, in one scan
    # of the barrier. NOT a union of two scans: Union.rewriteConstraints
    # dies on a checkpoint's constraints (key not found id1#…)
    edges = pairs.select(F.inline(F.array(
        F.struct("id1", "id2"),
        F.struct(F.col("id2").alias("id1"), F.col("id1").alias("id2")),
    )))

    # ROUND BARRIER = PARQUET ROUND-TRIP, deliberately NOT materialize()/
    # localCheckpoint. Dataset.checkpoint snapshots the source plan's
    # Catalyst sizeInBytes into the new LogicalRDD, and the pointer-jump
    # SELF-join then SQUARES that estimate every round — the stats
    # BigInt's digit count doubles per round, so by round ~20 the DRIVER
    # spends the whole round multiplying megabyte-sized BigIntegers
    # inside stats derivation (measured r10: per-round wall 1 s flat
    # through round 17, then 2→4→8→20→52→137 s with executors IDLE and
    # a jstack pinning 56 s of CPU in BigInteger.multiply under
    # IterableOnceOps.product), and past ~30 doublings BigInteger
    # overflows its supported range — the bare ArithmeticException the
    # sf1 forced-distributed run died with. A parquet scan's stats are
    # the actual file size, so the compounding resets every round; the
    # barrier also truncates lineage AND is executor-loss-durable (the
    # files outlive any executor), and it measured the same per-round
    # cost as localCheckpoint before the blow-up (~0.3 s at sf1).
    # Files land under the session checkpoint dir (HDFS/object store on
    # a cluster) — two alternating slots per run, a bounded footprint;
    # the final labels go through the materialization barrier, and the
    # whole round directory is removed before returning.
    import os as _os
    import uuid as _uuid

    from edgelake_spark.checkpoint import ensure_checkpoint_dir

    base = _os.path.join(
        ensure_checkpoint_dir(spark), f"cc-rounds-{_uuid.uuid4().hex[:12]}"
    )

    def barrier(df, round_no: int):
        slot = _os.path.join(base, f"labels_{round_no % 2}")
        df.write.mode("overwrite").parquet(slot)
        return spark.read.parquet(slot)

    try:
        labels = barrier(
            edges.select(F.col("id1").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id")),
            0,
        )
        converged = False
        for round_no in range(1, max_rounds + 1):
            nmin = (
                edges.join(labels, edges.id2 == labels.doc_id)
                .groupBy(edges.id1.alias("doc_id"))
                .agg(F.min("label").alias("nmin"))
            )
            stepped = labels.join(nmin, "doc_id", "left").select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            # pointer jump: follow label -> label-of-label
            parents = stepped.select(
                F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
            )
            jumped = barrier(
                stepped.join(parents, stepped.label == parents.p_id, "left")
                .select(
                    "doc_id",
                    F.least(F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))).alias(
                        "label"
                    ),
                ),
                round_no,
            )
            # convergence probe every other round (scheduling overhead
            # stays bounded), and every round near the cap; both sides are
            # parquet scans, so the probe re-executes nothing
            if round_no % 2 == 0 or round_no >= max_rounds - 2:
                changed = (
                    jumped.alias("n")
                    .join(labels.alias("o"), "doc_id")
                    .filter(F.col("n.label") != F.col("o.label"))
                    .count()
                )
                labels = jumped
                if stats is not None:
                    stats["rounds"] = round_no
                if changed == 0:
                    converged = True
                    break
            else:
                labels = jumped
                if stats is not None:
                    stats["rounds"] = round_no
        if not converged:
            raise RuntimeError(
                f"connected_components did not reach a fixpoint in {max_rounds} rounds"
            )
        final = _materialize(labels.select("doc_id", F.col("label").alias("component_id")))
    finally:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(base)
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    return final.orderBy("doc_id")


def keep_quality_sql(comp: str, score: str) -> str:
    """Engine-shared body for quality-aware dedup keep: every doc gets
    its near-dup component (itself if unclustered), the keeper is the
    component's argmax-quality doc (ties → min doc_id). The argmax is
    a max(q) aggregate + equality join + min(doc_id) — all map-side
    combinable, NO per-component sort window (a 95%-of-corpus skew
    component would serialize a window's task; an aggregate stays
    partial). Equality on the DOUBLE score is safe cross-engine
    because the score itself is hash-verified bit-identical
    (doc_quality); it is never emitted, only compared."""
    return f"""
WITH comp AS ({comp}),
q AS (SELECT doc_id, {score} AS q FROM documents),
everyone AS (
  SELECT q.doc_id, coalesce(c.component_id, q.doc_id) AS component_id, q.q
  FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id
),
best AS (
  SELECT component_id, max(q) AS qmax FROM everyone GROUP BY component_id
),
kept AS (
  SELECT e.component_id, min(e.doc_id) AS kept_id
  FROM everyone e JOIN best b
    ON b.component_id = e.component_id AND e.q = b.qmax
  GROUP BY e.component_id
)
SELECT e.doc_id, e.component_id, k.kept_id,
       CAST(CASE WHEN e.doc_id = k.kept_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_kept
FROM everyone e JOIN kept k ON k.component_id = e.component_id
ORDER BY e.doc_id
"""


# ------------------------------------------------- PageRank over the dup graph


def pagerank_sql(edges: str, iters: int = 3, d: float = 0.85) -> str:
    """PageRank (``iters`` unrolled Jacobi iterations, damping ``d``)
    over a near-duplicate graph — ranking duplicate-cluster centrality,
    e.g. to pick the canonical copy. ``edges`` names a (src, dst)
    relation holding both directions of every undirected pair: a view
    name, or an aliased parenthesized subquery. Every node has
    degree >= 1 (nodes exist only via edges), so there is no dangling
    mass; the (1-d)/N teleport term keeps the distribution proper.

    Determinism: the per-neighbor contribution pr/deg is an IEEE double
    division; the neighbor SUM is decimal-staged (exact, order-free);
    iterations are unrolled CTEs so both engines execute the identical
    dataflow. Scale shape: edges come from the LSH band join (linear in
    collisions), each iteration is ONE shuffle on dst joined back on a
    co-located key; production would checkpoint each iteration, exactly
    like connected_components' pointer jumping."""
    sql = f"""
WITH edges AS (SELECT src, dst FROM {edges}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
pr0 AS (
  SELECT id, CAST(1.0 AS DOUBLE) / CAST(n.n AS DOUBLE) AS pr FROM nodes CROSS JOIN n
)"""
    prev = "pr0"
    for k in range(1, iters + 1):
        sql += f""",
pr{k} AS (
  SELECT nodes.id,
    {1.0 - d:.2f} / CAST(n.n AS DOUBLE)
      + {d} * CAST(coalesce(s.acc, 0) AS DOUBLE) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS id,
           SUM(CAST(p.pr / CAST(d2.deg AS DOUBLE) AS DECIMAL(30,15))) AS acc
    FROM edges e
    JOIN {prev} p ON p.id = e.src
    JOIN deg d2 ON d2.id = e.src
    GROUP BY e.dst
  ) s ON s.id = nodes.id
)"""
        prev = f"pr{k}"
    sql += f"""
SELECT p.id AS doc_id, p.pr AS pagerank, deg.deg
FROM {prev} p JOIN deg ON deg.id = p.id
ORDER BY pagerank DESC, doc_id
LIMIT 20
"""
    return sql
