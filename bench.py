"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Writes the full result (per-query medians,
samples, sf1 section) to BENCH_FULL.json next to this script and prints
ONE short JSON line last (see ``summary_line``):
{"metric": ..., "value": total_sec, "unit": "sec", "n_queries": ...,
 "geomean_sec": ..., "cpus": ..., "sf": ..., "degraded": ..., "full": path}
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

#: the checkout this script belongs to
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
#: where main() writes the full result; the printed line names it
FULL_RESULT_PATH = os.path.join(REPO_DIR, "BENCH_FULL.json")


BENCH_QUERIES = [
    # dialect core
    "el_agg",
    "el_avg_group",
    "el_increments_hour",
    "el_period",
    "el_json_props",
    "el_include_mixed_schema",
    # joins / windows / scans
    "tpch_q1",
    "tpch_q6",
    "tpch_q3",
    "tpch_q5ish",
    "tpch_q10ish",
    "topk_per_group",
    "scalar_subquery",
    "lineitem_time_scan",
    "events_sessionize",
    "events_pivot",
    # training-data ops
    "doc_exact_dedup",
    "doc_minhash_pairs",
    "doc_dedup_clusters",
    "doc_simhash",
    "doc_ngram_jaccard",
    "doc_quality",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "emb_near_dup",
    # round 2 additions
    "multimodal_features",
    "events_ewma",
    "events_asof_orders",
    "events_gapfill",
    "events_ohlc",
    "doc_winnow_fp",
    "doc_top_terms",
    "emb_lsh_topk",
    # round 3 additions: semi join, nation-pair multi-join, correlated
    # scalar subquery, HAVING-semi re-group, per-entity window frames
    "tpch_q4ish",
    "tpch_q7ish",
    "tpch_q14ish",
    "tpch_q17ish",
    "tpch_q18ish",
    "events_lag_delta",
    "events_running_sum",
    "doc_split_assign",
    "doc_stratified_sample",
    "doc_corpus_stats",
    "emb_dedup_keep",
    "events_salted_distinct",
    "multimodal_frames",
    # round 3, second wave: TPC-H ladder breadth (outer-join distribution,
    # CTE-reuse top-supplier, disjunctive pushdown, semi+anti self-join,
    # group-vs-global share), timeseries rate/z-score/histogram, and the
    # decontamination / repetition / tf-idf / winnow-pair corpus passes
    "tpch_q13ish",
    "tpch_q15ish",
    "tpch_q19ish",
    "tpch_q21ish",
    "tpch_q11ish",
    "events_rate",
    "events_anomaly_z",
    "events_histogram",
    "doc_decontaminate",
    "doc_top_bigram_frac",
    "doc_tfidf_topk",
    "doc_winnow_pairs",
    # third wave: market-share conditional-sum join, profit rollup,
    # product-quantization codes
    "tpch_q8ish",
    "tpch_q9ish",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "events_range_join",
    "doc_pipeline_train_set",
    "doc_simhash60_pairs",
    "events_asof_forward",
    # round 4: the last TPC-H shapes (correlated-min supplier pick,
    # distinct-count with anti join, scalar-avg + anti-join dormants)
    "tpch_q2ish",
    "tpch_q16ish",
    "tpch_q22ish",
    "emb_ivfpq_topk",
    "doc_dup_chunk_frac",
    # round 4, second wave: M4 pixel downsampling, scalar-quantized ANN,
    # bounded-vocabulary rarity scoring, interpolation gapfill, domain
    # mixing, sequence packing
    "events_m4_downsample",
    "emb_sq8_topk",
    "doc_mean_token_rank",
    "events_gapfill_interp",
    "doc_mix_weights",
    "doc_pack_sequences",
    "emb_pq_recall",
    "emb_sq8_recall",
    # round 4, third wave: rule-based quality filter, PII redaction,
    # sliding-window chunking, C4-style dup-chunk removal, 1-bit ANN
    "doc_gopher_rules",
    "doc_pii_redact",
    "doc_chunk_overlap",
    "doc_remove_dup_chunks",
    "emb_bq_hamming_topk",
    "emb_bq_recall",
    "doc_bm25_topk",
    "orders_bucketed_join",
    "events_funnel",
    "doc_pagerank3",
    "doc_lang_confusion",
    "events_seasonal",
    "doc_minhash_calibration",
    "events_cusum",
    "events_markov",
    "events_quantiles",
    "events_profile",
    "events_ab_test",
    "emb_drift",
    "emb_knn_classify",
    "orders_rfm",
    "lineitem_basket",
    "orders_pareto",
    "events_dau_wau",
    # round-5 staged wave (rotate into the round-6 driver window):
    # LM surprisal quality filter, robust MAD outliers, lagged
    # cross-correlation, cohort retention, SQ8 reconstruction error,
    # Holt level+trend forecast, vocabulary-shift KL
    "doc_lm_surprisal",
    "events_mad_outliers",
    "events_lag_corr",
    "orders_cohort_retention",
    "emb_sq8_recon_error",
    "events_holt_forecast",
    "doc_vocab_shift",
    "doc_split_leakage",
    "doc_cluster_sizes",
    "doc_len_histogram",
    # round 6: Grafana façade round-trip (panel payload → dialect SQL)
    "grafana_increments",
    # round 6: CCNet quality buckets, Zipf rank-octave spectrum,
    # corpus-order shingle novelty
    "doc_ccnet_buckets",
    "doc_zipf_octaves",
    "doc_gram_novelty",
    # round 6: hashed-feature linear classifier (model-based quality
    # filter), contrastive hard-pos/neg pair mining, alpha=1/2
    # temperature mixture weights
    "doc_linear_classifier",
    "emb_contrastive_pairs",
    "doc_alpha_mix",
    # round 6: SemDeDup (cluster-scoped semantic dedup over the
    # persisted IVF index)
    "emb_semdedup",
    # round 6: BPE tokenizer-training pair counts
    "doc_bpe_pairs",
    # round 7: mergeable sketches (HLL registers, Count-Min cells, KMV
    # bottom-k) + gaps-and-islands maximal duplicated spans
    "events_hll_distinct",
    "doc_heavy_hitters",
    "doc_kmv_jaccard",
    "doc_dup_spans",
    # round 7: DSIR importance-resampling weights (integer log2 octaves)
    "doc_dsir_weights",
    # round 7: two-level HLL rollup (daily register artifacts re-merge)
    "events_hll_rollup",
    # round 7: distributed PCA (Gram accumulation + power iterations)
    "emb_pca_power",
    # round 7: triangle counts over the persisted near-dup pair graph
    "doc_dedup_triangles",
    # round 7: Z-order (Morton) clustering locality profile
    "events_zorder_cells",
    # round 7: KMV order-statistic distinct estimator
    "events_kmv_distinct",
    # round 7: epoch schedule under a relative token budget
    "doc_mix_epochs",
    # round 7: per-label projection onto the trained PC1 (model reuse)
    "emb_pca_project",
    # round 7: schedule -> concrete training multiset
    "doc_epoch_expand",
    # round 7: set-difference (vocabulary churn) estimate from KMV
    "doc_kmv_vocab_churn",
    # round 7: additive CMS rollup (per-day cells sum to the direct sketch)
    "events_cms_rollup",
    # round 8: pure-SQL BPE encoding under the pinned merge artifact
    "doc_bpe_apply",
    # round 9: ES weighted sampling (WindowGroupLimit per-stratum
    # top-k), directional containment + cross-source matrix over the
    # LSH pair artifact, delta-only incremental dedup, greedy MMR
    # rerank (k-1 materialized state rounds over the broadcast pool)
    "doc_weighted_sample",
    "doc_containment_pairs",
    "doc_dup_source_matrix",
    "doc_dedup_incremental",
    "emb_mmr_diversify",
    # round 10: batch driver of the shared keep-first band-claim policy
    # (the streaming monitor's twin), quality-aware cluster keep, and
    # the per-language tokenizer-fertility audit
    "doc_lsh_claims",
    "doc_dedup_keep_quality",
    "doc_token_fertility",
    # round 10: leakage-safe split — whole near-dup clusters co-assign
    "doc_split_by_cluster",
]

#: TIER 1 — the must-run core: one representative per distinct physical
#: plan family (scan+agg, broadcast join, SMJ ladder, window, LSH band
#: join, HOF pipeline, ANN scan-and-score, argmin downsample, prefix-sum
#: packer, range join, as-of, profile Expand). Round-close runs under a
#: wall budget keep these even when the budget trims the tail; the
#: remaining BENCH_QUERIES entries are TIER 2 — diagnostic variants of an
#: already-represented family (the TPC-H ladder breadth, the recall@5
#:  companions, per-unit dialect variants). SPARK_GRAFT_TIER=core runs
#: tier 1 only (fast iteration); default runs the full list.
TIER1_CORE = frozenset({
    # dialect core + flagship
    "el_agg", "el_avg_group", "el_increments_hour", "el_period",
    "el_include_mixed_schema",
    # join/window/scan families
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q5ish", "tpch_q18ish",
    "topk_per_group", "scalar_subquery", "lineitem_time_scan",
    "events_sessionize", "events_pivot", "events_asof_orders",
    "events_range_join", "orders_bucketed_join",
    # dedup / corpus pipeline
    "doc_exact_dedup", "doc_minhash_pairs", "doc_dedup_clusters",
    "doc_simhash", "doc_winnow_fp", "doc_decontaminate",
    "doc_remove_dup_chunks", "doc_pipeline_train_set",
    # ANN ladder representatives
    "emb_cosine_topk", "emb_ivf_topk", "emb_pq_adc_topk", "emb_sq8_topk",
    "emb_bq_hamming_topk",
    # quality / retrieval / packing / downsample
    "doc_gopher_rules", "doc_bm25_topk", "doc_pack_sequences",
    "events_m4_downsample", "events_profile", "doc_mean_token_rank",
    # streaming-adjacent / stats
    "events_ewma", "events_funnel", "events_quantiles",
    "multimodal_features",
    # sketch family (register/cell/bottom-k merge plans)
    "events_hll_distinct", "doc_heavy_hitters",
    # Gram-accumulation + checkpointed-iteration plan family
    "emb_pca_power",
})


def main() -> None:
    t_main = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # median-of-N per query: single-shot walls at this data size are
    # dominated by janino codegen compiles + GC storms (measured ±3×
    # run-to-run in round 1); the median of 3 measures the plan
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))
    # wall-clock budget with TWO effects: (a) the MAIN timed loop runs
    # pass-interleaved — pass 1 (one sample per query) always
    # completes, passes 2..N stop between queries once past the
    # budget, so every query stays in the artifact with as many
    # samples as fit; (b) the optional sf1 tail only starts while
    # elapsed < budget.
    # Both exist so a harness timeout can never swallow the result
    # line — the 112-query suite measured right at a 600 s cap and
    # lost its JSON twice before the guards. 420 s: the 143-query list
    # at median pace crosses this ~75% in, so the tail degrades and
    # the WHOLE run lands ~470 s — the 600 s cap minus a 1.3×
    # host-load band. At 500 s the measured full wall was 545 s: a
    # loaded host would lose the JSON. Raising SPARK_GRAFT_BUDGET_S
    # buys more 3-run medians AND a longer wall; mind the cap.
    # 440: with pass-interleaving and amortized GC, passes 1+2 of the
    # 146-query list measure ~370 s, the sf1 tail ~60 s — the whole run
    # lands ~460-500 s, inside the 600 s harness cap with a host-load
    # band to spare (r10 validation runs)
    budget_s = float(os.environ.get("SPARK_GRAFT_BUDGET_S", "440"))

    from edgelake_spark import get_spark
    from edgelake_spark.queries import SPARK_QUERIES

    def fresh_session():
        """(Re)build the session and warm the codegen paths. Warming is
        cheap (sf0.001). Its Janino classes stay compiled across the
        timed queries because get_spark sizes the generated-code cache
        (CODEGEN_CACHE_ENTRIES) past the classes this query list
        generates; Spark's default of 100 entries would let later
        queries evict them. The cache and the JIT's code live in the JVM,
        which py4j keeps alive across SparkContext stop/start."""
        spark = get_spark(app_name="edgelake-bench")
        # warm the JVM, parquet footers, and the codegen paths (HOF
        # pipelines + window/cosine exprs) so per-query numbers measure
        # the plans, not first-touch JIT/janino compilation.
        # doc_winnow_fp is here by name: its nested transform(transform())
        # lambda chain JIT was the widest spread in the r2 bench
        warm_dir = "/root/testdata/sf0.001"
        for warm in (
            "rows_count",
            "doc_quality",
            "emb_cosine_topk",
            "doc_simhash",
            "doc_winnow_fp",
            "doc_top_terms",
            # JIT-compiles the kmeans/assign cosine folds; the sf-dir
            # centroid cache itself stays cold here (per-dataset key)
            "emb_ivf_topk",
        ):
            try:
                SPARK_QUERIES[warm](spark, warm_dir).collect()
            except Exception as exc:
                print(f"# warmup {warm} failed: {exc}", file=sys.stderr)
        # touch the TARGET dataset too: footer reads + one scan per big
        # table, so the first timed query after a restart doesn't pay
        # the cold-file penalty (measured ~2x on the first two samples
        # following a SparkContext restart)
        for warm in ("rows_count", "doc_quality"):
            try:
                SPARK_QUERIES[warm](spark, sf_dir).collect()
            except Exception as exc:
                print(f"# warmup {warm}@sf failed: {exc}", file=sys.stderr)
        return spark

    # the CURRENT session lives in this dict: run_pass restarts rebind
    # it, and cleanup() must follow — a closure over a bare `spark`
    # variable kept pointing at the STOPPED session after the first
    # restart and died in listTables (caught by the r10 validation run)
    state = {"qi": 0, "spark": fresh_session()}

    import gc
    import statistics

    def cleanup(force_gc: bool = False) -> None:
        """Free run leftovers: transient `__`-views pin localCheckpoint
        RDD blocks in the block manager (they are only released when the
        plan is unreachable AND the JVM GCs) — accumulated blocks were
        the measured cause of 1→19 s GC-storm variance on the
        checkpoint-heavy queries. The explicit System.gc() costs
        ~0.3-0.5 s; running it after EVERY sample spent ~90 s/pass of
        the wall budget (measured r10), so it now fires every 4th
        sample — view-drop + clearCache (the block RELEASE) stay
        per-sample, the JVM sweep is amortized."""
        s = state["spark"]
        for v in s.catalog.listTables():
            if v.name.startswith("__"):
                s.catalog.dropTempView(v.name)
        s.catalog.clearCache()
        gc.collect()
        state["gc_tick"] = state.get("gc_tick", 0) + 1
        if force_gc or state["gc_tick"] % 4 == 0:
            s.sparkContext._jvm.System.gc()

    # optional subset for iteration: SPARK_GRAFT_QUERIES=a,b,c;
    # SPARK_GRAFT_TIER=core restricts to the TIER1_CORE plan families;
    # SPARK_GRAFT_TIER=sf1 times ONLY the SF1_FAMILIES at sf0.1 then
    # runs the sf1 tail — a full-list run spends its whole wall budget
    # before the tail, so the 10× scaling evidence needs its own entry
    # point (the full run keeps the guarded best-effort tail)
    only = [q for q in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",") if q]
    bench_queries = [q for q in BENCH_QUERIES if not only or q in only]
    tier = os.environ.get("SPARK_GRAFT_TIER", "full")
    if tier == "core" and not only:
        bench_queries = [q for q in bench_queries if q in TIER1_CORE]
    elif tier == "sf1" and not only:
        bench_queries = list(SF1_FAMILIES)

    # restart the SparkContext every N timed SAMPLES: cleanup() alone
    # does not bound accumulated JVM state (shuffle files, block-manager
    # and old-gen growth across a 143-query × 3-pass suite), and that
    # state — not the plans — was the measured cause of mid-suite 2-4×
    # walls (doc_winnow_fp: [7.6, 2.0, 8.4] s at suite position ~30 vs
    # [2.5, 1.6, 1.3, 1.4, 1.2] s in isolation, same code/plan/data).
    # 54 = the r9 cadence (18 queries × 3 back-to-back runs) expressed
    # in samples, matching the pass-interleaved loop's counter.
    restart_every = int(os.environ.get("SPARK_GRAFT_RESTART_EVERY", "54"))

    # PASS-INTERLEAVED sampling (round 10): run the WHOLE list once per
    # pass, up to `runs` passes, checking the wall budget between
    # queries from pass 2 on. The r9 design (median-of-3 back-to-back
    # per query, degrade the remainder to single runs once over budget)
    # always degraded the TAIL of the list — which is exactly the
    # newest operators — to single samples (35/143 in r9), and those
    # lone cold samples produced a false 1.34x "regression" in
    # tools/compare_bench.py. Interleaving instead guarantees every
    # query the same floor: pass 1 always completes (every query needs
    # >=1 sample), pass 2 completes unless 2x the list doesn't fit the
    # budget, pass 3 fills whatever budget remains. Per-query samples
    # are also decorrelated from transient host load (minutes apart
    # instead of back-to-back).
    all_runs: dict[str, list[float]] = {name: [] for name in bench_queries}

    def run_pass(pass_i: int) -> bool:
        """One full pass over the list; returns False if the budget
        stopped it. Pass 1 is unconditional — a query with zero samples
        is a hole in the artifact; later passes stop at the budget,
        leaving every remaining query its earlier-pass samples."""
        for name in bench_queries:
            if pass_i >= 1 and time.perf_counter() - t_main > budget_s:
                print(
                    f"# pass {pass_i + 1} stopped at {name}: wall budget "
                    f"{budget_s:.0f}s reached (SPARK_GRAFT_BUDGET_S)",
                    file=sys.stderr,
                )
                return False
            if restart_every and state["qi"] and state["qi"] % restart_every == 0:
                state["spark"].stop()
                state["spark"] = fresh_session()
            state["qi"] += 1
            t0 = time.perf_counter()
            rows = SPARK_QUERIES[name](state["spark"], sf_dir).collect()
            wall = time.perf_counter() - t0
            cleanup()
            all_runs[name].append(round(wall, 4))
            print(
                f"# pass {pass_i + 1} {name}: {wall:.3f}s ({len(rows)} rows)",
                file=sys.stderr,
            )
        return True

    # passes 1-2 first (the 2-sample floor), then the sf1 tail, then
    # any remaining passes with leftover budget — so a budget-bound
    # round-close run ships BOTH a zero-degraded main section and the
    # 10x scaling section, and only pass 3+ samples are sacrificed
    in_budget = True
    for pass_i in range(min(runs, 2)):
        in_budget = run_pass(pass_i)

    # ---- sf1 scaling tail: the headline families at 10× the data, as
    # local evidence the plans survive an order of magnitude.
    # Synthesized once from sf0.1 (key-shifted replicas) and cached.
    # Runs BETWEEN pass 2 and pass 3 so a budget-bound round-close run
    # ships the scaling section before spending leftovers on samples.
    sf1_timings: dict[str, float] | None = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and not only:
        try:
            sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO_DIR, ".bench_sf1"))
            # a COLD cache means the 10-replica synthesis runs first —
            # require enough remaining budget to cover its measured
            # ~2 min cost, or the synthesis itself would blow through
            # the budget after this check and lose the result line
            cold = not os.path.exists(os.path.join(sf1_dir, "_SF1_READY"))
            margin = 150.0 if cold else 0.0
            if time.perf_counter() - t_main > budget_s - margin:
                raise TimeoutError(
                    f"wall budget {budget_s:.0f}s"
                    f"{' (cold-synthesis margin 150s)' if cold else ''}"
                    " reached before sf1 section"
                )
            _ensure_sfn(state["spark"], sf_dir, sf1_dir)
            sf1_timings = {}
            for name in SF1_FAMILIES:
                if time.perf_counter() - t_main > budget_s:
                    print(
                        f"# sf1 section truncated at {name}: wall budget "
                        f"{budget_s:.0f}s reached (SPARK_GRAFT_BUDGET_S)",
                        file=sys.stderr,
                    )
                    break
                walls = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    SPARK_QUERIES[name](state["spark"], sf1_dir).collect()
                    walls.append(time.perf_counter() - t0)
                    cleanup()
                sf1_timings[name] = round(min(walls), 4)
                base = min(all_runs.get(name) or []) if all_runs.get(name) else None
                ratio = round(sf1_timings[name] / base, 2) if base else None
                print(
                    f"# sf1 {name}: {sf1_timings[name]:.3f}s"
                    f" ({ratio}x the sf0.1 best; data is 10x)",
                    file=sys.stderr,
                )
        except Exception as exc:
            print(f"# sf1 section failed: {exc}", file=sys.stderr)

    # leftover budget → extra main-list passes (3rd and beyond)
    for pass_i in range(2, runs):
        if not in_budget or time.perf_counter() - t_main > budget_s:
            break
        in_budget = run_pass(pass_i)

    # per-query stat: median for >=3 samples (the pass-1 sample is the
    # cold one; the median lands on a warm pass); MIN for 2 samples —
    # median-of-2 is a mean that averages the cold pass-1 sample IN,
    # biasing exactly the queries pass 3 didn't reach. min-of-{cold,
    # warm} is the warm plan cost, comparable with a 3-sample median.
    timings: dict[str, float] = {}
    for name, walls in all_runs.items():
        if len(walls) >= 3:
            timings[name] = round(statistics.median(walls), 4)
        elif walls:
            timings[name] = round(min(walls), 4)
        print(
            f"# {name}: {timings.get(name, float('nan')):.3f}s "
            f"({len(walls)} samples: {[f'{w:.2f}' for w in walls]})",
            file=sys.stderr,
        )

    # capture formatted plans for the slowest queries so perf claims
    # (broadcasts firing, filters pushed) are checkable from the bench
    # artifact, not re-derived by hand. Full-list runs only: a
    # SPARK_GRAFT_QUERIES subset iteration would clobber the round
    # artifact with one query's plan.
    full_run = not only and os.environ.get("SPARK_GRAFT_TIER", "full") == "full"
    # two tiers of capture: top-5 by multi-sample stat (lone cold
    # samples are often cache outliers and shouldn't displace them),
    # PLUS the heaviest single-sample queries whose sample beats the
    # 5th stat — their plans must not be absent from the artifact.
    # Labeled so a reader weighs the sample accordingly. (With the
    # pass-interleaved loop, single-sample queries only exist when
    # even pass 2 outran the budget.)
    undegraded = [n for n in timings if len(all_runs[n]) >= 2]
    pool = undegraded if len(undegraded) >= 5 else list(timings)
    slowest = sorted(pool, key=timings.get, reverse=True)[:5] if full_run else []
    extra = []
    if slowest:
        floor = timings[slowest[-1]]
        degraded_heavy = sorted(
            (n for n in timings if n not in pool and timings[n] > floor),
            key=timings.get,
            reverse=True,
        )
        extra = degraded_heavy[:3]
    if slowest:
        try:
            with open(os.path.join(REPO_DIR, "BENCH_EXPLAIN.txt"), "w") as fh:
                for name in slowest + extra:
                    tag = " [single-sample]" if name in extra else ""
                    fh.write(f"{'=' * 20} {name} ({timings[name]}s{tag}) {'=' * 20}\n")
                    df = SPARK_QUERIES[name](state["spark"], sf_dir)
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
                    fh.write("\n")
        except Exception as exc:
            print(f"# explain capture failed: {exc}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "edgelake_spark headline queries wall time",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": runs,
        # queries whose budgeted passes left only ONE sample (pass 2
        # outran the wall budget) — compare their stats accordingly.
        # The pass-interleaved loop keeps this empty whenever 2x the
        # list fits the budget.
        "degraded_to_single_run": sorted(
            n for n, w in all_runs.items() if len(w) < 2
        ),
        # samples actually taken per query (pass-interleaved; min 1)
        "samples_per_query": {n: len(w) for n, w in all_runs.items()},
        "cpus": state["spark"].sparkContext.defaultParallelism,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sf1_timings is not None:
        result["sf1"] = {
            "queries": sf1_timings,
            "ratio_vs_sf0.1": {
                n: round(sf1_timings[n] / timings[n], 2)
                for n in sf1_timings
                if timings.get(n)
            },
        }

    with open(FULL_RESULT_PATH, "w") as fh:
        json.dump(result, fh)
    print(summary_line(result, FULL_RESULT_PATH))


def summary_line(result: dict, full_path: str) -> str:
    """The last stdout line: the headline numbers and the path of the
    full result. It stays short (well under 1,500 chars) however many
    queries run, so a consumer that keeps only the tail of stdout still
    parses it; the per-query map lives in the full file."""
    walls = [v for v in result["queries"].values() if v > 0]
    geomean = math.exp(sum(map(math.log, walls)) / len(walls)) if walls else 0.0
    return json.dumps({
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "n_queries": len(result["queries"]),
        "geomean_sec": round(geomean, 4),
        "cpus": result["cpus"],
        "sf": result["sf"],
        "degraded": len(result["degraded_to_single_run"]),
        "full": full_path,
    })


#: one representative per headline plan family: broadcast join+agg,
#: LSH band join, map-side HOF pipeline, window sessionize, as-of join
SF1_FAMILIES = [
    "tpch_q3",
    "doc_minhash_pairs",
    "doc_winnow_fp",
    "events_sessionize",
    "events_asof_orders",
    # round-3 families: bucketized range join (longer stream, constant
    # density — see replicate()), and the fused corpus pipeline
    "events_range_join",
    "doc_pipeline_train_set",
    # round-4 families: argmin-aggregate downsampling and the global
    # prefix-sum packer (the one deliberate single-partition window)
    "events_m4_downsample",
    "doc_pack_sequences",
    # round-4 third wave: the chunk-hash first-occurrence window (dup
    # removal) and the scan-and-score retrieval shape
    "doc_remove_dup_chunks",
    "doc_bm25_topk",
    # round-7/8 families: vocabulary-collapsed SQL BPE encode and the
    # additive CMS partition rollup (the mergeable-sketch lifecycle)
    "doc_bpe_apply",
    "events_cms_rollup",
    # round-9 family: ES weighted sampling — per-stratum rank window
    # wrapped in WindowGroupLimit (measured FLAT at 10x: 1.0 -> 0.9 s)
    "doc_weighted_sample",
    # round-9 corpus-scale families (added r10 per the r9 verdict):
    # delta-vs-stored-index incremental dedup, directional containment
    # over the LSH pair artifact, and the cross-source dup matrix
    "doc_dedup_incremental",
    "doc_containment_pairs",
    "doc_dup_source_matrix",
]


def _ensure_sfn(spark, src_dir: str, dst_dir: str, replicas: int = 10) -> None:
    """Synthesize an sfN-scale dataset from sf0.1: `replicas`
    key-shifted copies, keys shifted consistently across tables so join
    fan-out and group sizes scale linearly (not quadratically).
    Document text gets a per-replica alphabet permutation so
    cross-replica rows are NOT near-duplicates — keeping LSH pair
    counts linear in the data. Cached on disk; delete the directory to
    regenerate. replicas=10 → sf1; replicas=100 → sf10 (~60 M lineitem
    rows, the 100× datapoint)."""
    import shutil

    from pyspark.sql import functions as F

    # generation-scheme version in the marker: a scheme change (e.g. the
    # ts-shift in r3 that keeps temporal density constant) must
    # invalidate a previously synthesized directory, or stale data
    # silently benchmarks the old premise
    gen = f"gen=v4-perm-alphabet replicas={replicas}\n"
    marker = os.path.join(dst_dir, "_SF1_READY")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == gen:
                return
        print("# sf1 cache is from an older generation scheme — rebuilding",
              file=sys.stderr)
    print(f"# synthesizing sf1 dataset at {dst_dir} ...", file=sys.stderr)
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)

    from edgelake_spark.catalog import load_parquet

    def src(name):
        return load_parquet(spark, os.path.join(src_dir, f"{name}.parquet"))

    reps = spark.range(replicas).select(F.col("id").alias("__r"))

    def replicate(df, shifts: dict, text_tag: str | None = None):
        """shifts: col → stride; each replica r adds r*stride. Timestamp
        columns take their stride in SECONDS (shifting ts makes the sf1
        stream LONGER at the same event density — the production axis;
        leaving ts unshifted would instead multiply temporal density and
        turn any time-range join quadratic by construction)."""
        out = df.crossJoin(F.broadcast(reps))
        for c, stride in shifts.items():
            if dict(df.dtypes).get(c) == "timestamp":
                out = out.withColumn(
                    c,
                    F.timestamp_micros(
                        F.unix_micros(F.col(c))
                        + F.col("__r") * F.lit(int(stride) * 1_000_000)
                    ),
                )
            else:
                out = out.withColumn(c, F.col(c) + F.col("__r") * F.lit(stride))
        if text_tag:
            # Per-replica ALPHABET PERMUTATION (translate, a bijection
            # on characters). v2 suffixed every token with a short
            # replica marker — enough to de-duplicate word shingles
            # (minhash stayed linear) but NOT char-level similarity:
            # shared winnow fingerprints made replicas of one base doc
            # form 45-pair cliques — doc_winnow_pairs output exploded
            # 397 → 7.4 M rows (measured, round 6). v3 used Caesar
            # rotations, which REPEAT every 26 replicas — at 100
            # replicas (sf10) r and r+26 would be exact char-level
            # near-dups and pair counts quadratic by construction. v4
            # uses a seeded random permutation of [a-zA-Z0-9] per
            # replica: no repetition at any replica count, essentially
            # zero shared letter n-grams / word tokens across replicas,
            # while WITHIN a replica every similarity statistic (char
            # jaccard, shingle sets, winnow fingerprints) is EXACTLY
            # the base corpus's — translate is an isomorphism on the
            # gram space. Text length, token boundaries, and token
            # counts are all preserved (punctuation/whitespace pass
            # through), so per-doc compute cost is unchanged. Digits
            # permute too: winnow fingerprints hash RAW k-grams, and
            # un-permuted digit runs ≥ K+W-1 chars gave every replica
            # set a shared fingerprint clique — measured 5 → 621 k
            # pairs at 10× before digits were included.
            import random
            import string

            alphabet = string.ascii_lowercase + string.ascii_uppercase + string.digits
            # flat CaseWhen (one node, replicas-1 branches), not a
            # nested chain — keeps analysis/codegen shallow at 100
            expr = None
            for r in range(1, replicas):
                chars = list(alphabet)
                random.Random(0xE1 * r).shuffle(chars)
                perm = "".join(chars)
                branch = (F.col("__r") == r, F.translate(F.col(text_tag), alphabet, perm))
                expr = F.when(*branch) if expr is None else expr.when(*branch)
            if expr is not None:
                out = out.withColumn(text_tag, expr.otherwise(F.col(text_tag)))
        return out.drop("__r")

    def stride_of(df, col):
        return df.agg(F.max(col)).collect()[0][0] + 1

    cust, orders, li, ev, docs = (
        src("customer"), src("orders"), src("lineitem"), src("events"), src("documents")
    )
    cust_stride = stride_of(cust, "c_custkey")
    order_stride = stride_of(orders, "o_orderkey")
    ev_stride = stride_of(ev, "event_id")
    doc_stride = stride_of(docs, "doc_id")

    jobs = {
        "customer": replicate(cust, {"c_custkey": cust_stride}),
        "orders": replicate(orders, {"o_orderkey": order_stride, "o_custkey": cust_stride}),
        "lineitem": replicate(li, {"l_orderkey": order_stride}),
        # user_id joins orders.o_custkey (events_asof_orders), so it must
        # shift by the SAME stride as o_custkey or replica-r events would
        # probe replica-0's orders only.
        "events": replicate(ev, {"event_id": ev_stride, "user_id": cust_stride, "ts": 35 * 86400}),
        "documents": replicate(
            docs, {"doc_id": doc_stride}, text_tag="text"
        ).withColumn("n_chars", F.length("text").cast("long")),
    }
    # more output files at higher replica counts so each stays a sane
    # split size (sf10 lineitem is ~60 M rows / ~1.1 GB)
    n_files = 32 if replicas <= 10 else 128
    for name, df in jobs.items():
        df.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{name}.parquet")
        )
    # small dims + embeddings pass through unscaled
    for name in ("region", "nation", "supplier", "part", "embeddings"):
        p = os.path.join(src_dir, f"{name}.parquet")
        if os.path.exists(p):
            dst = os.path.join(dst_dir, f"{name}.parquet")
            if os.path.isdir(p):
                shutil.copytree(p, dst)
            else:
                shutil.copy(p, dst)
    with open(marker, "w") as fh:
        fh.write(gen)
    print("# sf1 dataset ready", file=sys.stderr)


if __name__ == "__main__":
    main()
