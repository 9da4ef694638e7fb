"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line. Each query is forced through the noop sink so the full plan
(including projections) executes — count() alone would let column pruning
skip the work being measured.

Each query is first warmed once at sf0.01 (~60k rows): generated codegen
classes are keyed by their generated source, not file paths, so the
small-scale run compiles and JIT-compiles the classes the timed run uses
(sf0.001 was too few row-iterations to trigger C2 compilation of the hot
loops). Those classes are still there at the timed run only because
``get_spark`` sizes Spark's generated-class cache to hold them: the 54
queries need 727, and under Spark's default of 100 entries the queries
run between a query's warm run and its timed run evicted its classes, so
each pass recompiled ~930 classes and ran them before the JIT had.
Timed runs are the best of 3 interleaved passes: in a shared local JVM
the C2 compiler threads compete with the executor threads, adding 2-4×
jitter to individual runs that a 1000-executor cluster (dedicated JVMs,
long-lived hot code) would not see. The reported numbers are steady-state
throughput, not one-time plan-compilation latency. The ``E2E_STAGE``
chains are reported apart, each the best of 2 interleaved runs."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stglib_spark import queries as registry
from stglib_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "qaqc_min_max",
    "qaqc_diff_rules",
    "qaqc_med_diff",
    "qaqc_fliers",
    "ts_gap_fill_hourly",
    "ts_asof_atmos_correct",
    "ts_burst_average",
    "phys_dispersion_qkfs",
    "coord_beam2enu",
    "wave_stats_welch",
    "text_quality_score",
    "text_lang_id",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_token_jaccard",
    "dedup_clusters",
    "sim_cosine_topk",
    "sim_embedding_neardup",
    # LLM-corpus hot path: at 100 TB packing / budget sampling /
    # boilerplate removal dominate wall-clock, so regressions here must
    # be visible in the per-round artifact
    "corpus_pack_sequences",
    "corpus_budget_sample",
    "corpus_remove_boilerplate",
    "corpus_remove_dup_spans",
    # crawl-ingest front door: quality gating and batch-vs-index dedup
    # run on every arriving batch before anything above touches it
    "corpus_quality_funnel",
    "dedup_incremental_batch",
    # analytics tier: iterative k-means, PQ-ADC
    # top-k, bigram LM scoring, HTML extraction, and sessionization —
    # the per-query artifact must expose regressions in the Python-side
    # iteration drivers and the regex/window hot paths too
    "sim_kmeans_assign",
    "sim_pq_adc_topk",
    "text_bigram_logprob",
    "text_html_extract",
    "ts_sessionize",
    # corpus-audit sketches + the near-dup ingest gate (new in r7)
    "corpus_kmv_distinct",
    "corpus_hist_percentiles",
    "dedup_incremental_near",
    # semantic dedup (SemDeDup): cluster + GEMM prune — the most
    # compute-dense curation stage, must stay visible per round
    "dedup_semantic",
    # new in r8: pixel-level perceptual-hash near-dedup (decode + dHash
    # + pigeonhole pairing) and the end-to-end ingest→clean pipeline
    # composition (two zone writes + the full clean operator chain)
    "mm_phash_neardup",
    "mm_video_phash_neardup",
    "e2e_rbr_clean_roundtrip",
    # new in r10: substring-level near-dup candidates from winnowing
    # fingerprints (rolling-hash pandas-UDF kernel + guarded bucket join)
    "dedup_winnow_candidates",
    # new in r11: the match-reporting half (position-carrying
    # fingerprints + diagonal span coalescing — two extra window
    # exchanges over the candidates chain, must stay visible per round)
    "dedup_winnow_spans",
    # new in r11: DSIR literal-map scoring (one corpus scan) and the
    # Count-Min frequency audit (two token passes + bounded counter agg)
    "corpus_dsir_weights",
    "corpus_cms_heavy_hitters",
    # new in r11 (late): HyperLogLog distinct audit (token explode +
    # bounded register MAX) and the Bloom ingest gate (bounded bit
    # table + broadcast probe join)
    "corpus_hll_distinct",
    "dedup_bloom_gate",
    # new in r11 (late): KMV multiset ops — cross-split union/Jaccard/
    # intersection estimates (two TakeOrdered sketches + a 2k-row merge)
    "corpus_kmv_overlap",
    # new in r11 (late): cluster-quality audit (r12: drives run_dedup
    # and audits its persisted verified-pairs + components zones) and
    # the Good-Turing token spectrum
    "dedup_cluster_quality",
    "corpus_token_spectrum",
    # new in r11 (late): the acoustic dHash completing the image/video/
    # audio perceptual-hash triple (WAV decode + energy-delta hash in
    # one mapInPandas projection + pigeonhole pairing)
    "mm_audio_phash_neardup",
    # new in r14: Seagauge tide averaging — derived-key partial agg +
    # broadcast grid join; the r14 semantics re-pin must stay visible
    "ts_sg_tide_average",
    # new in r12: the DIWASP cutoff+tail analytic oracle, the per-rule
    # QA/QC affected-count audit table, and the quality-score ROC-AUC
    "wave_dspec_tail_oracle",
    "qaqc_notes_audit",
    "corpus_quality_auc",
    "corpus_quality_pr_sweep",
]

# Stage-composition oracles: timed in two interleaved passes, each
# chain's best of 2 (a single pass drifted up to 1.6x between runs of
# the same code), and reported as a SEPARATE column — their wall time
# is dominated by fixed zone write/read cycles (the restartable-layout
# contract) plus synthesized fixed-size corpora, so it is near-constant
# across scale factors. Keeping them out of `value`/`value_baseline_set` keeps the
# round-over-round totals apples-to-apples while making data-cost drift
# in the stage plumbing visible per round.
E2E_STAGE = [
    "e2e_attrs_fidelity_roundtrip",
    "e2e_diwasp_roundtrip",
    "e2e_diwasp_imlm_roundtrip",
    "e2e_diwasp_nd_roundtrip",
    "e2e_sonar_xy_roundtrip",
    "e2e_glx_waves_roundtrip",
    "e2e_pressure_waves_roundtrip",
    "e2e_puv_waves_roundtrip",
    "e2e_cli_export_nc_roundtrip",
    "e2e_corpus_all_packs",
    "e2e_media_dedup_clusters",
    # new in r14: the s_diwasp-a.nc export-fidelity chain incl. the 3-D
    # dspec nc roundtrip
    "e2e_diwasp_export_fidelity",
    # new late-r14: the sonar sweep-averaged companion product
    # (.81R files -> sweep sets -> clean -> sonavg zone)
    "e2e_son_average_roundtrip",
]
E2E_RUNS = 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("stglib-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers, then each plan's codegen classes at
    # a small scale factor; the session's generated-class cache holds all
    # the headline queries' classes (session._session_confs), so they are
    # reused, JIT-compiled, in the timed passes
    registry.QUERIES["q1_pricing_summary"](spark, sf_dir).count()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        registry.QUERIES[name](spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # three interleaved passes, per-query min: back-to-back runs of the
    # same query share any transient GC/JIT-compile storm, so spreading
    # the runs across passes decorrelates the minima; the md5-heavy dedup
    # chains showed 2x run-to-run swings with only two passes
    times: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            times[name] = round(min(times.get(name, dt), dt), 3)

    total = round(sum(times.values()), 3)
    # the headline set has grown since round 1 (corpus/cluster queries
    # added in r4/r5); value_baseline_set is the subtotal over the
    # original 20-query set so round-over-round and vs-baseline
    # comparisons stay apples-to-apples. The per-round result files this
    # set was compared against are only in git history now; the one
    # committed map is BENCH_FULL_latest.json
    later_additions = {
        "dedup_clusters",
        "corpus_pack_sequences",
        "corpus_budget_sample",
        "corpus_remove_boilerplate",
        "corpus_remove_dup_spans",
        "corpus_quality_funnel",
        "dedup_incremental_batch",
        "sim_kmeans_assign",
        "sim_pq_adc_topk",
        "text_bigram_logprob",
        "text_html_extract",
        "ts_sessionize",
        "corpus_kmv_distinct",
        "corpus_hist_percentiles",
        "dedup_incremental_near",
        # r8 additions (kept out so value_baseline_set stays comparable
        # to rounds 1-7; dedup_semantic predates this guard and is left
        # IN to match how r7's operative number was computed)
        "mm_phash_neardup",
        "mm_video_phash_neardup",
        "e2e_rbr_clean_roundtrip",
        "dedup_winnow_candidates",
        # r11 additions — without these the baseline-set subtotal the
        # driver gates against r1 silently absorbs every new headline
        # row (dedup_winnow_spans alone is the heaviest row in the
        # suite); the first three were missed when their rows joined
        # the headline mid-r11
        "dedup_winnow_spans",
        "corpus_dsir_weights",
        "corpus_cms_heavy_hitters",
        "corpus_hll_distinct",
        "dedup_bloom_gate",
        "corpus_kmv_overlap",
        "dedup_cluster_quality",
        "corpus_token_spectrum",
        "mm_audio_phash_neardup",
        # r12 additions
        "wave_dspec_tail_oracle",
        "qaqc_notes_audit",
        "corpus_quality_auc",
        "corpus_quality_pr_sweep",
        # r14 additions
        "ts_sg_tide_average",
    }
    baseline_set = round(
        sum(v for k, v in times.items() if k not in later_additions), 3
    )

    # best-of-2 stage-oracle column (fixed zone-write overhead; see
    # E2E_STAGE comment). e2e_rbr_clean_roundtrip stays in the headline
    # loop for continuity with the r8 headline.
    e2e_times: dict[str, float] = {}
    for _ in range(E2E_RUNS):
        for name in E2E_STAGE:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            e2e_times[name] = round(min(e2e_times.get(name, dt), dt), 3)

    # --- artifact layout: a harness that keeps a fixed-size TAIL of
    # stdout lost the headline totals in r12, once the full per-query
    # map outgrew that tail. The printed line now (a) carries only the
    # r1-comparable baseline set of per-query rows instead of all ~55,
    # and (b) orders the totals LAST so a tail capture can never lose
    # them. The COMPLETE per-query
    # map is written to BENCH_FULL_latest.json next to this script.
    printed_queries = {
        k: v for k, v in times.items() if k not in later_additions
    }
    payload = {
        "metric": "total_headline_query_seconds",
        "unit": "sec",
        "sf": sf,
        "queries": printed_queries,
        "e2e_stage_queries": e2e_times,
        "e2e_stage_best_of": E2E_RUNS,
        "e2e_stage_total": round(sum(e2e_times.values()), 3),
        "value_baseline_set": baseline_set,
        "value": total,
    }
    full = dict(payload)
    full["queries"] = times
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_latest.json"
    )
    with open(full_path, "w", encoding="utf-8") as f:
        json.dump(full, f)
    line = json.dumps(payload)
    # hard guard: the driver tail window is 2000 chars; leave headroom
    assert len(line) < 1800, (
        f"bench JSON line {len(line)} chars — rotate rows out of the "
        "printed window"
    )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
