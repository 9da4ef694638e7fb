"""Physical-plan regression tests: the SCALE.md claims, enforced.

Each test asserts a property of the optimized plan that the 100 TB
design depends on — column pruning reaching the scan, dimension joins
broadcasting, QA/QC compiling to shuffle-free projections, top-k
compiling to TakeOrderedAndProject, and no single-partition exchange
ever feeding on fact-table rows. A regression here is a scale bug even
when results stay correct.
"""

from __future__ import annotations

import re

import pytest

from stglib_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    """'formatted' carries ReadSchema/PushedFilters; 'simple' keeps the
    Exchange partitioning spec inline (formatted splits it into an
    Arguments section)."""
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def count(plan: str, pat: str) -> int:
    return len(re.findall(pat, plan))


def test_q1_prunes_columns_at_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    # 7 needed columns, not all 16 of lineitem
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert "l_quantity" in cols and "l_returnflag" in cols
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q5_joins_all_broadcast(spark):
    plan = plan_of(spark, "q5_nation_revenue")
    assert count(plan, r"BroadcastHashJoin") >= 4
    assert count(plan, r"SortMergeJoin") == 0


def test_qaqc_value_rules_have_no_exchange(spark):
    """Value-gate rules are one projection — zero shuffles at any scale."""
    plan = plan_of(spark, "qaqc_min_max")
    assert count(plan, r"Exchange") == 0


def test_qaqc_ordered_rules_share_one_series_exchange(spark):
    """Diff/blip rules share a single (series)-partitioned exchange."""
    plan = plan_of(spark, "qaqc_diff_rules", "simple")
    assert count(plan, r"Exchange hashpartitioning") == 1
    assert count(plan, r"Exchange SinglePartition") == 0


def test_topk_compiles_to_take_ordered(spark):
    for name in ("sim_cosine_topk", "sim_ann_ivf_topk"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert count(plan, r"Exchange") == 0, name


def test_asof_join_never_windows_fact_rows(spark):
    """The only SinglePartition exchange in the as-of plan feeds on the
    bucket-summary aggregate, never on the events scan."""
    plan = plan_of(spark, "ts_asof_atmos_correct")
    assert count(plan, r"SortMergeJoin") == 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i : i + 6])
            # the subtree under the exchange must be the per-bucket
            # summary projection (bucket key + carried struct)
            assert "__bk" in below, below


def test_burst_average_single_aggregate_exchange(spark):
    plan = plan_of(spark, "ts_burst_average", "simple")
    assert count(plan, r"Exchange hashpartitioning") == 1
    assert count(plan, r"HashAggregate") == 2  # partial + final (map-side combine)


def test_minhash_lsh_band_join_is_equi_join(spark):
    """LSH candidate pairing is an equi-join on (band, hash) — no
    cartesian/broadcast-nested-loop anywhere."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0


def test_token_jaccard_verify_has_no_cross_join(spark):
    """The registered dedup_token_jaccard is the LSH→verify chain: every
    join is an equi-join (band-hash buckets, then doc_id lookups) — no
    theta/cross join ever touches document rows, and the verifier has no
    all-pairs fallback: ``candidate_pairs`` is a required argument."""
    plan = plan_of(spark, "dedup_token_jaccard")
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0

    import inspect

    from stglib_spark.operators import dedup as dedup_ops

    param = inspect.signature(dedup_ops.ngram_jaccard_pairs).parameters[
        "candidate_pairs"
    ]
    assert param.default is inspect.Parameter.empty


def test_real_bmp_decode_prunes_to_doc_id(spark):
    """The real-codec multimodal query synthesizes payloads from doc_id —
    the parquet scan must prune to that single column (never drag `text`
    or `embedding` through the Arrow boundary)."""
    plan = plan_of(spark, "mm_decode_real_bmp")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert m.group(1) == "doc_id:bigint", m.group(1)


def test_text_quality_is_pure_projection(spark):
    plan = plan_of(spark, "text_quality_score", "simple")
    # spread() may add one round-robin repartition; nothing else shuffles
    assert count(plan, r"Exchange hashpartitioning") == 0
    assert count(plan, r"Exchange SinglePartition") == 0


def test_profile_assignment_broadcasts_windows(spark):
    """Cast segmentation (sources.csv.assign_profiles) must join the
    observation stream against a BROADCAST window table — a shuffle of
    the observations on a range predicate would serialize the 100 TB
    scan."""
    import pandas as pd

    from stglib_spark.sources.csv import assign_profiles

    df = spark.range(1000).selectExpr(
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) as time",
        "cast(id as double) as P_1",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    ev = os.path.join(d, "x_events.txt")
    pd.DataFrame(
        {
            "Time": ["2024-01-01 00:01:00", "2024-01-01 00:05:00"],
            "Type": ["sampling started", "sampling paused"],
        }
    ).to_csv(ev, index=False)
    out = assign_profiles(spark, df, {"events_path": ev})
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the observation side must not be exchanged for the join
    assert "SortMergeJoin" not in plan, plan


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan


def test_q10_broadcasts_dims_and_takes_ordered(spark):
    plan = plan_of(spark, "q10_returned_items")
    assert count(plan, r"BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    m = re.search(r"PushedFilters: \[([^\]]*l_returnflag[^\]]*)\]", plan)
    assert m, plan


def test_real_png_and_avi_queries_prune_to_doc_id(spark):
    """The round-4 real-codec queries synthesize payloads from doc_id —
    the parquet scan must prune to that single column."""
    for name in ("mm_decode_real_png", "mm_video_frames_real"):
        plan = plan_of(spark, name)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        assert m.group(1) == "doc_id:bigint", (name, m.group(1))


def test_spectral_oracles_never_single_partition(spark):
    """The analytic spectral/IIR oracle queries window and aggregate per
    burst — partitioned exchanges only, never a global window over fact
    rows, never a cartesian."""
    for name in (
        "wave_psd_welch_oracle",
        "wave_puv_azimuth_oracle",
        "filt_iir_recursion_oracle",
    ):
        plan = plan_of(spark, name, "simple")
        assert "Exchange SinglePartition" not in plan, name
        assert count(plan, r"CartesianProduct") == 0, name
        assert count(plan, r"BroadcastNestedLoopJoin") == 0, name


def test_minhash_shingle_expression_not_double_computed(spark):
    """The shingle expression must stay fused inside the Generate: if it
    is aliased in a Project first, InferFiltersFromGenerate adds a
    size()>0 filter on the alias and pushdown substitutes the full O(n·L)
    shingle expression into the Filter — computing it twice per row
    (measured 1.6× on the LSH bench query). One zip_with chain per
    consumer branch of the pinned repartition(band, bh) exchange —
    with the default two-center star: pair-join left probe, its census
    build, the second-center (__mn2) probe, that branch's own census
    build, and the pair-join right = five static branches; at runtime
    they all hang off the one pinned exchange, which AQE's exchange
    reuse (plus empty-relation folding of the no-oversize census and
    __mn2 subtrees) collapses so the chain EXECUTES once — pinned
    below."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert count(plan, r"zip_with\(zip_with") == 5

    from stglib_spark.queries import QUERIES

    df = QUERIES["dedup_minhash_lsh"](spark, SF)
    df.collect()  # finalize THIS DataFrame's adaptive plan
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in final, final
    final = final.split("== Initial Plan ==")[0]
    # the banding/shingle chain executes once: the pair join's right side
    # reads a ReusedExchange of the pinned repartition, and with no
    # oversize buckets at this SF, AQE's PropagateEmptyRelation collapses
    # the broadcast-oversize annotate join into a null-column Project on
    # the probe (the census stage ran once as the empty build side and
    # vanished from the final plan) — the r10 degenerate-case contract
    assert count(final, r"zip_with\(zip_with") == 1, final
    assert count(final, r"ReusedExchange") >= 1, final
    assert count(final, r"BroadcastHashJoin|cast\(null as bigint\) AS") >= 1, final


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set is broadcast: the corpus-side gram stream
    joins it without a shuffle (no SortMergeJoin anywhere in the plan)."""
    plan = plan_of(spark, "corpus_decontaminate")
    assert count(plan, r"BroadcastHashJoin") >= 1
    assert count(plan, r"SortMergeJoin") == 0
    assert count(plan, r"CartesianProduct") == 0


def test_pack_sequences_windows_per_shard(spark):
    """Sequence packing must never serialize the corpus through a global
    window: the cumsum window partitions by shard (hashpartitioning
    exchange), and the new elev/DFTM oracles likewise stay per-burst."""
    for name in (
        "corpus_pack_sequences",
        "wave_elev_stats_oracle",
        "wave_dftm_plane_oracle",
    ):
        plan = plan_of(spark, name, "simple")
        assert "Exchange SinglePartition" not in plan, name
        assert count(plan, r"CartesianProduct") == 0, name


def test_embedding_grid_is_single_hash_aggregate(spark):
    """The grid-dedup shuffle carries (code, partials), never embeddings:
    exactly one exchange, keyed on the grid code, with a partial
    aggregate below it."""
    plan = plan_of(spark, "dedup_embedding_grid", "simple")
    assert count(plan, r"Exchange hashpartitioning\(grid_code") == 1
    assert count(plan, r"partial_count") == 1  # map-side combine below it
    assert "Exchange SinglePartition" not in plan


def test_token_census_broadcasts_grand_total(spark):
    """The 1-row grand-total side of the census joins back as a broadcast
    nested-loop (1-row cross), never a shuffled join."""
    plan = plan_of(spark, "corpus_token_census", "simple")
    assert count(plan, r"SortMergeJoin") == 0
    assert count(plan, r"Exchange SinglePartition") <= 1  # 1-row total agg only


def test_new_tpch_shapes(spark):
    """Round-4 relational additions keep their scale shapes: semi/anti
    joins never degrade to cartesian, top-N compiles to TakeOrdered, the
    Q15 max is a 1-row broadcast (no global sort of the aggregate)."""
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan and count(plan, r"CartesianProduct") == 0

    plan = plan_of(spark, "q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan

    plan = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan
    assert count(plan, r"CartesianProduct") == 0

    plan = plan_of(spark, "q15_top_supplier")
    assert count(plan, r"Sort \[total_rev") == 0  # max via broadcast, not sort

    plan = plan_of(spark, "q7_nation_volume")
    assert count(plan, r"BroadcastHashJoin") >= 4
    assert count(plan, r"SortMergeJoin") == 0


def test_gemm_neardup_pins_partition_count(spark):
    """The bucketed-GEMM stage is compute-bound with tiny shuffle bytes,
    so its exchange must be user-specified (REPARTITION_BY_NUM) — AQE's
    byte-size coalescing would collapse it to a handful of tasks
    (measured 4 tasks / 2-10x slowdown at sf1)."""
    plan = plan_of(spark, "sim_embedding_neardup", "simple")
    assert "REPARTITION_BY_NUM" in plan
    # exactly one exchange: the pinned hash repartition doubles as the
    # applyInPandas clustering (no second groupBy exchange, no round-robin)
    assert count(plan, r"Exchange") == 1


def test_q8_q21_shapes(spark):
    """Q8: all six dimension joins broadcast. Q21: the decorrelated
    EXISTS/NOT EXISTS pair is equi-joins only — no cartesian, and the
    order-cardinality stats table is NOT broadcast (it scales with the
    fact table)."""
    plan = plan_of(spark, "q8_market_share")
    assert count(plan, r"BroadcastHashJoin") >= 5
    assert count(plan, r"SortMergeJoin") == 0

    plan = plan_of(spark, "q21_waiting_supplier", "simple")
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0
    assert "TakeOrderedAndProject" in plan
    # the order-cardinality stats table joins back on the order key as a
    # co-partitioned SortMergeJoin — a BroadcastHashJoin on that key pair
    # would mean someone re-broadcast a fact-sized side
    assert count(plan, r"SortMergeJoin \[l_orderkey[^\]]*\], \[l_orderkey") == 1
    assert count(plan, r"BroadcastHashJoin \[l_orderkey[^\]]*\], \[l_orderkey[^\]]*\], Inner, BuildRight, false") == 0


def test_partsupp_free_tpch_shapes(spark):
    """The five partsupp-adapted TPC-H shapes (Q2/Q9/Q11/Q16/Q20) keep
    their scale-safe plans: no cartesian or nested-loop joins outside
    the deliberate 1-row scalar broadcast, anti/semi joins stay
    key-equi, and top-N compiles to TakeOrderedAndProject."""
    # Q2: decorrelated min back-join on (partkey, price) — equi only
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0
    assert "TakeOrderedAndProject" in plan

    # Q9: every dim (part/supplier/nation) broadcasts; the profit
    # aggregate is a single hash exchange
    plan = plan_of(spark, "q9_product_profit", "simple")
    assert count(plan, r"BroadcastHashJoin") >= 3
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"Exchange SinglePartition") == 0

    # Q11: the only nested-loop join is the deliberate 1-row avg
    # broadcast (the Q22 scalar pattern); the only single-partition
    # exchange feeds that 1-row aggregate, never part rows
    plan = plan_of(spark, "q11_important_stock", "simple")
    assert count(plan, r"BroadcastNestedLoopJoin") == 1
    assert count(plan, r"Exchange SinglePartition") == 1
    assert count(plan, r"CartesianProduct") == 0

    # Q16: NOT IN compiles to a broadcast LeftAnti, top-N to TakeOrdered
    plan = plan_of(spark, "q16_supplier_part_count")
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert count(plan, r"CartesianProduct") == 0

    # Q20: the IN list is a LeftSemi; the two-level aggregate joins
    # back on partkey as equi joins only
    plan = plan_of(spark, "q20_dominant_shipper")
    assert "LeftSemi" in plan
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0


def test_remove_dup_spans_no_cartesian_no_text_shuffle_before_mask(spark):
    """Duplicate-span removal: every join is an equi-join (no cartesian /
    nested-loop), and the only exchanges before the final mask join
    carry hashed grams or integer positions — the text column appears in
    exactly the scan side of the last doc_id join, never under the
    gram-frequency or mask aggregates."""
    plan = plan_of(spark, "corpus_remove_dup_spans")
    assert count(plan, r"CartesianProduct") == 0
    assert count(plan, r"BroadcastNestedLoopJoin") == 0
    # the gram-frequency aggregate groups on the 64-bit hash, not text
    assert "xxhash64" in plan


def test_pq_adc_topk_scan_speed_and_partial_topk(spark):
    """PQ ADC search: encoding + LUT lookups are one shuffle-free
    projection over the scan, and the top-k compiles to
    TakeOrderedAndProject (partial top-k per partition) — the full plan
    has no exchange other than the top-k's own singlePartition gather."""
    plan = plan_of(spark, "sim_pq_adc_topk")
    # formatted mode prints the node in the tree and the detail section
    assert count(plan, r"TakeOrderedAndProject") >= 1
    assert count(plan, r"Exchange") == 0
    assert count(plan, r"CartesianProduct|SortMergeJoin|BroadcastHashJoin") == 0


def test_pps_sample_is_one_shuffle_free_pruned_scan(spark):
    """PPS sampling is a codegen'd filter over the scan: zero exchanges,
    and the text body is pruned out of the parquet read (the membership
    test needs only id + size)."""
    plan = plan_of(spark, "corpus_pps_sample")
    assert count(plan, r"Exchange") == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1), plan
    assert "n_chars" in m.group(1)


def test_shard_manifest_single_aggregate_exchange(spark):
    """The shard manifest is one hash aggregate with map-side combine:
    the shuffle carries n_shards partial rows per task, never documents,
    and the text column never leaves the parquet footer."""
    plan = plan_of(spark, "corpus_shard_manifest", "simple")
    assert count(plan, r"Exchange hashpartitioning") == 1
    assert count(plan, r"HashAggregate") == 2  # partial + final
    plan_f = plan_of(spark, "corpus_shard_manifest")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_f)
    assert m and "text" not in m.group(1), plan_f


def test_url_canonical_dedup_one_key_exchange_no_text_read(spark):
    """URL-canonical dedup shuffles once on the canonical key for the
    keep-best window; the document body is never read (the key derives
    from id + source metadata)."""
    plan = plan_of(spark, "dedup_url_canonical", "simple")
    assert count(plan, r"Exchange hashpartitioning") == 1
    assert count(plan, r"Exchange SinglePartition") == 0
    plan_f = plan_of(spark, "dedup_url_canonical")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_f)
    assert m and "text" not in m.group(1), plan_f


def test_incremental_dedup_is_digest_anti_join(spark):
    """Incremental ingest dedup: the index probe is a LEFT ANTI join on
    the digest — no cartesian/nested-loop over corpus rows, and the
    batch body is digested before any exchange (shuffles carry digests,
    not text)."""
    plan = plan_of(spark, "dedup_incremental_batch")
    assert "LeftAnti" in plan
    assert count(plan, r"CartesianProduct") == 0
    # text never appears as a shuffle output attribute
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_tfidf_keywords_broadcasts_corpus_size(spark):
    """TF-IDF: the corpus-size scalar enters as a broadcast 1-row table
    (never a driver collect), the term join is an equi join, and no
    cartesian product over corpus rows exists."""
    plan = plan_of(spark, "text_tfidf_keywords", "simple")
    assert count(plan, r"CartesianProduct") == 0
    # the only nested-loop is the broadcast of the 1-row count
    assert count(plan, r"BroadcastNestedLoopJoin") <= 1
    assert "Window" in plan
    # the tf table is cached: both the df aggregate and the join probe
    # read it, so the corpus is exploded ONCE (InMemoryRelation in plan)
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    # partial top-k before the window shuffle (WindowGroupLimit)
    assert count(plan, r"WindowGroupLimit") >= 1


def test_kmv_ungrouped_is_take_ordered(spark):
    """The ungrouped KMV path must compile to TakeOrderedAndProject
    (per-task local top-k), never a single-partition window exchange
    over every distinct hash (the ADVICE r6 scale bug)."""
    from pyspark.sql import functions as F

    from stglib_spark.operators.dedup import normalize_text
    from stglib_spark.operators.sketches import kmv_distinct
    from stglib_spark.operators.text import tokens
    from stglib_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("tok")
    )
    df = kmv_distinct(toks, "tok", None, k=64)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert count(plan, r"Exchange SinglePartition") == 0, plan


def test_hist_percentiles_shuffle_carries_bins_not_rows(spark):
    """The histogram sketch's exchanges hash-partition on the grouping
    (and bin) keys with map-side partial aggregation — the shuffle
    width is bins x groups, never corpus rows. No single-partition
    exchange, no window over the data."""
    plan = plan_of(spark, "corpus_hist_percentiles")
    assert count(plan, r"Exchange SinglePartition") == 0, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), plan
    assert "Window" not in plan, plan


def test_incremental_near_has_no_self_or_cross_join(spark):
    """The cross-corpus band join must be an equi-join (hash-partitioned
    or broadcast) — never a CartesianProduct / BroadcastNestedLoopJoin,
    and document TEXT must not pass through the band-join shuffle."""
    plan = plan_of(spark, "dedup_incremental_near")
    assert count(plan, r"CartesianProduct") == 0, plan
    assert count(plan, r"BroadcastNestedLoopJoin") == 0, plan


def test_ivf_recall_is_two_topk_plans(spark):
    """Index-quality evaluation = two TakeOrderedAndProject scans joined
    on k-row sets; no global sort of the corpus."""
    plan = plan_of(spark, "sim_ivf_recall")
    assert count(plan, r"\(\d+\) TakeOrderedAndProject") == 2, plan
    assert count(plan, r"\(\d+\) Sort\b") == 0, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semantic_dedup_gated_drop_set_no_global_pairs(spark):
    """SemDeDup: the within-cluster pair stage is an applyInPandas over
    the cluster key (FlatMapGroupsInPandas, never a self-join over all
    embeddings — no CartesianProduct), and the drop-set anti-join is
    SIZE-GATED: broadcast only under the counted _SEMDEDUP_BCAST_MAX
    (at test scale the gate picks broadcast), never forced — the drop
    set is O(N) in the worst case, so an unconditional F.broadcast
    would OOM at 100-TB scale."""
    plan = plan_of(spark, "dedup_semantic")
    assert count(plan, r"CartesianProduct") == 0, plan
    assert "LeftAnti" in plan, plan
    # the drop set is localCheckpoint-ed for the size gate, which
    # truncates its lineage out of the final plan — assert the pair
    # stage's shape (grouped Arrow GEMM, no self-join) directly
    from stglib_spark.operators import similarity as sim_ops
    from stglib_spark.queries import _KM_K, _SEMDEDUP_T, load_table

    emb = load_table(spark, SF, "embeddings")
    seeds = sim_ops.ivf_seed_centroids(emb, _KM_K)
    asg = sim_ops.ivf_assign(emb, seeds).select(
        "vec_id", "ivf_cell", "embedding"
    )
    pairs = sim_ops.pairwise_topk_within(
        asg, group_col="ivf_cell", threshold=_SEMDEDUP_T
    )
    pplan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "FlatMapGroupsInPandas" in pplan, pplan
    assert count(pplan, r"CartesianProduct") == 0, pplan
    # pin the gate in source: broadcast must be conditional on the count
    import inspect

    import stglib_spark.queries as q

    src = inspect.getsource(q.dedup_semantic.__wrapped__ if hasattr(
        q.dedup_semantic, "__wrapped__") else q.dedup_semantic)
    assert "_SEMDEDUP_BCAST_MAX" in src, "drop-set broadcast must be size-gated"
    assert "join(F.broadcast(" not in src, "broadcast must not be forced"


def test_phash_neardup_bucketed_pairing_no_all_pairs(spark):
    """Image perceptual-hash near-dup: decode+hash is one MapInPandas
    projection (payloads never shuffle), pairing is the pigeonhole
    block EQUI-join on 16-bit hash blocks — never a cartesian /
    nested-loop all-pairs comparison."""
    plan = plan_of(spark, "mm_phash_neardup")
    assert count(plan, r"CartesianProduct") == 0, plan
    assert count(plan, r"BroadcastNestedLoopJoin") == 0, plan
    # r14: the decode+hash kernel is lazily materialized (localCheckpoint
    # in multimodal.phash_near_pairs) so the census and pair
    # branches share ONE kernel execution — the kernel then appears as a
    # Scan ExistingRDD leaf instead of an inline MapInPandas node; both
    # forms keep payloads out of every shuffle
    assert "MapInPandas" in plan or "Scan ExistingRDD" in plan, plan
    # the block equi-join (any hash-join family node qualifies)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_hamming_filter_below_pair_distinct(spark):
    """VERDICT r8 task #3: the exact-Hamming verification predicate sits
    BELOW the pair ``distinct()`` in the physical plan for the
    simhash/phash pairing family — with the source-level reorder the
    optimizer folds ``bit_count(xor) <= k`` into the candidate join
    condition itself, so non-qualifying pairs never enter the dedup
    exchange. (Plans print parents first: the ``<= 3`` predicate must
    appear on a LATER line than the pair-distinct aggregate.)"""
    from stglib_spark.operators.dedup import simhash_near_pairs
    from stglib_spark.queries import QUERIES

    def check(df, agg_keys_pat, label):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        lines = plan.splitlines()
        agg_line = next(
            i for i, ln in enumerate(lines)
            if re.search(rf"HashAggregate\(keys=\[{agg_keys_pat}", ln)
        )
        ham_line = next(
            i for i, ln in enumerate(lines) if "<= 3" in ln
        )
        assert ham_line > agg_line, f"{label}:\n{plan}"

    check(
        QUERIES["mm_phash_neardup"](spark, SF), r"doc_a", "mm_phash_neardup"
    )
    check(
        QUERIES["mm_video_phash_neardup"](spark, SF),
        r"vid_a",
        "mm_video_phash_neardup",
    )
    fps = spark.createDataFrame(
        [(1, 17), (2, 16)], "doc_id long, simhash long"
    )
    check(simhash_near_pairs(fps), r"doc_a", "simhash_near_pairs")


def test_oversize_bucket_guard_in_pairing_plans(spark):
    """VERDICT r8 task #2: every LSH / pigeonhole candidate self-join
    carries the per-bucket member-count window (the bucket-size guard)
    in its plan — no unguarded quadratic pair blowup on a
    mega-duplicate bucket."""
    for name in ("dedup_minhash_lsh", "mm_phash_neardup",
                 "mm_video_phash_neardup"):
        plan = plan_of(spark, name)
        assert re.search(r"Window|__bsz", plan), f"{name} lost the bucket guard"


def test_winnow_candidates_run_the_kernel_once(spark, monkeypatch):
    """The winnow Arrow kernel feeds the bucket census, the stop-list
    join and both pair-join sides of ``dedup_winnow_candidates``; all
    of them must hang off the one pinned exchange, so every document
    passes through the kernel exactly once per run. The census counts
    the representative column, not ``lit(1)``, for this reason: the
    ``lit(1)`` form prunes the census branch below the exchange and
    the kernel ran twice. Counted with an accumulator wrapped around
    every ``mapInPandas`` function, because the final adaptive plan
    folds the empty census away and would hide a second run."""
    from stglib_spark.session import load_table

    frame_cls = type(spark.range(1))
    rows = spark.sparkContext.accumulator(0)
    map_in_pandas = frame_cls.mapInPandas

    def counted(self, func, schema, *args, **kwargs):
        def wrapped(batches):
            def tally():
                for pdf in batches:
                    rows.add(len(pdf))
                    yield pdf

            return func(tally())

        return map_in_pandas(self, wrapped, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", counted)
    df = QUERIES["dedup_winnow_candidates"](spark, SF)
    df.collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert n_docs > 0
    assert rows.value == n_docs, (rows.value, n_docs)


def test_hll_register_aggregate_is_partial(spark):
    """The HLL register build must partial-aggregate map-side (the MAX
    per (source, bucket) combines before the shuffle) and carry at
    most the bounded register keys through ONE exchange below the
    rollup — the 'raw token stream shuffles' failure mode would show
    as an exchange whose input is the exploded token projection with
    no partial_max above it."""
    plan = plan_of(spark, "corpus_hll_distinct")
    assert count(plan, r"partial_max") >= 1, plan
    # registers + final rollup + the truth-side aggregates; the sketch
    # side itself contributes exactly one hash-partitioned exchange
    # keyed on (source, bucket)
    assert re.search(r"hashpartitioning\(source[^)]*bucket", plan_of(
        spark, "corpus_hll_distinct", "simple"
    )), "register aggregate not keyed on (source, bucket)"


def _tree(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _tree(it.next())


def test_hll_keeps_keys_only_distinct(spark):
    """The HLL registers must be built from the DISTINCT (source, tok)
    stream: a keys-only Aggregate on exactly those keys must survive
    optimization. The per-bucket count(1) riding the register aggregate
    is what stops RemoveRedundantAggregates from eliding that distinct
    under the max-only register consumer; without it the sketch hashes
    every token occurrence and the plan stays numerically plausible."""
    qe = QUERIES["corpus_hll_distinct"](spark, SF)._jdf.queryExecution()
    keys_only = []
    for node in _tree(qe.optimizedPlan()):
        if node.getClass().getSimpleName() != "Aggregate":
            continue
        outs = node.aggregateExpressions()
        has_agg_fn = any(
            e.getClass().getSimpleName() == "AggregateExpression"
            for i in range(outs.size())
            for e in _tree(outs.apply(i))
        )
        if not has_agg_fn:
            keys = node.groupingExpressions()
            keys_only.append(sorted(
                re.sub(r"#\d+L?$", "", keys.apply(i).toString())
                for i in range(keys.size())
            ))
    assert keys_only == [["source", "tok"]], keys_only


def test_bloom_probe_join_broadcasts_bit_table(spark):
    """The Bloom probe side must join the bounded bit table via
    BroadcastHashJoin (the table is <= m_bits rows BY CONSTRUCTION) —
    a SortMergeJoin here would shuffle every probe position row."""
    plan = plan_of(spark, "dedup_bloom_gate")
    assert count(plan, r"BroadcastHashJoin") >= 1
    joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin)[^\n]*", plan)
    # the only allowed non-broadcast joins are the final doc_id-keyed
    # result merges, never the position probe
    assert not any("position" in j for j in joins), joins


def test_kmv_overlap_sides_compile_to_take_ordered(spark):
    """Each side's k-smallest selection must compile to
    TakeOrderedAndProject (per-task top-k, k rows to the merge) —
    never a global sort or single-partition window over all distinct
    hashes (the ADVICE r6 scale bug class)."""
    plan = plan_of(spark, "corpus_kmv_overlap")
    assert count(plan, r"TakeOrderedAndProject") >= 2, plan


def test_quality_auc_window_feeds_on_bounded_aggregate(spark):
    """ranking_auc's cumulative pass is a single-partition window — but
    it must consume the per-score AGGREGATE (codomain-bounded ≤ 1e6+1
    rows), never document rows: the plan has exactly one parquet scan
    (score and label are projections of one pass — no join), and below
    the SinglePartition exchange sits the hash aggregate on the score
    key with map-side partial aggregation."""
    plan = plan_of(spark, "corpus_quality_auc", mode="simple")
    assert count(plan, r"Scan parquet") == 1, plan
    assert count(plan, r"SortMergeJoin|BroadcastHashJoin|CartesianProduct") == 0, plan
    i = plan.find("Exchange SinglePartition")
    assert i != -1, plan
    below = plan[i:]
    assert "HashAggregate" in below and "partial_sum" in below, plan


def test_quality_pr_sweep_same_bounded_window_shape(spark):
    """threshold_sweep shares ranking_auc's scale shape: one scan, no
    join, cumulative windows over the per-score aggregate only."""
    plan = plan_of(spark, "corpus_quality_pr_sweep", mode="simple")
    assert count(plan, r"Scan parquet") == 1, plan
    assert count(plan, r"SortMergeJoin|BroadcastHashJoin|CartesianProduct") == 0, plan
    i = plan.find("Exchange SinglePartition")
    assert i != -1, plan
    assert "HashAggregate" in plan[i:], plan


def test_sg_tide_average_is_partial_agg_no_window(spark):
    """average_tide_bursts must stay a derived-key groupBy with
    map-side partial aggregation — no window function, no physical
    reshape (the reference pads-and-reshapes in memory; at 100 TB the
    combine-before-shuffle shape is the whole point). The r14 full
    window grid (NaN trailing windows) joins two burst-count-sized
    post-aggregation frames — it must stay broadcast, never
    sort-merge over sample-level data."""
    plan = plan_of(spark, "ts_sg_tide_average", mode="simple")
    assert "Window" not in plan, plan
    assert "partial_avg" in plan or "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_sonar_average_sweeps_single_aggregate(spark):
    """average_sweeps (r14, son/cdf2nc.py:103-131) must compile to ONE
    hash aggregate on (time, scan) — the echo element-wise mean rides
    nested higher-order functions over collect_list, so there is no
    Window, no second Exchange, no Python UDF, and no explode of the
    points axis."""
    df = spark.range(24).selectExpr(
        "CAST(id / 12 AS INT) AS t",
        "CAST(id % 3 + 1 AS INT) AS sweep",
        "CAST(id % 4 + 1 AS INT) AS scan",
        "CAST(610 + id AS INT) AS HeadPosition",
        "CAST(700 + id AS INT) AS SonarPosition",
        "CAST(id * 7 % 360 AS DOUBLE) AS Hdg_1215",
        "array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE)) AS sonar_image",
    )
    from stglib_spark.operators.sonar import average_sweeps

    out = average_sweeps(df, time_col="t")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "Window" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Python" not in plan, plan  # no UDF
    assert count(plan, r"Exchange") == 1, plan


def test_spread_contract_scan_width_and_sentinels(spark, tmp_path):
    """spread() scale contract (r15, VERDICT r14 what's-wrong #3 +
    ADVICE): the partition-floor probe reads the plan's LEAF (scan)
    stats, so (a) a selective filter/projection above a genuinely wide
    scan must NOT trigger a repartition that would cap the scan's
    parallelism at defaultParallelism, and (b) a leaf with unknown
    stats (ExistingRDD after localCheckpoint reports the
    defaultSizeInBytes sentinel) must take the repartition-floor path
    rather than masquerade as a huge relation and silently serialize a
    downstream kernel."""
    from pyspark.sql import functions as F

    from stglib_spark.session import spread

    path = str(tmp_path / "wide.parquet")
    spark.range(20000).select(
        "id", F.repeat(F.lit("x"), 64).alias("pad")
    ).write.parquet(path)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # make the scan "wide" relative to defaultParallelism without
        # writing 100+ MB: effective split = min(maxPartitionBytes,
        # max(openCost, bytes/cores)) — leaf bytes / split >= cores
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
        spark.conf.set("spark.sql.files.openCostInBytes", "1k")
        wide = spark.read.parquet(path)
        filtered = wide.filter(F.col("id") < 0).select("id")
        assert spread(filtered) is filtered, (
            "spread repartitioned a wide scan because a selective "
            "filter/projection shrank the plan-root estimate"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)

    # tiny scan: the floor fires (unchanged pre-r15 behavior)
    tiny = spark.read.parquet(path).select("id")
    assert spread(tiny) is not tiny

    # checkpointed leaf: stats sentinel => unknown => floor fires
    cp = spark.range(10).coalesce(1).localCheckpoint()
    assert spread(cp) is not cp


def test_puv_waves_run_one_python_stage_and_no_join(spark, tmp_path, monkeypatch):
    """run_waves with puv: true plans the wave chain and PUV as one
    FlatMapGroupsInPandas over one shuffle, with no join."""
    import pandas as pd

    from stglib_spark import pipeline

    cfg = {"filename": "puvplan", "output_dir": str(tmp_path), "puv": True,
           "sample_interval": 0.5, "wave_interval": 16}
    t = pd.Timestamp("2024-06-01") + pd.to_timedelta(range(64), unit="s") / 2
    spark.createDataFrame(
        pd.DataFrame({"time": t, "P_1ac": 10.0, "u_1205": 0.1, "v_1206": 0.1})
    ).write.parquet(pipeline._zone_path(cfg, "clean"))
    written = []
    monkeypatch.setattr(
        pipeline, "_write_zone", lambda df, *a, **k: written.append(df) or ""
    )
    pipeline.run_waves(spark, cfg)
    plan = written[0]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert count(plan, r"FlatMapGroupsInPandas") == 2, plan  # tree + detail
    assert count(plan, r"Join") == 0, plan


def test_tolerance_asof_scans_fact_side_once_without_window(spark, tmp_path):
    """The tolerance as-of join (atmos_correct) builds its bucket table
    from the met side alone: the fact side is scanned once, for the one
    equi-join, and the plan has no Window and no single-partition
    exchange."""
    import pandas as pd

    from stglib_spark.operators.joins import atmos_correct

    t = pd.Timestamp("2024-06-01") + pd.to_timedelta(range(0, 7200, 30), unit="s")
    fact = str(tmp_path / "fact")
    spark.createDataFrame(
        pd.DataFrame({"time": t, "P_1": 10.0})
    ).write.parquet(fact)
    met = spark.createDataFrame(
        pd.DataFrame({"time": t[::20], "atmpres": 10.1})
    )
    df = atmos_correct(spark.read.parquet(fact), met)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = qe.explainString(mode.fromString("formatted"))
    simple = qe.explainString(mode.fromString("simple"))
    assert count(plan, re.escape(f"InMemoryFileIndex [file:{fact}]")) == 1, plan
    assert not re.findall(r"^\(\d+\) Window\b", plan, flags=re.M), plan
    assert count(simple, r"Exchange SinglePartition") == 0, simple
