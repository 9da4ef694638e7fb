"""Cardinality sketches for corpus audits: KMV (k-minimum-values)
distinct-count estimation per group.

A 100 TB corpus audit asks "how many distinct URLs / n-grams / authors
per source?" constantly; exact count-distinct shuffles every distinct
value, and Spark's built-in ``approx_count_distinct`` (HyperLogLog++)
is not reproducible across engines, so a driver oracle can't check it.
The KMV sketch (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 "On
synopses for distinct-value estimation under multiset operations") is
the deterministic alternative: hash every value, keep the k smallest
hash values per group, and estimate

    D-hat = (k - 1) / h_(k)        (h_(k) = k-th smallest hash in [0,1))

Built on the portable 60-bit md5 hash (``dedup.hash60``), the sketch is
bit-for-bit reproducible in DuckDB, so the ESTIMATE ITSELF — not just
the plumbing — is driver-oracle-checkable. At scale xxhash64 is the
drop-in cheaper hash (same shape, no oracle).

Scale shape: a distinct pre-aggregation on (group, hash) runs map-side
first, so the shuffle carries distinct hashes only; the per-group
k-smallest selection is a window over those distinct hashes.

Reference anchor: stglib has no sketches (xarray holds everything in
RAM); this extends the engine for corpus-audit workloads per the
build brief's training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from stglib_spark.operators.dedup import hash60

_HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: list[str] | None = None,
    k: int = 64,
    seed: str = "kmv1",
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Returns one row per group: ``n_kept`` (number of sketch slots
    filled, ≤ k), ``kth_hash`` (the k-th smallest 60-bit hash, NULL when
    the group holds fewer than k distinct values) and ``distinct_est``.
    Groups with fewer than k distinct values report the EXACT count
    (the sketch degenerates to a distinct set) — the estimator only
    kicks in once the sketch saturates, exactly as in Beyer et al. §4.

    All estimator arithmetic is IEEE-exact ((k-1) * 2^60 / kth as one
    double multiply + divide — no ln/pow), so a DuckDB replay of the
    same hash chain lands on the identical double.
    """
    groups = list(group_cols or [])
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    h = hash60(val.cast("string"), seed=seed).alias("__h")
    hashed = df.select(*groups, h)
    # Distinct first: map-side partial dedup, shuffle carries distinct
    # hashes only. The k-smallest selection then runs on the deduped set.
    distinct = hashed.distinct()
    if groups:
        w = Window.partitionBy(*groups).orderBy("__h")
        ranked = distinct.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= int(k)
        )
        kth = F.max(F.when(F.col("__rn") == int(k), F.col("__h")))
    else:
        # Ungrouped: sort().limit(k) compiles to TakeOrderedAndProject —
        # each task keeps its local k smallest and only those k·tasks
        # rows reach the driver-side merge. (A window over
        # partitionBy(lit(1)) would shuffle EVERY distinct hash into one
        # task — the ADVICE r6 scale bug this replaces.)
        ranked = distinct.sort("__h").limit(int(k))
        kth = F.when(F.count(F.lit(1)) == int(k), F.max("__h"))
    est = F.when(
        kth.isNotNull(),
        F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / kth.cast("double"),
    ).otherwise(F.count(F.lit(1)).cast("double"))
    return ranked.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_kept"),
        kth.alias("kth_hash"),
        est.alias("distinct_est"),
    )


def hist_percentiles(
    df: DataFrame,
    value_col: str | Column,
    group_cols: list[str] | None = None,
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 256,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Deterministic mergeable percentile sketch: a fixed-grid histogram
    with within-bin linear interpolation — the auditable twin of
    ``percentile_approx`` for the 100 TB path.

    Why not percentile_approx / t-digest: their sketches are
    merge-order-dependent, so two runs (or two engines) legally disagree
    — a driver oracle can't check them, and an audit can't reproduce
    them. A fixed-grid histogram is a plain map-side-combinable count
    aggregate: bin(v) = clamp(floor((v - lo) / (hi - lo) * n_bins)),
    counts merge associatively in any order, and the percentile is
    recovered by walking the cumulative counts and interpolating inside
    the hit bin. Error is bounded by the bin width (hi - lo) / n_bins —
    chosen up front and stated, unlike a t-digest's data-dependent
    error. Exact replay in any SQL engine.

    Shape: one groupBy((groups, bin)) count — shuffle width is
    n_bins × groups, never the data — then a per-group sorted-struct
    fold over ≤ n_bins rows. Estimator: with n total values, target
    rank h = p·(n-1) (the quantile_cont convention, 0-indexed); find
    the bin where the running count passes floor(h)+1 and place the
    value at lo + (bin + frac)·width with frac interpolated from the
    in-bin rank — all in integer arithmetic except the final two exact
    double ops.
    """
    groups = list(group_cols or [])
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    width = (float(hi) - float(lo)) / int(n_bins)
    raw = F.floor((val - F.lit(float(lo))) / F.lit(width)).cast("long")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(int(n_bins) - 1))
    binned = (
        df.select(*groups, b.alias("__b"))
        .groupBy(*groups, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # per group: sorted (bin, count) pairs + total, then closed-form
    # interpolation per requested percentile
    per_group = binned.groupBy(*groups).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__b"), F.col("__c")))
        ).alias("__bins"),
        F.sum("__c").alias("n"),
    )
    outs = [F.col("n").cast("bigint").alias("n")]
    for p in percentiles:
        # h = p*(n-1) split into integer lo-rank and micro-remainder so
        # the walk is integer-exact; r in [0, 1e6) scaled micro-units
        pm = int(round(p * 1_000_000))
        h_lo = F.expr(f"CAST(((n - 1) * {pm}) DIV 1000000 AS BIGINT)")
        h_rem = F.expr(f"CAST(((n - 1) * {pm}) % 1000000 AS BIGINT)")
        # cumulative walk: find value at 0-indexed ranks h_lo and h_lo+1
        def rank_value(rank: Column) -> Column:
            # fold: (remaining, found_bin, found_off)
            return F.aggregate(
                F.col("__bins"),
                F.struct(
                    rank.alias("rem"),
                    F.lit(-1).cast("long").alias("bin"),
                    F.lit(0).cast("long").alias("off"),
                ),
                lambda acc, s: F.when(
                    acc["bin"] >= 0, acc
                ).otherwise(
                    F.when(
                        acc["rem"] < s["__c"],
                        F.struct(
                            acc["rem"].alias("rem"),
                            s["__b"].cast("long").alias("bin"),
                            acc["rem"].alias("off"),
                        ),
                    ).otherwise(
                        F.struct(
                            (acc["rem"] - s["__c"]).alias("rem"),
                            acc["bin"].alias("bin"),
                            acc["off"].alias("off"),
                        )
                    )
                ),
            )
        v_lo = rank_value(h_lo)
        v_hi = rank_value(h_lo + 1)
        # in-bin position: spread the bin's values evenly over the bin
        # -> value = lo + (bin + (off + 0.5)/count_in_bin) * width; to
        # stay engine-exact use the bin MIDPOINT convention instead:
        # value(rank) = lo + (bin + 0.5) * width  (deterministic, error
        # <= width/2); interpolate between the two rank values in micro
        # integer weights exactly like corpus_datacard
        mid = lambda vv: (  # noqa: E731
            F.lit(float(lo))
            + (vv["bin"].cast("double") + F.lit(0.5)) * F.lit(width)
        )
        est = F.when(
            F.col("n") > 1,
            (
                mid(v_lo) * (F.lit(1_000_000) - h_rem).cast("double")
                + mid(v_hi) * h_rem.cast("double")
            )
            / F.lit(1_000_000.0),
        ).otherwise(mid(v_lo))
        outs.append(est.alias(f"p{str(p).replace('.', '_')}"))
    return per_group.select(*groups, *outs)


def cms_sketch(
    df: DataFrame,
    value_col: str | Column,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Count–Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
    counter table: one row per (d, col) with the counter value —
    ``depth`` independent 60-bit hash rows, each folded onto ``width``
    columns. Two sketches over disjoint data merge by ADDING counters
    (a groupBy sum), which is what makes the sketch the right
    frequency-audit structure at 100 TB: it is a bounded
    depth×width table no matter how many values stream through, and
    shard-local sketches roll up without touching raw data again.

    Point-query estimates (`cms_point_estimates`) take the MIN over
    the depth rows — an overestimate with error ≤ εN (ε = e/width) at
    probability 1−δ (δ = e^−depth); never an underestimate.

    Built on the portable md5 ``hash60`` chain (independent rows via
    per-row seed suffixes), so the sketch — counters AND estimates —
    is bit-for-bit reproducible in DuckDB. At scale xxhash64 is the
    drop-in cheaper hash (same shape, no oracle).

    Scale shape: the d hash columns compute in ONE projection, the
    depth fan-out is an explode of a d-element literal-struct array
    (JVM, no UDF), and the only shuffle is the (d, col)
    counter aggregate — map-side combinable, width·depth keys
    regardless of input size.

    ``weight_col`` feeds PRE-AGGREGATED (value, weight) rows: counters
    become sums of weights instead of row counts — bit-identical to
    sketching the raw stream (a counter is the total multiplicity
    landing in its cell either way), but the ``depth`` md5 evaluations
    run once per DISTINCT value rather than once per occurrence. The
    heavy-hitters query pre-counts tokens (one map-side-combinable
    aggregate) and sketches the count table (r14: 4 md5/occurrence →
    4 md5/distinct token; the counter-aggregate input shrinks from
    depth×occurrences to depth×vocab rows)."""
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("string")
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (hash60(val, seed=f"{seed}{d}") % width).alias("col"),
                )
                for d in range(depth)
            ]
        )
    ).alias("dc")
    carry = [weight_col] if weight_col else []
    exploded = df.select(*carry, rows).select(
        *carry, F.col("dc.d").alias("d"), F.col("dc.col").alias("col")
    )
    cnt = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).alias("count")
    return exploded.groupBy("d", "col").agg(cnt)


def cms_point_estimates(
    sketch: DataFrame,
    probes: list[str],
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """Point-query frequency estimates from an UNGROUPED `cms_sketch`
    table: for each probe value, the minimum counter over the sketch's
    ``depth`` rows — the CMS estimate, ≥ the true count always. The
    probe list enters the plan as a literal array (bounded — heavy-
    hitter candidates, vocabulary slices), its d hash columns compute
    with the SAME engine expressions as the sketch build, and the tiny
    probe side broadcasts into the join against the bounded counter
    table; a missing (d, col) counter means nothing hashed there —
    the left join's NULL reads as count 0. (Per-group estimates need a
    probe×group scaffold so absent counters still read 0 — build the
    sketch per group slice instead.)"""
    spark = sketch.sparkSession
    pr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in probes])
        ).alias("probe")
    )
    pr = pr.select(
        "probe",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            hash60(F.col("probe"), seed=f"{seed}{d}")
                            % width
                        ).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("dc"),
    ).select("probe", F.col("dc.d").alias("d"), F.col("dc.col").alias("col"))
    joined = F.broadcast(pr).join(sketch, ["d", "col"], "left")
    return joined.groupBy("probe").agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).alias("cms_est")
    )


def _hll_alpha(m: int) -> tuple[int, int]:
    """HyperLogLog bias-correction constant as an EXACT rational
    (numerator, denominator) for m ≥ 128: alpha_m = 0.7213 / (1 +
    1.079/m) = 7213·m / (10·(1000·m + 1079)) (Flajolet et al. 2007,
    §4). Exact integers so the estimate arithmetic never touches a
    float until the final cast."""
    return 7213 * m, 10 * (1000 * m + 1079)


def hll_registers(
    df: DataFrame,
    value_col: str | Column,
    group_cols: list[str] | None = None,
    p: int = 8,
    seed: str = "hll",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """HyperLogLog register table (Flajolet, Fusy, Gandouet, Meunier
    2007): one row per (group, bucket) with the max rank observed —
    bucket = top ``p`` bits of the portable 60-bit md5 hash, rank =
    leading zeros of the remaining w = 60−p bits, plus one (an all-zero
    remainder ranks w+1). Two register tables over disjoint data merge
    by a groupBy MAX — the property that makes HLL the 100 TB
    distinct-count structure: per group the sketch is ≤ 2^p rows no
    matter how many values stream through, and shard-local sketches
    roll up without re-reading raw data.

    Every step is exact integer arithmetic on engine-shared primitives
    (md5 chain, shiftright, bitwiseAND, length(bin(x)) — both engines
    print minimal binary), so the registers AND the estimate derived
    from them are bit-for-bit reproducible in DuckDB. Spark's built-in
    ``approx_count_distinct`` is also HLL++ but its hash is not
    replayable cross-engine — this variant exists so the ESTIMATE
    ITSELF is driver-oracle-checkable. At scale xxhash64 is the
    drop-in cheaper hash (same shape, no oracle).

    Scale shape: the (bucket, rank) pair is one projection over the
    scan; the only shuffle is the (group, bucket) MAX aggregate —
    map-side combinable, ≤ 2^p keys per group regardless of input.

    ``extra_aggs`` (aliased aggregate Columns) ride the same register
    aggregate — e.g. a per-bucket ``count(1)`` over a pre-distincted
    input rolls up to the group's exact distinct count in
    ``hll_estimate``, letting an estimate-vs-truth audit share ONE
    input pass instead of re-scanning the corpus (and keeping the
    optimizer from eliding the distinct below a max-only aggregate,
    which duplicate-insensitivity would otherwise allow)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    groups = list(group_cols or [])
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("string")
    bucket, rank = hll_bucket_rank(val, p, seed)
    # NULLs carry no distinct value: hashing one yields a (NULL, NULL)
    # register row that hll_estimate would count in __n_present while
    # its shiftleft term vanishes from the sum — skewing n_zero/raw_est
    return (
        df.where(val.isNotNull())
        .select(*groups, bucket.alias("bucket"), rank.alias("__rank"))
        .groupBy(*groups, "bucket")
        .agg(F.max("__rank").alias("max_rank"), *(extra_aggs or []))
    )


def hll_bucket_rank(
    val: Column, p: int, seed: str
) -> tuple[Column, Column]:
    """The (bucket, rank) column pair shared by the batch register
    aggregate and the DuckDB oracle: bucket = top
    p bits of hash60, rank = leading zeros of the remaining w bits + 1.
    For rem > 0 the minimal binary string length IS floor(log2)+1,
    exactly, in both engines; rem = 0 means all w bits are zero →
    rank w+1."""
    w = 60 - p
    h = hash60(val, seed=seed)
    bucket = F.shiftright(h, w)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    rank = (
        F.when(rem == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(rem)))
        .cast("int")
    )
    return bucket, rank


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 8,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Distinct-count estimate from a `hll_registers` table, one row
    per group: ``n_zero`` (empty buckets), ``raw_est`` (the floor of
    the raw HLL estimate alpha_m·m²/Σ2^−M[j]) and ``distinct_est``
    (linear counting below the 5m/2 small-range threshold when empty
    buckets remain — the standard HLL regime switch).

    Engine-exact by construction, mirroring `corpus.mixture_allocate`:

    - the harmonic denominator Σ 2^−M[j] is scaled by 2^(w+1) into an
      exact BIGINT (each bucket contributes 2^(w+1−M), an empty bucket
      2^(w+1); ≤ m·2^(w+1) = 2^61 at p = 8 — no overflow);
    - alpha_m enters as the exact rational 7213·m/(10·(1000·m+1079)),
      and the raw estimate is one decimal(38,0) floor division
      (remainder subtracted first so the decimal '/' cannot round);
    - linear counting m·ln(m/V) is a LITERAL array over the bounded
      domain V ∈ 1..m (the DSIR literal-map trick: ln never runs in
      either engine — both look up the same 6-dp double literal).

    Large-range correction is unnecessary: the 2^32-hash collision
    regime it patches does not exist for 60-bit hashes below ~10^17
    distinct values."""
    if not 7 <= p <= 16:
        raise ValueError(
            f"p must be in [7, 16] (alpha rational assumes m >= 128), got {p}"
        )
    import math

    groups = list(group_cols or [])
    m = 1 << p
    w = 60 - p
    a_num, a_den = _hll_alpha(m)
    # extra_aggs (aliased Columns over the register table, e.g.
    # sum() of an hll_registers extra_aggs count) ride this rollup and
    # are appended after distinct_est — one job serves the estimate and
    # any audit columns instead of a second input pass + join
    extras = list(extra_aggs or [])
    agg = registers.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("__n_present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {w + 1} - max_rank)")
        ).alias("__s_present"),
        *extras,
    )
    # the aggregate's output is groups, the two sums, then the extras in
    # order — so their names are positional, and any that collide with
    # another column (or each other) would be duplicated or dropped
    extra_names = agg.columns[len(groups) + 2:]
    taken = set(groups) | {
        "__n_present", "__s_present", "n_zero", "raw_est", "distinct_est"
    }
    clashes = sorted(
        {c for c in extra_names if c in taken or extra_names.count(c) > 1}
    )
    if clashes:
        raise ValueError(
            f"hll_estimate extra_aggs aliases collide with other columns: "
            f"{clashes}"
        )
    n_zero = (F.lit(m) - F.col("__n_present")).cast("int")
    s_int = (
        F.col("__s_present")
        + n_zero.cast("long") * F.lit(1 << (w + 1)).cast("long")
    )
    wide = "decimal(38,0)"
    # alpha_num * m^2 * 2^(w+1) exceeds int64 (~1.09e26 at p = 8) — it
    # must enter the plan as a decimal literal, not a long.
    num = F.expr(f"CAST('{a_num * m * m * (1 << (w + 1))}' AS {wide})")
    den = s_int.cast(wide) * F.lit(a_den).cast(wide)
    raw = ((num - F.pmod(num, den)) / den).cast("long")
    lc = [round(m * math.log(m / v), 6) for v in range(1, m + 1)]
    lc_arr = F.array(*[F.lit(x) for x in lc])
    est = F.when(
        (n_zero > 0) & (raw <= F.lit(5 * m // 2)),
        F.element_at(lc_arr, n_zero),
    ).otherwise(raw.cast("double"))
    return agg.select(
        *groups,
        n_zero.alias("n_zero"),
        raw.alias("raw_est"),
        F.round(est, 6).alias("distinct_est"),
        *[F.col(c) for c in extra_names],
    )


def bloom_bits(
    df: DataFrame,
    value_col: str | Column,
    k: int = 3,
    m_bits: int = 1 << 14,
    seed: str = "bloom",
) -> DataFrame:
    """Bloom-filter bit table (Bloom 1970) as a DataFrame: the DISTINCT
    set of bit positions ``hash60(seed_i || value) % m_bits`` over
    ``k`` independent hash rows — one long per set bit, ≤ ``m_bits``
    rows no matter how many values stream through. Two filters over
    disjoint data merge by union + distinct (bitwise OR). The classic
    no-false-negative contract holds: a value that was indexed ALWAYS
    probes positive; only false positives occur (rate ≈ (1−e^(−kn/m))^k).

    The membership gate a 100 TB incremental-dedup ingest wants: probe
    the filter first (scan-speed, no shuffle against the corpus), and
    only bloom-HITS pay the exact digest anti-join against the full
    index — misses are guaranteed new. Built on the portable md5
    ``hash60`` chain so the bit positions — and therefore every
    hit/miss decision — replay bit-for-bit in DuckDB; xxhash64 is the
    drop-in cheaper hash at scale.

    Scale shape: k positions compute in ONE projection (explode of a
    k-element literal array), the only shuffle is the distinct on
    positions — bounded by m_bits keys. The bit table naturally
    shards by position range, and `bloom_probe` broadcasts it: the
    table holds at most m_bits rows whatever the data volume."""
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("string")
    return df.select(
        F.explode(bloom_positions(val, k, m_bits, seed)).alias("position")
    ).distinct()


def bloom_positions(
    val: Column, k: int, m_bits: int, seed: str
) -> Column:
    """The k-element bit-position array shared by the filter build and
    the probe (the `hll_bucket_rank` pattern: ONE column builder so the
    two paths — and the DuckDB oracle — cannot drift apart):
    position_i = hash60(seed_i || value) % m_bits."""
    return F.array(
        *[(hash60(val, seed=f"{seed}{i}") % m_bits) for i in range(k)]
    )


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    value_col: str | Column,
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 1 << 14,
    seed: str = "bloom",
) -> DataFrame:
    """Probe a `bloom_bits` table: one row per DISTINCT probe id with
    ``n_hit_bits`` (how many of its distinct bit positions are set) and
    ``bloom_hit`` (ALL of them set — the filter's membership verdict).
    Position arithmetic is the SAME engine expression as the build
    (`bloom_positions`), so hit/miss replays exactly.

    The test runs over the SET of the probe's positions: a probe whose
    two hash functions collide onto one bit tests it once (the
    textbook all-bits-set semantics), and duplicate probe rows for the
    same id collapse instead of double-counting into a spurious miss —
    the no-false-negative contract holds for any multiset of probe
    rows carrying ONE value per id. That is the operator's contract:
    ``id_col`` identifies a probe VALUE (the gates in this repo probe
    (doc_id, text) pairs with unique ids). Rows with DIFFERENT values
    under one id would union their position sets into a single
    verdict — an indexed value could then read bloom_hit=false off
    another value's misses; pre-dedupe to one value per id (or mint a
    synthetic id per value) before probing.

    The bit table is broadcast: it is bounded by m_bits rows BY
    CONSTRUCTION (not by data volume), so the broadcast is never
    corpus-proportional."""
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("string")
    # distinct (id, position): the textbook test is over the SET of a
    # probe's bit positions, so (a) two hash rows colliding onto one
    # bit are tested once, and (b) a doc_id appearing in multiple probe
    # rows cannot double-count matches into a false NEGATIVE — the
    # no-FN contract must survive duplicate probe rows.
    pp = probes.select(
        F.col(id_col),
        F.explode(bloom_positions(val, k, m_bits, seed)).alias("position"),
    ).distinct()
    bt = F.broadcast(bits.withColumn("__set", F.lit(1)))
    return (
        pp.join(bt, "position", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("__set"), F.lit(0))).alias("n_hit_bits"),
            F.count(F.lit(1)).alias("__n_bits"),
        )
        .select(
            id_col,
            F.col("n_hit_bits").cast("int").alias("n_hit_bits"),
            (F.col("n_hit_bits") == F.col("__n_bits")).alias("bloom_hit"),
        )
    )


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str | Column,
    k: int = 256,
    seed: str = "kmv1",
) -> DataFrame:
    """KMV set-operation estimates between two value sets (Beyer et al.
    SIGMOD'07 §5, the multiset-operation half of the KMV sketch this
    module's `kmv_distinct` omits): from each side's k smallest
    distinct 60-bit hashes, the combined sketch L = k smallest of
    L_A ∪ L_B yields

        union_est        = (k−1)·2^60 / h_(k)(L)
        jaccard_est      = |L ∩ L_A ∩ L_B| / |L|
        intersection_est = jaccard_est · union_est

    — the standard cross-corpus overlap audit ("how many distinct
    tokens/URLs/n-grams do these two sources share?") at sketch cost:
    each side is reduced to k longs BEFORE anything crosses the wire,
    so two 100 TB corpora compare through 2k rows. When the union
    holds fewer than k distinct hashes both sketches ARE the full
    hash sets and every estimate degenerates to the EXACT value —
    the same Beyer et al. §4 convention as `kmv_distinct`.

    One row out: ``n_kept`` (combined slots filled), ``kth_hash``,
    ``n_inter`` (combined-sketch hashes present in BOTH sides),
    ``union_est``, ``jaccard_est``, ``inter_est``. All estimator
    arithmetic is IEEE-exact in a fixed operation order (one
    multiply+divide for the union, one divide and one multiply for
    the rest — no ln/pow), so a DuckDB replay of the same hash chain
    lands on identical doubles.

    Scale shape: per side one distinct pre-aggregation then
    sort().limit(k) = TakeOrderedAndProject (k·tasks rows to the
    merge, never a global window); the cross-side full-outer join and
    final aggregate touch ≤ 2k rows."""
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("string")
    h = hash60(val, seed=seed).alias("__h")

    def side(df: DataFrame, flag: str) -> DataFrame:
        return (
            df.select(h)
            .distinct()
            .sort("__h")
            .limit(int(k))
            .select("__h", F.lit(1).alias(flag))
        )

    merged = side(df_a, "__a").join(side(df_b, "__b"), "__h", "full_outer")
    combined = merged.sort("__h").limit(int(k))
    kth = F.when(F.count(F.lit(1)) == int(k), F.max("__h"))
    agg = combined.agg(
        F.count(F.lit(1)).alias("n_kept"),
        kth.alias("kth_hash"),
        F.sum(
            (F.col("__a").isNotNull() & F.col("__b").isNotNull()).cast(
                "long"
            )
        ).alias("n_inter"),
    )
    union_est = F.when(
        F.col("kth_hash").isNotNull(),
        F.lit(float(k - 1))
        * F.lit(_HASH_SPACE)
        / F.col("kth_hash").cast("double"),
    ).otherwise(F.col("n_kept").cast("double"))
    jac = F.col("n_inter").cast("double") / F.col("n_kept").cast("double")
    return agg.select(
        "n_kept",
        "kth_hash",
        "n_inter",
        F.round(union_est, 6).alias("union_est"),
        F.round(jac, 6).alias("jaccard_est"),
        F.round(jac * union_est, 6).alias("inter_est"),
    )
