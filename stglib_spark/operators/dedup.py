"""Deduplication operators at corpus scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Design for 100 TB (BASELINE.json north star):
- exact dedup is a hash-groupBy — one shuffle on the 128-bit digest, never
  on the raw text;
- MinHash signatures are computed with the JVM-native ``xxhash64`` over
  exploded shingles (no Python), LSH banding turns the O(n²) pair problem
  into an equi-join on (band_id, band_hash) — the only pairs materialized
  are co-bucketed candidates;
- SimHash is a 64-bit projection computed with bitwise aggregates;
  near-dup lookup is a bucket join on bit-blocks (Hamming ≤ k ⇒ some
  block of the fingerprint matches exactly — pigeonhole);
- n-gram Jaccard verifies candidate pairs exactly with array set ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from stglib_spark.session import spread


def normalize_text(text: Column) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — shared
    normalization for every dedup signal. Unicode-aware
    (``\\p{L}\\p{N}``): a Latin-only class would normalize every
    non-Latin-script document to the empty string and collapse the whole
    multilingual corpus into one "duplicate"."""
    # whitespace spelled out as Java-\s ([ \t\n\x0B\f\r]) so the RE2-based
    # DuckDB oracles (whose \s omits \x0B) replay it byte-identically
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(text), r"[^\p{L}\p{N} \t\n\x0B\f\r]", ""
            ),
            r"[ \t\n\x0B\f\r]+",
            " ",
        )
    )


def hash60(col: Column, seed: str | None = None) -> Column:
    """Portable 60-bit hash: the top 15 hex digits of md5, parsed as an
    integer. Bit-for-bit reproducible in DuckDB as
    ``(('0x' || substring(md5(s), 1, 15))::UBIGINT)::BIGINT`` — used by the
    oracle-checked variants of MinHash/SimHash. xxhash64 stays the scale
    default (one JVM hash vs md5's full digest, ~3× cheaper per string)."""
    s = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate removal on the normalized-text digest: keep the
    minimum id per digest. One shuffle on md5 (md5 so a SQL oracle
    reproduces it bit-for-bit; at scale xxhash64 halves the key width)."""
    digest = F.md5(normalize_text(F.col("text")))
    return (
        df.withColumn("__digest", digest)
        .groupBy("__digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__digest")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text as an array column:
    distinct contiguous n-token windows (empty-safe).

    Built from n shifted copies of the token array combined with
    ``zip_with`` — O(n·L) per document. (The obvious
    ``transform(sequence, i -> slice(toks, i, n))`` is O(L²): ``slice``
    with a non-literal start re-walks the array per position — measured
    ~10× slower on real documents.)"""
    toks = F.split(normalize_text(text), " ")
    length = F.size(toks)
    k = length - (n - 1)
    if n == 1:
        combined = toks
    else:
        combined = toks
        for i in range(1, n):
            shifted = F.slice(toks, i + 1, length)
            # zip_with pads the shorter array with null; null propagates
            # through concat and the tail is cut by the slice below
            combined = F.zip_with(
                combined, shifted, lambda a, b: F.concat_ws(" ", a, b)
            )
        combined = F.zip_with(
            combined,
            F.slice(toks, n, length),
            lambda a, b: F.when(b.isNotNull(), a),
        )
    return F.when(
        k <= 0,
        # degenerate short doc: single shingle = whole text
        F.array(F.array_join(toks, " ")),
    ).otherwise(F.array_distinct(F.filter(combined, lambda x: x.isNotNull())))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    h_i(shingle). Explode → groupBy(id) with num_hashes min aggregates —
    the hash aggregate runs in whole-stage codegen with map-side partial
    aggregation, so the shuffle carries (docs × num_hashes × 8 B),
    independent of document length. (An array higher-order-function
    formulation — transform/zip_with/array_min, zero shuffle — was
    measured 2.4× SLOWER here: Spark evaluates HOF lambdas interpreted,
    outside codegen, so the per-shingle arithmetic dominates the saved
    exchange. The codegen'd explode plan wins at every scale while AQE
    keeps the small shuffle cheap.)

    The hash family uses double hashing, h_i = h1 + i·h2 with two
    independent hashes of the shingle (Kirsch & Mitzenmacher): the
    string is digested ONCE total instead of once per hash function.
    ``portable=True`` derives h1/h2 from the two 60-bit halves of a
    single md5 so a DuckDB oracle reproduces signatures exactly (one md5
    per shingle, down from two); the 100 TB default is one xxhash64 pass
    per hash (~3× cheaper per byte than md5)."""
    # the shingle expression stays INLINE in the explode: aliasing it in a
    # Project first lets InferFiltersFromGenerate add `size(arr) > 0` on
    # the new attribute, and filter pushdown then substitutes the whole
    # shingle expression into the Filter below the Project — computing the
    # O(n·L) shingling TWICE per row (measured 1.6× on the LSH bench
    # query). Fused explode(expr) skips the inferred filter entirely.
    exploded = spread(df).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    return _minhash_from_exploded(exploded, id_col, num_hashes, portable)


def minhash_from_shingles(
    sh_df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures from an already-shingled corpus (one array column
    per document). This is the plug point for pipeline stage sharing
    (``pipeline.run_dedup``): shingle the corpus ONCE into a parquet zone
    and feed both the LSH banding chain and the Jaccard verifier from it.
    Intended for STORED shingle columns — the inferred `size(col) > 0`
    scan filter is cheap on a materialized array, but would double-compute
    an unmaterialized shingle expression (see minhash_signatures)."""
    exploded = sh_df.select(
        F.col(id_col),
        F.explode(F.col(shingle_col)).alias("__sh"),
    )
    return _minhash_from_exploded(exploded, id_col, num_hashes, portable)


def _minhash_from_exploded(
    exploded: DataFrame, id_col: str, num_hashes: int, portable: bool
) -> DataFrame:
    # arithmetic in the prime field M (largest 32-bit prime) so
    # h1 + i·h2 can never overflow a long under ANSI mode.
    #
    # The repetitive per-hash expressions are built as SQL strings parsed
    # JVM-side in ONE py4j roundtrip each (r15, guide §5 driver work):
    # the Column-builder formulation cost ~7 py4j socket roundtrips per
    # hash function (~0.6 s of pure driver latency per query
    # construction at num_hashes=32, measured with cProfile — the same
    # latency on a 1000-executor cluster). The parsed expressions are
    # identical, so results and plan canonicalization are unchanged.
    m = 4294967291
    if portable:
        # one md5 per shingle, split into independent 60-bit halves; the
        # digest is materialized as a column so it is computed once
        exploded = exploded.select(
            F.col(id_col), F.md5(F.col("__sh")).alias("__d")
        ).selectExpr(
            id_col,
            f"pmod(CAST(conv(substring(__d, 1, 15), 16, 10) AS BIGINT), {m})"
            " AS __h1",
            f"pmod(CAST(conv(substring(__d, 17, 15), 16, 10) AS BIGINT), {m})"
            " AS __h2",
        )
    else:
        exploded = exploded.selectExpr(
            id_col,
            f"pmod(xxhash64(__sh), {m}) AS __h1",
            f"pmod(xxhash64('mh2', __sh), {m}) AS __h2",
        )
    aggs = [
        F.expr(f"min(pmod(__h1 + {i} * __h2, {m})) AS mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


#: Default per-bucket member cap for the LSH / pigeonhole candidate
#: self-joins. A bucket with m members emits m·(m−1)/2 pairs, so one
#: mega-duplicate bucket (every boilerplate page hashing identically)
#: turns the join quadratic no matter what AQE does to the *input* skew
#: — the blowup is in the OUTPUT. Buckets above the cap are star
#: reduced (each member pairs with the bucket's two smallest members
#: only): connectivity-equivalent for raw-candidate clustering
#: consumers, linear in bucket size. Bucket members share ONE band hash
#: (r = num_hashes/bands minhashes — collision probability ~ s^r for
#: true Jaccard s), NOT the full signature, so a mega-bucket can mix
#: true dups with moderately-similar chance colliders; see the
#: star-center caveat in ``lsh_pairs_from_signatures`` for what that
#: means under a downstream exact-verify threshold. 4096 is far above
#: any honest near-dup bucket and far above test scale.
DEFAULT_MAX_BUCKET_SIZE = 4096


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    r = num_hashes/bands rows; documents sharing any (band, band-hash)
    bucket become a candidate pair. Returns distinct (doc_a, doc_b) with
    doc_a < doc_b. ``portable=True`` uses the DuckDB-reproducible
    ``hash60`` family end-to-end (signatures and band hashes).

    Scale shape: self-join happens per bucket only — the band hash is the
    join key, so input skew is AQE-splittable, and the OUTPUT blowup of a
    mega-duplicate bucket (m²/2 pairs) is bounded by ``max_bucket_size``
    star reduction (see ``lsh_pairs_from_signatures``)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, portable)
    return lsh_pairs_from_signatures(
        sigs, id_col, num_hashes, bands, portable, max_bucket_size, observation
    )


def _annotate_bucket_sizes(
    stacked: DataFrame,
    bucket_keys: list[str],
    rep_cols: list[str],
    max_bucket_size: int,
    observation=None,
) -> tuple[DataFrame, DataFrame]:
    """Front half of the bucket-size guard on the LSH / pigeonhole /
    winnow candidate self-joins. Returns ``(pinned, annotated)``:

    - ``pinned`` — the member table, notnull-pre-filtered and pinned
      behind an explicit ``repartition(bucket_keys)`` exchange. The
      capped pair join uses it DIRECTLY as its right side.
    - ``annotated`` — ``pinned`` LEFT-joined with the **broadcast set of
      oversize buckets only** (``per_bucket WHERE __bsz > cap``), so
      members of small buckets carry ``__bsz = NULL`` and oversize
      members carry their count and the bucket's minimum representative
      (``__mn``; a flat column for a single ``rep_cols`` entry, a
      struct otherwise).

    Plan shape (r10 — the r9 every-row annotate join adjudicated at
    +40-55% on the LSH bench pair and replaced): the only information
    the pair join needs from the census is MEMBERSHIP in the oversize
    set — an almost-always-tiny (usually empty) key list — so it is
    broadcast instead of shuffle-joined against every banded row. The
    common no-oversize case is the pre-guard plan plus one cheap
    map-side-combinable hash aggregate on the broadcast build side; the
    probe stays inside the pinned exchange's stage (no extra shuffle,
    no sort). Both pair-join sides and the census aggregate still hang
    off the ONE pinned exchange, so the expensive upstream (shingling /
    hashing / banding) chain executes exactly once. A single-column
    ``__mn`` keeps the census a codegen hash aggregate (a struct min
    downgrades to SortAggregate); a window count instead costs a
    per-consumer sort of the full banded table (measured +70% in r8).

    ``observation`` (a ``pyspark.sql.Observation``) reports the exact
    oversize member/bucket counts during the job — no silent caps, no
    extra action, whether the caller star-reduces or drops the
    oversize buckets. It hangs on the per-bucket aggregate, which
    executes exactly once as the broadcast build side (the pair join's
    left branch is the only consumer)."""
    for c in [*bucket_keys, *rep_cols]:
        stacked = stacked.filter(F.col(c).isNotNull())
    pinned = stacked.repartition(*[F.col(c) for c in bucket_keys])
    mn = (
        F.min(F.col(rep_cols[0]))
        if len(rep_cols) == 1
        else F.min(F.struct(*[F.col(c) for c in rep_cols]))
    )
    # __bsz counts the representative column, NOT lit(1) — identical
    # under the notnull pre-filter above, but it keeps rep_cols[0] alive
    # in the census branch after column pruning. When the caller drops
    # oversize buckets __mn is pruned as dead, and with count(lit(1))
    # the census would then project the member table down to the bucket
    # keys BELOW the pinned exchange — a different canonical subtree, so
    # the exchange is not reused and the whole upstream (kernel/shingle/
    # hash chain) executes a second time just to feed the stop list
    # (measured r14 on dedup_winnow_candidates: two full MapInPandas
    # stages per run; pinned by test_winnow_candidates_run_the_kernel_once).
    per_bucket = pinned.groupBy(*bucket_keys).agg(
        F.count(F.col(rep_cols[0])).alias("__bsz"), mn.alias("__mn")
    )
    if observation is not None:
        over = F.col("__bsz") > max_bucket_size
        per_bucket = per_bucket.observe(
            observation,
            F.coalesce(
                F.sum(F.when(over, F.col("__bsz"))), F.lit(0).cast("long")
            ).alias("oversize_members"),
            F.coalesce(F.sum(over.cast("long")), F.lit(0).cast("long")).alias(
                "oversize_buckets"
            ),
        )
    over = per_bucket.filter(F.col("__bsz") > max_bucket_size)
    # no forced broadcast: the oversize key set is almost always tiny or
    # empty, and AQE upgrades the join to broadcast at runtime from the
    # MEASURED build size — but a pathological mega-duplicate corpus at
    # 1e10-doc scale can push the oversize set past driver memory, where
    # a forced F.broadcast() would OOM the driver while a shuffle join
    # degrades gracefully (r10 review finding)
    return pinned, pinned.join(over, bucket_keys, "left")


# Capped candidate self-join recipe (`_capped_join_sides`, used by
# lsh_pairs_from_signatures / simhash_near_pairs /
# multimodal.video_phash_near_pairs) over an `_annotate_bucket_sizes`
# table, which carries __bsz/__mn ONLY for members of oversize buckets
# (NULL otherwise); __mn2 is the oversize bucket's second-smallest
# member and `order` the column a pair must differ in (the member
# itself, or the video id of a (video, frame) member):
#
#   left  = annotated WHERE __bsz IS NULL OR member IN (__mn, __mn2)
#   right = pinned   (the raw member table — needs no annotation)
#   cond  = keys equal AND (
#             (l.__bsz IS NULL     AND l.order <  r.order)      -- small
#          OR (l member == l.__mn  AND l.order != r.order)      -- star 1
#          OR (l member == l.__mn2 AND r member > l member
#                                  AND l.order != r.order) )    -- star 2
#
# Small buckets emit every ordered pair; an oversize bucket contributes
# exactly TWO left rows (its two smallest members), so its output AND
# its join enumeration stay LINEAR in bucket size. The star-2 branch
# uses a strict > so the mn–mn2 edge is emitted once (by the mn row)
# and every emitted pair stays canonically ordered (mn is the bucket
# minimum; any r > mn2 exceeds both centers, and lexicographic member
# order makes a greater member with a different order value strictly
# greater in it). Two centers mean a downstream exact-verify
# (``jaccard_threshold > 0``) severs an oversize bucket's cluster only
# if BOTH centers are chance band-colliders (ADVICE r9/r10). One
# self-join, no union: both sides reuse the same pinned exchange,
# giving the identical two-branch plan shape as an unguarded pair
# join. The star side's payload (simhash/phash for the Hamming verify)
# comes straight off the left row — no struct-valued aggregate, so the
# per-bucket agg stays a codegen hash aggregate.


def _capped_join_sides(
    stacked: DataFrame,
    bucket_keys: list[str],
    member_cols: list[str],
    order_col: str,
    max_bucket_size: int | None,
    observation=None,
) -> tuple[DataFrame, DataFrame, Column]:
    """``(left, right, extra join condition)`` of the bucket self-join
    over ``stacked`` per the recipe comment above; the caller adds the
    bucket-key equality. ``member_cols`` identify one member row of a
    bucket. ``max_bucket_size=None`` is the unguarded join: every pair
    of every bucket with ``l.order_col < r.order_col``."""
    if max_bucket_size is None:
        cond = F.col(f"l.{order_col}") < F.col(f"r.{order_col}")
        return stacked.alias("l"), stacked.alias("r"), cond
    pinned, annotated = _annotate_bucket_sizes(
        stacked, bucket_keys, member_cols, max_bucket_size, observation
    )

    def member(prefix: str = "") -> Column:
        cols = [F.col(prefix + c) for c in member_cols]
        return cols[0] if len(cols) == 1 else F.struct(*cols)

    # second-smallest member, computed from `annotated` rather than a
    # second census pass: the agg input is map-side filtered to
    # oversize members only, so in the common no-oversize case AQE's
    # null-column Project makes the isNotNull filter constant-false and
    # the whole subtree folds to an empty relation — the census still
    # executes exactly once (as the annotate join's broadcast build).
    # Oversize buckets have ≥ 2 distinct members by construction, so
    # __mn2 is non-null for every oversize bucket; the join stays
    # null-safe regardless.
    mn2 = (
        annotated.filter(
            F.col("__bsz").isNotNull() & (member() != F.col("__mn"))
        )
        .groupBy(*bucket_keys)
        .agg(F.min(member()).alias("__mn2"))
    )
    annotated = annotated.join(mn2, bucket_keys, "left")
    is_mn2 = member().eqNullSafe(F.col("__mn2"))
    left = (
        annotated.filter(
            F.col("__bsz").isNull() | (member() == F.col("__mn")) | is_mn2
        )
        .withColumn("__is2", is_mn2)
        .drop("__mn", "__mn2")
        .alias("l")
    )
    lo, ro = F.col(f"l.{order_col}"), F.col(f"r.{order_col}")
    star = F.col("l.__bsz").isNotNull()
    star2 = star & F.col("l.__is2") & (member("r.") > member("l."))
    if member_cols != [order_col]:
        # a greater member can share l's order value (another frame of
        # the same video); a single-column member needs no extra test
        star2 = star2 & (lo != ro)
    cond = (
        (F.col("l.__bsz").isNull() & (lo < ro))
        | (star & ~F.col("l.__is2") & (lo != ro))
        | star2
    )
    return left, pinned.hint("shuffle_hash").alias("r"), cond


def _lsh_band_rows(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable: bool,
) -> DataFrame:
    """``(id_col, band, bh)`` rows of the MinHash signature
    columns ``mh_0..mh_{n-1}``: ``bands`` bands of r = num_hashes/bands
    minhashes, each hashed to ``bh`` (xxhash64, or ``hash60`` of the
    '|'-joined band for ``portable``) and exploded to one row per band.
    The one banding of ``lsh_pairs_from_signatures`` and
    ``lsh_pairs_between``."""
    r = num_hashes // bands
    # per-band expressions as JVM-parsed SQL strings (r15, guide §5):
    # the Column-builder form paid ~1 s of py4j roundtrips per query
    # construction at 8-16 bands; the parsed trees are identical (the
    # portable branch spells out hash60's conv/substring/md5 chain).
    if portable:
        band_cols = [
            "CAST(conv(substring(md5(concat_ws('|', "
            + ", ".join(f"mh_{b * r + i}" for i in range(r))
            + ")), 1, 15), 16, 10) AS BIGINT)"
            f" AS band_{b}"
            for b in range(bands)
        ]
    else:
        band_cols = [
            "xxhash64("
            + ", ".join(f"mh_{b * r + i}" for i in range(r))
            + f") AS band_{b}"
            for b in range(bands)
        ]
    quoted = f"`{id_col}`"
    return (
        sigs.selectExpr(quoted, *band_cols)
        .selectExpr(
            quoted,
            "explode(array("
            + ", ".join(
                f"named_struct('band', {b}, 'bh', band_{b})" for b in range(bands)
            )
            + ")) AS bb",
        )
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    )


def _pigeonhole_block_rows(
    df: DataFrame,
    hash_col: str,
    blocks: int,
    max_hamming: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``(*keep, hash_col, blk, bh)`` rows: the 64-bit ``hash_col`` cut
    into ``blocks`` blocks of 64/blocks bits, one row per block. Two
    hashes within Hamming distance blocks−1 differ in at most blocks−1
    blocks, so they share at least one identical block and meet in a
    (blk, bh) equi-join. A ``max_hamming`` above blocks−1 breaks that
    guarantee — qualifying pairs would be silently missed — so it
    raises ``ValueError``. The one block explode of
    ``simhash_near_pairs`` and ``multimodal.video_phash_near_pairs``."""
    if max_hamming > blocks - 1:
        raise ValueError(
            f"pigeonhole recall guarantee requires max_hamming ≤ blocks-1 "
            f"({max_hamming} > {blocks - 1}); raise `blocks`"
        )
    width = 64 // blocks
    return df.select(
        *keep,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bh"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select(*keep, hash_col, F.col("bb.blk").alias("blk"), F.col("bb.bh").alias("bh"))


def lsh_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """LSH banding + per-bucket self-join over precomputed MinHash
    signatures (columns ``mh_0..mh_{n-1}``) — the back half of
    ``minhash_lsh_pairs``, split out so a pipeline can materialize
    signatures/shingles once and reuse them (VERDICT r3 item 5).

    Buckets larger than ``max_bucket_size`` are star reduced: each
    oversize-bucket member pairs only with the bucket's two smallest
    ids instead of with every other member. Star edges are genuine
    co-bucketed candidates; for a consumer that clusters the RAW
    candidate graph the reduction is connectivity-equivalent. What is
    lost is *pair-level* recall inside oversize buckets (a member pair
    off the centers is only connected transitively), and — the sharper
    caveat — a pipeline that EXACT-VERIFIES candidates before
    clustering (``jaccard_threshold > 0``, e.g. ``pipeline.run_dedup``)
    routes every oversize-bucket pair through the center members:
    bucket members share one band hash (collision probability ~ s^r),
    not the full signature, so if a center happens to be a chance
    band-collider the verify stage fails that star's edges. With TWO
    centers (ADVICE r9/r10 remedy — the second-smallest id from the
    same census) severing a real cluster needs BOTH centers to be
    chance colliders (the severing property test pins the rescue and
    the residual case). At the default cap (4096) that needs a
    pathological corpus — a >4096-member bucket whose two smallest ids
    are non-duplicates — but it is a real recall trade the cap makes
    and the default is ON; size the cap above the corpus's honest
    dup-group sizes, or drop to ``max_bucket_size=None`` when exactness
    inside mega-buckets matters more than output bounds (SCALE.md
    records the trade). Pass a ``pyspark.sql.Observation`` to read how
    many members hit the cap."""
    stacked = _lsh_band_rows(sigs, id_col, num_hashes, bands, portable)
    left, right, cond = _capped_join_sides(
        stacked, ["band", "bh"], [id_col], id_col, max_bucket_size, observation
    )
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bh") == F.col("r.bh"))
        & cond,
    ).select(
        F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
    )
    return pairs.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verification
    stage after LSH): |A∩B| / (|A|+|B|−|A∩B|). The union size is derived
    from the (distinct) array sizes rather than materializing
    ``array_union`` per pair — one hash-set build per pair instead of two,
    and no per-pair array allocation.

    ``candidate_pairs`` is required: there is no all-pairs fallback (a
    cross join, quadratic in corpus size). The production chain is
    ``minhash_lsh_pairs`` → this verifier.

    ``shingles_df`` (columns ``id_col``, ``shingles``: array<string>)
    skips re-shingling entirely — ``pipeline.run_dedup`` materializes the
    shingle zone once and feeds it to both the LSH chain and this
    verifier, so the corpus text is walked a single time."""
    if shingles_df is not None:
        sh = shingles_df.select(
            F.col(id_col), F.col("shingles").alias("__sh")
        ).withColumn("__n", F.size("__sh"))
    else:
        sh = spread(df).select(
            F.col(id_col),
            word_shingles(F.col("text"), shingle_n).alias("__sh"),
        ).withColumn("__n", F.size("__sh"))
    joined = candidate_pairs.join(
        sh.withColumnsRenamed({id_col: "doc_a", "__sh": "__sha", "__n": "__na"}),
        "doc_a",
    ).join(
        sh.withColumnsRenamed({id_col: "doc_b", "__sh": "__shb", "__n": "__nb"}),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.col("__na") + F.col("__nb") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    out = joined.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= F.lit(threshold))
    return out


def containment_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric CONTAINMENT verification for candidate pairs —
    |A∩B|/|A| and |A∩B|/|B| — the near-SUPERSET detector symmetric
    Jaccard structurally misses: a short document embedded whole
    inside a long one has Jaccard ≈ |A|/|B| (tiny) but containment_a
    ≈ 1. The quote/inclusion/wrapper-page case every dedup pipeline
    hits (Broder 1997 introduced containment alongside resemblance
    for exactly this reason).

    Candidate-source caveat that decides recall: MinHash-LSH bands
    approximate JACCARD, so the embedded-short-doc pairs this verifier
    exists for often never band-collide — feed it
    `winnow_candidate_pairs` instead (shared rare substring
    fingerprints fire regardless of the size ratio; any shared run of
    ≥ w+k−1 chars produces one). A pair passes when its GREATER
    containment (6-dp rounded, the oracle contract) reaches
    ``threshold``.

    Scale shape: identical to `ngram_jaccard_pairs` — shingle sets
    join onto the (bounded) candidate pairs only, one hash-set
    intersection per pair, never a cross join."""
    sh = spread(df).select(
        F.col("doc_id"),
        word_shingles(F.col("text"), shingle_n).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    joined = (
        candidate_pairs.join(
            sh.withColumnsRenamed(
                {"doc_id": "doc_a", "__sh": "__sha", "__n": "__na"}
            ),
            "doc_a",
        ).join(
            sh.withColumnsRenamed(
                {"doc_id": "doc_b", "__sh": "__shb", "__n": "__nb"}
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    ca = F.round(
        F.when(F.col("__na") > 0, inter.cast("double") / F.col("__na"))
        .otherwise(F.lit(0.0)),
        6,
    )
    cb = F.round(
        F.when(F.col("__nb") > 0, inter.cast("double") / F.col("__nb"))
        .otherwise(F.lit(0.0)),
        6,
    )
    out = joined.select(
        "doc_a",
        "doc_b",
        ca.alias("containment_a"),
        cb.alias("containment_b"),
    )
    if threshold > 0:
        out = out.filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= F.lit(threshold)
        )
    return out


def simhash(
    df: DataFrame,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash fingerprint: per token t, h = xxhash64(t); for each
    bit position the signed vote is +1 if set else −1; fingerprint bit =
    sign of the vote sum. Explode + one groupBy with ``bits`` conditional
    sums (all JVM-side), reassembled with bit-shifts. ``portable=True``
    uses the 60-bit md5 hash (pass ``bits=60``) so a DuckDB oracle
    rebuilds the identical fingerprint."""
    if portable and bits > 60:
        raise ValueError("portable simhash carries at most 60 hash bits")
    toks = F.split(normalize_text(F.col("text")), " ")
    tok_hash = hash60(F.col("__t")) if portable else F.xxhash64(F.col("__t"))
    exploded = (
        spread(df)
        .select(F.col("doc_id"), F.explode(toks).alias("__t"))
        .withColumn("__h", tok_hash)
    )
    votes = [
        F.sum(
            F.when(
                F.col("__h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, 1
            ).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    agg = exploded.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(F.col("doc_id"), fp.alias("simhash"))


def winnow_candidate_pairs(
    fps_df: DataFrame,
    min_shared: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """Near-duplicate candidate pairs from winnowing fingerprints: the
    ``(id, fp)`` rows of `text.winnow_fingerprints(exploded=True)` (one
    per selected value; per-doc fingerprint uniqueness — which the
    shared-count aggregation relies on — is the producer's contract)
    equi-join on the fingerprint value (each fingerprint is a bucket —
    never all-pairs), and pairs sharing ≥ ``min_shared`` fingerprints
    are kept. By the winnowing coverage theorem a shared substring of
    length ≥ w + k − 1 shares at least one fingerprint, so this is the
    substring-level analogue of the MinHash-LSH candidate stage.

    Fingerprints held by more than ``max_bucket_size`` documents are
    DROPPED before pairing under the `_annotate_bucket_sizes` census —
    MOSS's common-match exclusion: a fingerprint shared by more than
    ~dozens of documents is boilerplate, and its bucket is also where
    the quadratic pair enumeration lives, so the document-frequency cut
    is both the quality filter and the scale guard. The other pair
    joins star reduce instead; here a star edge would still have to
    clear ``min_shared`` on its own. ``observation`` counts the dropped
    members and buckets; ``max_bucket_size=None`` pairs every
    bucket."""
    stacked = fps_df.select(F.col("doc_id"), F.col("fp"))
    left = right = stacked
    if max_bucket_size is not None:
        right, annotated = _annotate_bucket_sizes(
            stacked, ["fp"], ["doc_id"], max_bucket_size, observation
        )
        left = annotated.filter(F.col("__bsz").isNull()).drop("__mn")
        right = right.hint("shuffle_hash")
    pairs = left.alias("l").join(
        right.alias("r"),
        (F.col("l.fp") == F.col("r.fp"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
    )
    # fingerprint sets are distinct per doc, so count(*) per pair ==
    # the shared-fingerprint count
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_match_spans(
    pos_df: DataFrame,
    k: int = 15,
    w: int = 8,
    min_shared: int = 2,
    max_doc_freq: int = 64,
    max_positions: int = 16,
) -> DataFrame:
    """Localize winnowing candidate pairs to shared character SPANS —
    the match-reporting half of MOSS (Schleimer et al. 2003 §4) that
    `winnow_candidate_pairs` omits: from position-carrying fingerprints
    (`text.winnow_fingerprint_positions` rows ``(doc_id, fp, pos)``),
    matched fingerprints at the same offset DIAGONAL (``pos_a − pos_b``
    constant) are coalesced into maximal runs, yielding one row per
    shared span: ``(doc_a, doc_b, start_a, end_a, start_b, end_b,
    n_fps)`` with 1-based inclusive char offsets (a matched k-gram at
    ``pos`` covers chars ``[pos, pos+k−1]``).

    Semantics: by the winnowing coverage theorem any shared run of
    ≥ w+k−1 chars shares ≥ 1 selected fingerprint, and INTERIOR windows
    of a shared run select identical (hash, offset-relative) positions
    in both documents, so real duplication lands on one diagonal with
    selected positions ≤ w apart. Runs break when consecutive matched
    positions on a diagonal are more than w+k−1 apart: wide
    enough that winnowing's selection density can never split a
    genuine run, tight enough that separate occurrences stay separate.
    Spans with < ``min_shared`` matched fingerprints are dropped — the
    same noise rule as the candidate stage. These char spans are the
    pairwise localization that `corpus.remove_duplicate_spans` (global,
    token-level) can't provide without re-scanning: a curator excises
    ``[start_b, end_b]`` from the higher-id document directly.

    Scale guards (both oracle-replayable): fingerprints appearing in
    > ``max_doc_freq`` documents are DROPPED before pairing (MOSS's
    common-match exclusion, same knob as the candidate stage), and each
    document contributes at most ``max_positions`` positions per
    fingerprint (lowest offsets win) — without this a periodic document
    ("ab"×1e6) puts ONE fingerprint at ~every offset and the fp
    equi-join squares it. With both caps a fingerprint's join output is
    ≤ (max_doc_freq·max_positions)², independent of corpus size.
    ``max_positions=None`` skips the cap's row_number window (one whole
    exchange) — pass it when the producer already capped kernel-side
    (``winnow_fingerprint_positions(max_positions_per_fp=...)``, the
    identical rule for free).

    Plan shape (the LSH chain's one-pinned-exchange recipe,
    `_annotate_bucket_sizes`): the position table — whose upstream is
    the expensive Arrow winnow kernel — is pinned behind ONE explicit
    ``repartition(fp)``; the df-census aggregate, the stop-list join,
    and BOTH sides of the pair self-join hang off that same exchange
    (ReusedExchange), so the kernel executes exactly once and the pair
    join adds no shuffle. The diagonal islands and the span aggregate
    share one further exchange on (pair, diag) — bounded groups, no
    driver collect. Two wide shuffles total."""
    from pyspark.sql import Window

    # explicit notnull pre-filter BELOW the pinned exchange (the
    # _annotate_bucket_sizes recipe): the pair join infers
    # isnotnull(fp, doc) on its sides while the census branch infers
    # only isnotnull(fp) — without the shared filter the two branches'
    # exchange subtrees canonicalize differently and the kernel runs
    # once per branch. pos.isNotNull is in the shared filter too (r15,
    # ADVICE r14): the kernel never emits null pos, so it is a no-op on
    # the production path, but it makes the census's count(__p0) ≡
    # count_distinct equivalence unconditional for an externally
    # supplied pos_df (an all-null (fp, doc) group would otherwise be
    # census-invisible yet still enter the pair join).
    pinned = pos_df.filter(
        F.col("fp").isNotNull()
        & F.col("doc_id").isNotNull()
        & F.col("pos").isNotNull()
    ).repartition(F.col("fp"))
    # MOSS common-match exclusion: document-frequency stop list. No
    # forced broadcast — distinct low-df fingerprints grow with corpus
    # size; co-partitioned on
    # fp, the join costs no exchange, and AQE may still upgrade it to
    # broadcast from the MEASURED size. The census is a TWO-LEVEL
    # aggregate — (fp, doc) dedup then a per-fp row count — instead of
    # count_distinct: a single count_distinct plans its dedup level
    # with an ENSURE_REQUIREMENTS exchange on (fp, doc), which does NOT
    # canonicalize against the pinned repartition(fp), so the whole
    # upstream kernel executed a second time just to feed the stop
    # list (measured r14: two ~1 s serial kernel stages per run).
    # hashpartitioning(fp) satisfies ClusteredDistribution(fp, doc) —
    # every partitioning column is in the clustering set — so both
    # levels run inside the pinned exchange's stage and the kernel
    # executes exactly once.
    # min("pos") at the dedup level (instead of a bare distinct) keeps
    # `pos` alive through column pruning so the census branch's pruned
    # projection matches the join branches' exactly; count(__p0) at the
    # outer level equals the distinct-doc count because the kernel never
    # emits a null pos. Both aggregate levels' ClusteredDistribution is
    # satisfied by hashpartitioning(fp), so the census executes inside
    # the reused pinned exchange's stage.
    fp_ok = (
        pinned.groupBy("fp", "doc_id")
        .agg(F.min("pos").alias("__p0"))
        .groupBy("fp")
        .agg(F.count("__p0").alias("__nd"))
        .filter(F.col("__nd") <= max_doc_freq)
        .select("fp")
    )
    capped = pinned.join(fp_ok, "fp")
    if max_positions is not None:
        # per-(doc, fp) position cap — self-periodic text guard
        rk = Window.partitionBy("doc_id", "fp").orderBy("pos")
        capped = (
            capped.withColumn("__rk", F.row_number().over(rk))
            .filter(F.col("__rk") <= max_positions)
            .drop("__rk")
        )
    a, b = capped.alias("a"), capped.alias("b")
    m = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    # gaps-and-islands per diagonal: (pos_a is unique within a
    # (doc_a, doc_b, diag) group — pos determines the k-gram hash and
    # diag pins pos_b — so the ordering is total and deterministic)
    isl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    brk = (
        F.when(F.col("pos_a") - F.lag("pos_a").over(isl) > w + k - 1, 1)
        .otherwise(0)
        .alias("__brk")
    )
    grouped = m.select("*", brk).select(
        "*", F.sum("__brk").over(isl).alias("__grp")
    )
    return (
        grouped.groupBy("doc_a", "doc_b", "diag", "__grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.max("pos_a") + F.lit(k - 1)).alias("end_a"),
            F.count(F.lit(1)).alias("n_fps"),
        )
        .filter(F.col("n_fps") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            "end_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            (F.col("end_a") - F.col("diag")).alias("end_b"),
            "n_fps",
        )
    )


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: pigeonhole on ``blocks`` 16-bit
    blocks (Hamming ≤ blocks−1 guarantees ≥1 identical block), equi-join
    per block, verify exact Hamming distance with bit_count(xor).
    The Hamming filter sits BELOW the pair distinct, so non-qualifying
    candidates never enter the dedup exchange; blocks whose bucket
    exceeds ``max_bucket_size`` are star reduced (each member pairs
    with the bucket's two smallest members only — connectivity-
    equivalent for clustering, linear output; see
    ``lsh_pairs_from_signatures``). The bucket census and the pair join
    both read ``fingerprints``: a caller whose fingerprints come from
    an expensive kernel checkpoints them first (see
    ``multimodal.phash_near_pairs``)."""
    stacked = _pigeonhole_block_rows(
        fingerprints, "simhash", blocks, max_hamming, keep=(id_col,)
    )
    left, right, cond = _capped_join_sides(
        stacked, ["blk", "bh"], [id_col], id_col, max_bucket_size, observation
    )
    pairs = left.join(
        right,
        (F.col("l.blk") == F.col("r.blk"))
        & (F.col("l.bh") == F.col("r.bh"))
        & cond,
    ).select(
        F.col(f"l.{id_col}").alias("doc_a"),
        F.col(f"r.{id_col}").alias("doc_b"),
        F.bit_count(
            F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
        ).alias("hamming"),
    )
    # filter BEFORE distinct: a pair's hamming is a pure function of its
    # two fingerprints, so dedup sees only qualifying rows (VERDICT r8 #1)
    return pairs.filter(F.col("hamming") <= F.lit(max_hamming)).distinct()


# Edge-count threshold of duplicate_clusters' driver union-find path.
# The Arrow transfer of 1M edges is 16 MB, but the unpacked Python int
# lists and the union-find parent dict peak at a few hundred MB, which
# is what the threshold budgets for.
DRIVER_SOLVE_MAX_EDGES = 1_000_000
# Round budget of the distributed path's FastSV loop; O(log n) rounds
# resolve any graph shape, so hitting it means something is wrong.
MAX_ITERATIONS = 25


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve verified duplicate pairs into clusters: every document that
    appears in a pair gets the MINIMUM doc id reachable through the
    duplicate graph as its ``canonical_id`` (connected components). The
    training-pipeline contract downstream of LSH→verify: keep one doc per
    cluster (``doc_id == canonical_id``), drop the rest. The first two
    columns of ``pairs`` are the edge endpoints; edges with a null
    endpoint are ignored.

    The edge table is ``localCheckpoint``-ed and counted once (so the
    LSH→verify chain runs exactly once), and the count picks one of two
    paths with identical component-minimum output:

    - at or below ``DRIVER_SOLVE_MAX_EDGES`` edges: an exact union-find
      on the driver, in one pass. The verified duplicate-pair graph is
      usually TINY relative to the corpus (LSH→verify keeps ~0.1-1% of
      docs), and every distributed round costs fixed scheduler latency
      regardless of data size — the same bet a broadcast join makes.
    - above it: the distributed path. ONE large-star/small-star
      contraction round (Kiveris et al., "Connected Components in
      MapReduce and Beyond") collapses the clone-cliques that dominate
      near-dup graphs, then FastSV min-label propagation with pointer
      jumping (Zhang/Azad/Buluç 2020) certifies the fixpoint in
      O(log n) rounds on any graph shape. More than ``MAX_ITERATIONS``
      rounds raise instead of returning a partial labelling.
    """
    edges_src = (
        pairs.select(
            F.col(pairs.columns[0]).alias("doc_a"),
            F.col(pairs.columns[1]).alias("doc_b"),
        )
        .na.drop()
        .localCheckpoint()
    )
    if edges_src.count() <= DRIVER_SOLVE_MAX_EDGES:
        return _duplicate_clusters_driver(edges_src)
    # measured on the 31.7M-edge sf10 verified-pair graph: 31 scheduled
    # jobs vs plain FastSV's 33 (one fewer checkpointed iteration round)
    # with bit-identical labels
    return _duplicate_clusters_distributed(edges_src)


def _duplicate_clusters_driver(pairs: DataFrame) -> DataFrame:
    """Exact union-find over a bounded, already-checkpointed edge table
    (duplicate_clusters' small-graph path — it gates on edge count
    BEFORE collecting). Union-by-minimum keeps each tree's root
    at the smallest id seen, so after path compression every node's
    root IS the component minimum — the same canonical_id FastSV
    converges to.

    Edges land via Arrow (``toPandas`` + one C-level ``tolist`` pass
    per column → plain Python ints), not ``collect()``: PySpark Row
    objects cost ~10× the memory of the bare values, which is what made
    the old 2M-edge default unsafe on small drivers (ADVICE r7).
    duplicate_clusters drops null endpoints BEFORE the transfer (ADVICE
    r8): a null edge is meaningless for connected components, and pandas
    would promote the whole int64 column to float64 — silently
    diverging union-find keys and breaking the LongType re-create."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    id_type = pairs.schema[0].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    pdf = pairs.toPandas()
    for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = [(n, find(n)) for n in parent]
    schema = StructType(
        [StructField("doc_id", id_type), StructField("canonical_id", id_type)]
    )
    # Hand the result back as a pandas frame, not a list of tuples: the
    # list path parallelizes through pickled PythonRDD partitions, so
    # every downstream task pays a Python-worker roundtrip just to
    # deserialize rows the driver already holds (profiled at ~8 s of
    # task time on the components-zone write). The pandas path rides
    # Arrow when enabled and stays JVM-side afterwards either way.
    pd_out = pd.DataFrame(out, columns=["doc_id", "canonical_id"])
    return pairs.sparkSession.createDataFrame(pd_out, schema)


def _duplicate_clusters_fastsv(pairs: DataFrame) -> DataFrame:
    """FastSV: Shiloach–Vishkin-style min-label propagation with pointer
    jumping, the distributed path's inner loop. Labels are seeded with
    ``min(node, min(Γ(node)))`` — one hooking step folded into the same
    shuffle that deduplicates the node set — then each round does (a)
    *hooking*: take the min of the neighbours' labels (equi-join +
    map-side-combinable min aggregate), and (b) *shortcutting*:
    ``lbl ← lbl(lbl)``, a self-equi-join of the label table that jumps
    each pointer one level toward its root. Shortcutting makes label
    trees halve in height every round, so convergence is O(log n)
    rounds on ANY graph shape. Labels only ever decrease and always
    hold the id of a node in the same component, so the fixpoint —
    where every node's label equals all its neighbours' labels and its
    label's label — is the component minimum; a round with zero strict
    decreases certifies it.

    Every round is ``localCheckpoint``-ed: each iteration's logical plan
    references the previous one more than once, so with cache-only
    lineage the analyzed plan grows 2^i copies of the upstream pair
    pipeline and plan analysis OOMs the driver after ~6 rounds.
    Checkpointing truncates lineage to the materialized blocks (the
    GraphFrames pattern for iterative algorithms); on a cluster where
    executor loss must be survivable, point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap
    ``localCheckpoint`` for ``checkpoint``."""
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = sym.localCheckpoint()
    # seed = one hooking step for free: the distinct-node shuffle is a
    # groupBy anyway, so fold min(node, min(neighbours)) into it
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("src"), F.min("dst")).alias("lbl"))
        .localCheckpoint()
    )
    for it in range(MAX_ITERATIONS):
        l1 = labels.select(F.col("node").alias("n1"), F.col("lbl").alias("f1"))
        # hooking: min over neighbours' current labels; the pre-round
        # label rides along as __old so change detection needs no third
        # join back against the label table
        nbr = (
            edges.join(l1, edges.dst == F.col("n1"))
            .groupBy("src")
            .agg(F.min("f1").alias("nbr_lbl"))
        )
        hooked = labels.join(nbr, labels.node == nbr.src, "left").select(
            "node",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("hl"),
            F.col("lbl").alias("__old"),
        )
        # shortcut: lbl <- lbl(lbl), jumping one level toward the root
        h2 = hooked.select(F.col("node").alias("p_node"), F.col("hl").alias("p_lbl"))
        new_lbl = F.least(F.col("hl"), F.coalesce(F.col("p_lbl"), F.col("hl")))
        updated = (
            hooked.join(h2, hooked.hl == h2.p_node, "left")
            .select(
                "node",
                new_lbl.alias("lbl"),
                (new_lbl < F.col("__old")).alias("__chg"),
            )
            .localCheckpoint()
        )
        labels = updated.select("node", "lbl")
        # convergence check every 2nd round (and on the last): the
        # count is a cheap scan of the just-checkpointed blocks, but
        # it is still one scheduled job per round — halving the cadence
        # costs at most one extra (no-op) compute round when the
        # fixpoint lands on an unchecked round
        if it % 2 == 1 or it == MAX_ITERATIONS - 1:
            if updated.filter(F.col("__chg")).count() == 0:
                break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {MAX_ITERATIONS} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("canonical_id")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star rewrite (Kiveris et al. 2014 §3): strictly-larger
    neighbours re-point at each node's local minimum. Preserves
    connected components and every edge endpoint's component."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.min("dst").alias("__mn")
    ).select("src", F.least(F.col("__mn"), F.col("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star rewrite (Kiveris et al. 2014 §3): orient toward the
    smaller id, re-point each node's neighbourhood at its minimum."""
    oriented = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).distinct()
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _duplicate_clusters_distributed(pairs: DataFrame) -> DataFrame:
    """ONE large-star/small-star contraction round, then FastSV over the
    contracted edges. Near-dup graphs are overwhelmingly clone-cliques
    and small stars; a single star round collapses a clique to a star
    centred on its minimum, shrinking both the edge COUNT (m·k → m per
    clique) and the label-tree HEIGHT that FastSV's pointer jumping must
    halve away — so FastSV starts from an almost-converged graph and
    certifies the fixpoint in 1-2 rounds instead of O(log diameter).

    Correctness: the star rewrites preserve connected components, every
    rewrite points at a LOCAL MINIMUM of the same component (never a
    foreign node), and every node incident to a non-self edge stays
    incident to an edge (a non-minimal node is re-pointed at a smaller
    clustermate; a local minimum keeps its tree children) — so FastSV
    over the contracted edges labels exactly the nodes with a non-self
    edge, with the component-minimum canonical ids. A node whose only
    edges are self-loops is its own singleton cluster. Any other node
    left without a label breaks that argument, and fails the query
    through ``raise_error`` in the final projection instead of mapping
    silently to itself."""
    linked = F.col("doc_a") != F.col("doc_b")
    nodes = (
        pairs.select(F.col("doc_a").alias("node"), linked.alias("__linked"))
        .union(pairs.select(F.col("doc_b").alias("node"), linked))
        .groupBy("node")
        .agg(F.max("__linked").alias("__linked"))
    )
    edges0 = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    contracted = _small_star(_large_star(edges0)).localCheckpoint()
    labels = _duplicate_clusters_fastsv(
        contracted.select(
            F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
        )
    )
    unlabelled = F.raise_error(
        F.concat(
            F.lit("duplicate_clusters: no component label for node "),
            F.col("node").cast("string"),
        )
    )
    return nodes.join(labels, nodes.node == labels.doc_id, "left").select(
        F.col("node").alias("doc_id"),
        F.when(F.col("canonical_id").isNotNull(), F.col("canonical_id"))
        .when(~F.col("__linked"), F.col("node"))
        .otherwise(unlabelled)
        .alias("canonical_id"),
    )


def prioritized_exact_dedup(df: DataFrame, priority: Column) -> DataFrame:
    """Exact content dedup keeping the BEST copy per duplicate set rather
    than the smallest id: among rows sharing a normalized-text digest,
    keep the one minimizing (priority, id) — e.g. priority = source rank,
    so a curated-source copy beats a crawl copy of the same text. One
    shuffle on the digest; min_by carries (priority, id) pairs, never
    text, through the aggregate."""
    digest = F.md5(normalize_text(F.col("text")))
    keyed = df.select(
        digest.alias("__digest"),
        F.col("doc_id"),
        priority.cast("long").alias("__prio"),
    )
    best = F.min_by(
        F.col("doc_id"), F.struct(F.col("__prio"), F.col("doc_id"))
    )
    return (
        keyed.groupBy("__digest")
        .agg(
            best.alias("doc_id"),
            F.min("__prio").alias("kept_priority"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__digest")
    )


def incremental_dedup(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental ingest dedup: admit only batch documents whose
    normalized-text digest is NEW — absent from the already-ingested
    corpus ``index`` AND unique within the batch (minimum id wins, with
    the within-batch duplicate count kept for the ingest report). The
    crawl-pipeline primitive: each arriving batch dedups against the
    running index, and the returned (id, digest) rows are exactly what
    gets appended to both the corpus and the index — so the index stays
    a digest-only table (16 B a row, not bodies) no matter how many
    petabytes the corpus grows.

    Plan shape: one digest groupBy over the batch, then a LEFT ANTI join
    against the index on the digest. The anti join carries no
    broadcast hint: the index grows without bound, so AQE picks the
    join from its measured size, and past the broadcast threshold it
    shuffles digests only. At full scale, bucket BOTH sides by digest
    so repeated ingests co-locate without reshuffling the ever-growing
    index."""
    digest = F.md5(normalize_text(F.col("text")))
    kept = (
        batch.withColumn("__digest", digest)
        .groupBy("__digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("batch_dups"),
        )
    )
    idx = index.select(F.col("digest").alias("__digest")).distinct()
    return kept.join(idx, "__digest", "left_anti").select(
        F.col("doc_id"), F.col("__digest").alias("digest"), "batch_dups"
    )


def edit_similarity_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    prefix_chars: int = 256,
) -> DataFrame:
    """Character-level verification for candidate pairs: normalized
    Levenshtein similarity 1 − dist/max(len) over the first
    ``prefix_chars`` characters of the normalized text. The
    complementary verifier to token Jaccard — bag-of-shingles misses
    small character-level edits (OCR noise, template fills,
    near-identical boilerplate with one substituted entity), which an
    edit distance catches directly.

    Scale shape: Levenshtein is O(len_a x len_b) PER PAIR, so two hard
    bounds apply — (1) it only ever runs on LSH candidate pairs (no
    all-pairs fallback at all; this verifier refuses to exist without
    candidates), and (2) both sides are truncated to ``prefix_chars``
    normalized characters, capping the per-pair cost at a constant
    (256x256 cells default). The distance runs JVM-side
    (``F.levenshtein``, whole-stage codegen) — no Python in the loop.

    Oracle note: DuckDB's levenshtein counts BYTES while Spark's counts
    CODEPOINTS, so the oracle-checked query strips non-ASCII before
    comparing; this operator itself is codepoint-correct on any input.
    """
    norm = F.substring(normalize_text(F.col("text")), 1, int(prefix_chars))
    sides = df.select(F.col("doc_id"), norm.alias("__t"))
    joined = candidate_pairs.join(
        sides.withColumnsRenamed({"doc_id": "doc_a", "__t": "__ta"}), "doc_a"
    ).join(
        sides.withColumnsRenamed({"doc_id": "doc_b", "__t": "__tb"}), "doc_b"
    )
    la, lb = F.length("__ta"), F.length("__tb")
    longest = F.greatest(la, lb)
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"))
    sim = F.when(longest > 0, 1.0 - dist.cast("double") / longest).otherwise(
        F.lit(1.0)
    )
    return joined.select(
        "doc_a",
        "doc_b",
        dist.alias("edit_distance"),
        F.round(sim, 6).alias("edit_sim"),
    )


def lsh_pairs_between(
    batch_sigs: DataFrame,
    index_sigs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """LSH candidates BETWEEN two corpora (the incremental twin of
    ``lsh_pairs_from_signatures``): band both signature tables, then an
    equi-join of the batch's band rows against the index's — never a
    self-join, so only cross-corpus buckets materialize. Returns
    distinct (doc_id = batch id, match_id = index id).

    Scale shape: the index side persists as the banded (id, band, bh)
    table — ``bands`` rows of three longs per indexed doc, bucketable
    by (band, bh) so each arriving batch co-locates against it without
    reshuffling the ever-growing index (the near-dup analogue of
    incremental_dedup's digest index)."""
    left = _lsh_band_rows(batch_sigs, "doc_id", num_hashes, bands, portable)
    right = _lsh_band_rows(index_sigs, "doc_id", num_hashes, bands, portable)
    return (
        left.alias("l").join(
            right.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("match_id"),
        )
        .distinct()
    )


def incremental_near_dedup(
    batch: DataFrame,
    index_docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-duplicate rejection — the fuzzy companion to
    ``incremental_dedup``'s exact-digest gate, completing the crawl
    front door: an arriving batch is LSH-matched against the already-
    ingested corpus and every batch doc whose token Jaccard with an
    index doc reaches ``threshold`` is reported as a reject (one row
    per (doc_id, match_id, jaccard)); callers LEFT ANTI join the batch
    against the returned doc_ids to admit the rest, and append the
    admitted docs' band rows to the index.

    Plan shape: signatures for the batch only are computed fresh (the
    index side would be the persisted banded table in production — it
    is recomputed here so the operator is self-contained); candidates
    come from the cross-corpus band join (lsh_pairs_between), and only
    candidates are verified exactly — no all-pairs path exists.

    The verify lookup table is the batch ∪ index texts keyed by
    SIDE-TAGGED ids ("b:"/"i:" prefixes, stripped on output): batch and
    index id spaces need not be disjoint (a re-crawl legitimately
    presents an id the index already holds, with different text), and
    an untagged union would fan the verify join out across the
    colliding id's rows and emit mixed-text jaccard values (ADVICE
    r7)."""
    bs = minhash_signatures(
        batch, num_hashes=num_hashes, shingle_n=shingle_n, portable=portable
    )
    isig = minhash_signatures(
        index_docs, num_hashes=num_hashes, shingle_n=shingle_n, portable=portable
    )
    cands = lsh_pairs_between(
        bs, isig, num_hashes=num_hashes, bands=bands, portable=portable
    )
    id_type = batch.schema["doc_id"].dataType
    both = batch.select(
        F.concat(F.lit("b:"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    ).unionByName(
        index_docs.select(
            F.concat(F.lit("i:"), F.col("doc_id").cast("string")).alias("doc_id"),
            "text",
        )
    )
    verified = ngram_jaccard_pairs(
        both,
        candidate_pairs=cands.select(
            F.concat(F.lit("i:"), F.col("match_id").cast("string")).alias(
                "doc_a"
            ),
            F.concat(F.lit("b:"), F.col("doc_id").cast("string")).alias(
                "doc_b"
            ),
        ),
        # verify at token level (the dedup_token_jaccard convention) —
        # candidate RECALL comes from the shingled signatures, exact
        # PRECISION from the token-set measure
        shingle_n=1,
        threshold=threshold,
    )
    return verified.select(
        F.expr("substring(doc_b, 3)").cast(id_type).alias("doc_id"),
        F.expr("substring(doc_a, 3)").cast(id_type).alias("match_id"),
        "jaccard",
    )


def split_leakage(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-split NEAR-duplicate leakage audit — the eval-hygiene check
    a deterministic train/val/test split (corpus.assign_split) cannot
    give by construction: an eval document whose near-duplicate sits in
    train silently inflates every benchmark score. Reports one row per
    leaked (eval doc, train doc) pair with its verified token Jaccard
    and the eval doc's split label; a clean corpus returns zero rows.
    The split is ``corpus.assign_split``'s 80/10/10 under seed "split1".

    Plan shape is ``incremental_near_dedup`` with the split predicate as
    the corpus partition: signatures once over the whole corpus, a
    CROSS-side band equi-join (train bands vs eval bands — never a
    self-join), exact Jaccard on candidates only. At 100 TB the train
    side persists as the banded (id, band, bh) table bucketed by
    (band, bh); each eval refresh co-locates against it."""
    from stglib_spark.operators.corpus import assign_split, split_thresholds

    labelled = assign_split(df)
    eval_docs = labelled.filter(F.col("split") != "train")
    train_docs = labelled.filter(F.col("split") == "train")
    leaks = incremental_near_dedup(
        eval_docs,
        train_docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        portable=portable,
        threshold=threshold,
    )
    thr_val, _ = split_thresholds(0.1, 0.1)
    h = hash60(F.col("doc_id").cast("string"), seed="split1")
    return leaks.select(
        "doc_id",
        F.when(h < F.lit(thr_val), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.col("match_id").alias("train_doc_id"),
        "jaccard",
    )
