"""Training-corpus construction operators: deterministic sampling,
benchmark decontamination, within-document repetition metrics.

These extend the engine beyond the reference's own surface (BASELINE.json
north star) with the operations a 100 TB pretraining-data pipeline runs
after dedup/quality scoring:

- sampling must be DETERMINISTIC (hash of the id, not rand()) so a mix is
  reproducible across runs and resumable after failure — and so an
  auditor can re-derive membership for any row;
- decontamination is an n-gram semi-join against the (small) benchmark
  set — broadcast the benchmark grams, never shuffle the corpus;
- repetition metrics are pure array expressions per document (no
  shuffle), the Gopher-style "repetitious document" gates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from stglib_spark.operators.dedup import hash60, word_shingles
from stglib_spark.operators.text import _ALPHA


def sample_key(col: Column, seed: str = "") -> Column:
    """Deterministic sampling key in [0, 1): the portable 60-bit md5 hash
    of (seed || id) scaled to the unit interval. Identical arithmetic in
    DuckDB, so sampled membership is oracle-checkable bit-for-bit. For
    pure throughput (no oracle) xxhash64 of the id is ~3× cheaper —
    same two-line shape."""
    return hash60(col.cast("string"), seed=seed or None) / F.lit(
        float(1 << 60)
    )


def stratified_sample(
    df: DataFrame,
    strata: Column,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "mix1",
) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    keep a row iff its sampling key falls under its stratum's fraction.
    One codegen'd projection + filter — no shuffle, no rand(), rerunning
    yields the identical sample (the property training-mix reproducibility
    and failure-resumption depend on).

    ``strata`` is any Column expression labelling the row's stratum (e.g.
    a quality bucket); ``fractions`` maps stratum label → keep fraction.
    Unlisted strata are dropped."""
    frac = F.lit(0.0)
    for label, f in fractions.items():
        frac = F.when(strata == F.lit(label), F.lit(float(f))).otherwise(frac)
    return df.withColumn("__stratum", strata).filter(
        sample_key(F.col(id_col), seed) < frac
    ).drop("__stratum")


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    ngram: int = 13,
) -> DataFrame:
    """Benchmark decontamination, detection half: ids of corpus documents
    sharing at least one word ``ngram``-gram with any benchmark document
    (the GPT-3/PaLM-style exact-overlap rule; 13-grams standard for real
    corpora). Returns (id, n_hit_grams).

    Scale shape: benchmark gram sets are tiny next to the corpus (a few
    thousand eval documents vs billions of training docs), so the
    distinct benchmark grams are BROADCAST and the corpus side never
    shuffles — the join cost is one scan of the corpus at gram-hash
    probe speed."""
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col("text"), ngram)).alias("gram")
        )
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), ngram)).alias("gram"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def duplicate_ngram_fraction(
    df: DataFrame,
    ngram: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document CROSS-document repetition signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" /
    C4-style gate that near-dup pair detection misses): the share of a
    document's distinct word ``ngram``-grams that occur in at least
    ``min_docs`` documents. Boilerplate-heavy docs score high even when
    no single other document is a near-duplicate of them.

    Scale shape: grams leave the document as 64-bit hashes — the text
    itself never shuffles. Two shuffles total: the doc-frequency
    aggregate on gram hash (map-side combinable; each (doc, gram) pair
    is already distinct via word_shingles' array_distinct, so count(*)
    IS the doc frequency), and the per-doc rollup; the freq→grams join
    reuses the aggregate's own hash partitioning. 64-bit collisions
    merge two grams' doc counts — at 10^12 corpus grams that is a few
    10^4 collisions, noise for a quality fraction (the oracle runs at
    test SFs where the collision probability is ~1e-10)."""
    grams = df.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), ngram)).alias("__gram"),
    ).select(F.col("doc_id"), F.xxhash64("__gram").alias("__g"))
    freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    return (
        grams.join(freq, "__g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") >= min_docs).cast("long")).alias(
                "n_dup_grams"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (F.col("n_dup_grams") / F.col("n_grams")).alias("dup_gram_frac"),
        )
    )


def positional_word_ngrams(text: Column, n: int) -> Column:
    """Array of contiguous word ``n``-grams of the RAW text, index i =
    the gram starting at token i (length = n_tokens − n + 1; empty for
    shorter docs). Same O(n·L) shifted-copy ``zip_with`` construction as
    dedup.word_shingles, but positional: no normalization, no distinct —
    the index is the payload. (``transform(sequence, i -> slice(...))``
    is O(L²): non-literal slice re-walks the array per position.)"""
    toks = F.split(text, " ")
    length = F.size(toks)
    if n == 1:
        return toks
    combined = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, length)
        combined = F.zip_with(
            combined, shifted, lambda a, b: F.concat_ws(" ", a, b)
        )
    # cut the ragged tail: gram i is complete iff token i+n-1 exists
    return F.filter(
        F.zip_with(
            combined,
            F.slice(toks, n, length),
            lambda a, b: F.when(b.isNotNull(), a),
        ),
        lambda x: x.isNotNull(),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN removal (the Lee et al. 2022 ExactSubstr
    contract at word granularity, reference-free extension): any
    contiguous ``ngram``-token span that occurs in ≥ ``min_docs``
    documents is excised from every document EXCEPT the one with the
    minimum doc_id containing it. A token is removed when any duplicated
    non-canonical span covers it — so a span's canonical occurrence
    normally survives, but an OVERLAPPING span whose canonical is an
    earlier document can still excise tokens inside it (the gold-model
    test pins this interaction). Returns (doc_id, n_tokens, n_removed,
    cleaned_text) for every input document — cleaned_text is the
    surviving tokens joined by single spaces, possibly empty for exact
    full-document duplicates.

    Scale shape: spans leave the document as 64-bit hashes with integer
    start positions — three shuffles on hashed/int columns (span
    doc-frequency aggregate, masked-position dedup, per-doc mask
    rollup), none carrying text. The text moves exactly once: the final
    doc_id equi-join that delivers each doc its (sorted-int-array) mask;
    pre-bucketing the corpus by doc_id at ingest makes that join
    shuffle-free on the text side. The rebuild is a map-side
    filter/transform over the token array. 64-bit span-hash collisions
    can merge two spans' doc sets (~1e-5 at 1e7 spans) — acceptable for
    a removal gate; use a 128-bit hash pair where not."""
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    grams = (
        df.select(
            F.col(id_col),
            F.posexplode(
                positional_word_ngrams(F.col(text_col), ngram)
            ).alias("pos", "__gram"),
        )
        .select(F.col(id_col), "pos", F.xxhash64("__gram").alias("__g"))
    )
    # the gram table feeds BOTH the frequency aggregate and the probe side
    # of the mask join; without a persist the zip_with construction (an
    # interpreted higher-order-function chain, the most expensive
    # expression here) runs twice. (id, pos, hash) is 20 B/gram —
    # MEMORY_AND_DISK spills cleanly at corpus scale.
    from pyspark import StorageLevel

    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    freq = grams.groupBy("__g").agg(
        F.countDistinct(id_col).alias("__nd"), F.min(id_col).alias("__md")
    )
    masked = (
        grams.join(freq, "__g")
        .where((F.col("__nd") >= min_docs) & (F.col(id_col) != F.col("__md")))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (ngram - 1))
            ).alias("__mp"),
        )
        .distinct()
    )
    maskarr = masked.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__mp")).alias("__mask")
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"), lambda t, i: F.struct(t.alias("t"), i.alias("i"))
        ),
        lambda s: F.col("__mask").isNull()
        | ~F.array_contains(F.col("__mask"), s["i"]),
    )
    return (
        base.join(maskarr, id_col, "left")
        .select(
            F.col(id_col),
            F.size("__toks").alias("n_tokens"),
            F.when(F.col("__mask").isNull(), F.lit(0))
            .otherwise(F.size("__mask"))
            .alias("n_removed"),
            F.concat_ws(
                " ", F.transform(kept, lambda s: s["t"])
            ).alias("cleaned_text"),
        )
    )


def excise_char_spans(df: DataFrame, spans: DataFrame) -> DataFrame:
    """Remove CHARACTER ranges from documents: ``spans`` carries
    (doc_id, start, end) rows — 1-based inclusive char offsets, e.g.
    the (doc_b, start_b, end_b) side of `dedup.winnow_match_spans`,
    which localizes pairwise duplication to the higher-id document so
    the lower-id occurrence stays canonical (the char-level targeted
    complement of `remove_duplicate_spans`' global token-level rule).
    Returns (id, n_chars, n_removed, cleaned_text) for EVERY input
    document; untouched docs pass through with n_removed = 0.

    Shape: overlapping/adjacent ranges merge by gaps-and-islands over a
    running interval max (one window exchange on the SPANS table —
    int-only rows), then each doc's kept text rebuilds from the
    segments BETWEEN merged ranges (lag(end) window + substring), NOT
    from a per-char position mask: segment count = ranges + 1,
    independent of document length, where a char-level range-explode
    mask would shuffle one row per excised character. The text moves
    exactly once, in the final per-doc left join of (sorted segment
    array → concat). Everything is deterministic integer/window
    arithmetic, so a SQL oracle replays the rebuild byte-for-byte
    (md5-provable)."""
    # 1) merge overlapping/adjacent [start, end] ranges per doc
    sp = spans.select(
        F.col("doc_id"), F.col("start").cast("int"), F.col("end").cast("int")
    ).distinct()
    ord_w = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max = F.max("end").over(
        ord_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.when(F.col("start") > F.coalesce(prev_max, F.lit(0)) + 1, 1)
        .otherwise(0)
        .alias("__brk")
    )
    merged = (
        sp.select("*", brk)
        .select("*", F.sum("__brk").over(ord_w).alias("__grp"))
        .groupBy("doc_id", "__grp")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
    )
    # 2) kept segment BEFORE each merged range: [prev_e + 1, s - 1]
    seg_w = Window.partitionBy("doc_id").orderBy("s")
    seg_start = (F.coalesce(F.lag("e").over(seg_w), F.lit(0)) + 1).alias(
        "__ss"
    )
    per_doc = (
        merged.select(F.col("doc_id"), "s", "e", seg_start)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__ss"), F.col("s")))
            ).alias("__segs"),
            F.max("e").alias("__tail_from"),
            F.sum(F.col("e") - F.col("s") + F.lit(1)).alias("n_removed"),
        )
    )
    joined = df.select(F.col("doc_id"), F.col("text")).join(
        per_doc, "doc_id", "left"
    )
    head = F.concat_ws(
        "",
        F.transform(
            F.col("__segs"),
            lambda x: F.col("text").substr(
                x["__ss"], x["s"] - x["__ss"]
            ),
        ),
    )
    tail = F.col("text").substr(
        F.col("__tail_from") + 1, F.length("text")
    )
    cleaned = F.when(
        F.col("__segs").isNull(), F.col("text")
    ).otherwise(F.concat(head, tail))
    return joined.select(
        F.col("doc_id"),
        F.length("text").alias("n_chars"),
        F.coalesce(F.col("n_removed"), F.lit(0))
        .cast("long")
        .alias("n_removed"),
        cleaned.alias("cleaned_text"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Within-document repetition metrics (Gopher-style repetitious-text
    gates), all as per-row array expressions — no shuffle, scan speed:

    - ``n_lines`` / ``dup_line_frac``: fraction of non-empty lines that
      are duplicates of an earlier line;
    - ``dup_line_char_frac``: fraction of line characters inside
      duplicated lines (a doc with one huge repeated line is worse than
      one with two short ones);
    - ``top_token_frac``: fraction of tokens that are the single most
      frequent token (degenerate-repetition signal).

    The char-fraction and top-token metrics use ``aggregate`` over the
    distinct values — O(distinct × total) per document, fine for the
    line/token counts real documents have; they are per-row expressions,
    so cost scales with the document, not the corpus.
    """
    t = F.col("text")
    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    # characters in lines occurring more than once: for each DISTINCT
    # line, count occurrences; if > 1 its chars are duplicated mass
    dup_chars = F.aggregate(
        F.array_distinct(lines),
        F.lit(0).cast("long"),
        lambda acc, d: acc
        + F.when(
            F.size(F.filter(lines, lambda x: x == d)) > 1,
            F.size(F.filter(lines, lambda x: x == d)).cast("long")
            * F.length(d),
        ).otherwise(F.lit(0).cast("long")),
    )
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(t), r"[ \t\n\x0B\f\r]+", " ")), " "
    )
    n_toks = F.size(toks)
    top_tok = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda x: x == d)),
        )
    )
    return df.select(
        F.col("doc_id"),
        n_lines.alias("n_lines"),
        F.round(
            F.when(n_lines > 0, (n_lines - n_dist) / n_lines).otherwise(0.0), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(total_chars > 0, dup_chars / total_chars).otherwise(0.0), 6
        ).alias("dup_line_char_frac"),
        F.round(
            F.when(n_toks > 0, top_tok / n_toks).otherwise(0.0), 6
        ).alias("top_token_frac"),
    )


# Redaction patterns chosen to parse identically under Java regex (Spark)
# and DuckDB's RE2-style engine: no backreferences, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "PHONE": r"(\+?\d{1,2}[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b",
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact_pii(df: DataFrame) -> DataFrame:
    """Training-data hygiene: replace emails / IPs / phone numbers / SSNs
    with ``[CATEGORY]`` placeholders and count replacements per category.
    One chained regexp_replace projection (codegen, scan speed). Each
    category is counted on the text state AFTER the previous categories
    were redacted, so the counts are exactly what this pass replaced:
    the digit run inside an address never double-counts as a phone, a
    dotted quad never counts as phone-ish digit groups. Order is fixed:
    EMAIL, IP, PHONE, SSN."""
    out = F.col("text")
    counts = {}
    for cat in ("EMAIL", "IP", "PHONE", "SSN"):
        pat = PII_PATTERNS[cat]
        counts[f"n_{cat.lower()}"] = F.size(
            F.regexp_extract_all(out, F.lit(pat), 0)
        )
        out = F.regexp_replace(out, pat, f"[{cat}]")
    return df.select(
        F.col("doc_id"),
        out.alias("text_redacted"),
        *[v.alias(k) for k, v in counts.items()],
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    n_shards: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Training-sequence packing (GPT-style concat-and-cut): map every
    document to its token-offset span in fixed-length training sequences,
    so a writer can emit ``seq_len``-token rows with documents straddling
    pack boundaries (the standard pretraining layout — no padding waste,
    no per-document truncation).

    Scale shape: a single global concatenation order would serialize the
    corpus through one task, so documents are first sharded by a
    DETERMINISTIC portable hash of the id (``n_shards`` independent
    streams — at 100 TB set it near the executor-core count) and packed
    independently within each shard: one shuffle on ``shard``, one
    per-shard window cumsum, no global state. Membership is reproducible
    across runs and resumable after failure (hash order, not rand()/
    monotonically_increasing_id()).

    Returns (id, shard, n_tokens, start_offset, start_pack, end_pack):
    the document's tokens occupy offsets [start_offset, start_offset +
    n_tokens) of its shard's token stream and therefore packs
    ``start_pack``..``end_pack`` (inclusive) of ``seq_len`` tokens each.
    Zero-token documents are dropped (they occupy no span). Pass
    ``tokens_col`` when a prior zone already counted tokens per doc."""
    from stglib_spark.operators.text import token_count

    shard = (hash60(F.col(id_col).cast("string"), seed="pack1") % n_shards).cast(
        "long"
    )
    toks = F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    base = (
        df.select(
            F.col(id_col),
            toks.alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("shard", shard)
    )
    # ROWS frame, not the default RANGE: with RANGE, duplicate ids within
    # a shard become frame peers and both rows get a cum that includes
    # BOTH token counts — overlapping spans with no error. ROWS keeps the
    # prefix sum strictly row-by-row even on a dirty (non-deduped) input.
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return base.select(
        id_col,
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / seq_len).cast("long").alias("start_pack"),
        F.floor((cum - 1) / seq_len).cast("long").alias("end_pack"),
    )


def token_census(
    df: DataFrame,
    lang_col: str | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus data-card report: documents, tokens, and token share per
    predicted language — the table a curator reads before fixing the
    training mix (and the denominator stratified_sample fractions are
    chosen against). One scan + one tiny aggregate: lang-id and token
    count are codegen'd projections, the per-language rollup shuffles a
    handful of partials, and the grand total joins back as a broadcast
    1-row table (never a second corpus scan).

    Pass ``lang_col``/``tokens_col`` when a quality zone already carries
    the per-document language / token count, so a pipeline stage reading
    that zone aggregates directly instead of re-deriving them from
    text."""
    from stglib_spark.operators.text import lang_id, token_count

    if lang_col is None:
        df = lang_id(df)
        lang_col = "lang_pred"
    toks = (
        F.col(tokens_col) if tokens_col else token_count(F.col("text"))
    )
    per = (
        df.select(F.col(lang_col).alias("lang_pred"), toks.alias("__t"))
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").alias("__total"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang_pred",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__total"), 6).alias("token_share"),
    )


def url_domain_stats(df: DataFrame) -> DataFrame:
    """Corpus-level URL/domain census: extract http(s) URLs, reduce to the
    registrable host, count docs and mentions per domain — the source-mix
    report a corpus curator reads before sampling. explode → one hash
    aggregate with map-side combine; shuffle carries (domain, partials),
    bounded by the domain vocabulary, not the corpus."""
    urls = F.regexp_extract_all(
        F.col("text"), F.lit(r"https?://[^ \t\n\x0B\f\r/]+"), 0
    )
    # lower FIRST, then strip: a case-sensitive prefix strip would leave
    # "WWW." intact
    host = F.regexp_replace(
        F.lower(F.col("__url")), r"^https?://(www\.)?", ""
    )
    return (
        df.select(F.col("doc_id"), F.explode(urls).alias("__url"))
        .select(F.col("doc_id"), host.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )


def budget_sample(
    df: DataFrame,
    token_budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    seed: str = "budget1",
    tokens_col: str | None = None,
) -> DataFrame:
    """Token-budget sampling: keep documents, in deterministic hash-key
    order, until the training-token budget is met — the "give me N
    billion tokens of this source" primitive a mix builder runs after
    quality gates. Fraction-based sampling (stratified_sample) can't hit
    a token target when document lengths vary; this walks docs in
    portable-hash priority order and cuts off at the budget.

    Scale shape: a single global priority order would serialize the
    corpus through one window, so the budget is split evenly across
    ``n_shards`` hash shards and each shard fills ``token_budget /
    n_shards`` independently — one shuffle on shard, per-shard ROWS
    cumsum, no global state, reproducible across runs and resumable
    (hash order, not rand()). Shard granularity means the realized total
    can undershoot by at most one document per shard.

    Returns (id, shard, n_tokens, cum_tokens) for the selected docs;
    join back on the id for the full rows."""
    from stglib_spark.operators.text import token_count

    shard_budget = int(token_budget) // int(n_shards)
    toks = F.col(tokens_col) if tokens_col else token_count(F.col("text"))
    base = (
        df.select(
            F.col(id_col),
            toks.cast("long").alias("n_tokens"),
            sample_key(F.col(id_col), seed).alias("__key"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "shard",
            (hash60(F.col(id_col).cast("string"), seed=seed) % n_shards).cast(
                "long"
            ),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= shard_budget)
        .select(id_col, "shard", "n_tokens", "cum_tokens")
    )


def frequent_lines(
    df: DataFrame,
    min_docs: int = 10,
    min_doc_frac: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate census: non-empty lines (matched on their
    TRIMMED form, split on ``\\r?\\n`` so CRLF and LF variants count as
    one line) occurring in enough DISTINCT documents — cookie banners,
    nav menus, license footers. One explode + one count-distinct
    aggregate; the shuffle carries (line, doc partials) with map-side
    combine.

    The threshold must SCALE with the corpus: an absolute ``min_docs`` on
    a 100M-doc crawl would flag every sentence repeated 10 times. Pass
    ``min_doc_frac`` (e.g. 0.001 = present in 0.1% of documents) to use
    ``max(min_docs, frac × corpus size)`` — the extra ``count()`` is one
    cheap scan, and the resulting set is the genuinely tiny
    high-frequency tail the removal pass can broadcast."""
    threshold = int(min_docs)
    if min_doc_frac is not None:
        threshold = max(threshold, int(float(min_doc_frac) * df.count()))
    lines = F.explode(
        F.filter(
            F.transform(
                F.split(F.col(text_col), r"\r?\n"), lambda x: F.trim(x)
            ),
            lambda x: x != "",
        )
    )
    return (
        df.select(F.col(id_col), lines.alias("line"))
        .groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= threshold)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    boilerplate: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate removal: drop every line whose TRIMMED form
    appears in the ``boilerplate`` set (built by ``frequent_lines``),
    reassembling the surviving lines VERBATIM in original order —
    indentation, interior blank lines, and CRLF-vs-LF content of kept
    lines are untouched (matching is on the normalized form only).
    Documents left with no non-blank line are dropped entirely (nothing
    to train on); ``n_lines_kept`` counts surviving non-blank lines.

    Scale shape: with a ``min_doc_frac``-thresholded census the
    boilerplate set is the tiny high-frequency tail and is BROADCAST, so
    the line-level anti-join never shuffles corpus lines (an absolute
    low threshold on a huge corpus can make the set large: build it
    with ``min_doc_frac``). The only corpus shuffle is the per-document
    reassembly aggregate, whose payload is the surviving text itself."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\r?\n")).alias("pos", "line"),
    ).withColumn("__key", F.trim(F.col("line")))
    bp = boilerplate.select(F.col("line").alias("__key"))
    kept = exploded.join(F.broadcast(bp), "__key", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("line")))
            ).alias("__parts"),
            F.count(F.when(F.col("__key") != "", 1)).alias("n_lines_kept"),
        )
        .filter(F.col("n_lines_kept") > 0)
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform(F.col("__parts"), lambda s: s["line"])
            ).alias("text_clean"),
            F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
        )
    )


def build_packed_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Materialize the actual training sequences from ``pack_sequences``'
    span table: every document's tokens are sliced across the packs its
    span covers, and each (shard, pack) concatenates its slices in
    stream order — the trainer-ready rows (``n_tokens == seq_len``
    everywhere except each shard's final partial pack).

    Scale shape: the span computation is pack_sequences (per-shard window
    cumsum); the slicing is pure array expressions per (doc, pack) —
    explode over the span's pack range, ``slice`` per pack; the only
    additional shuffle is the (shard, pack) reassembly aggregate, whose
    payload is the packed text itself (unavoidable: it IS the output).
    Documents never shuffle twice: the spans join back to the text by id
    as an equi-join co-partitioned with the reassembly."""
    from stglib_spark.operators.text import tokens

    spans = pack_sequences(
        df, text_col, id_col, seq_len=seq_len, n_shards=n_shards
    )
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    j = spans.join(toks, id_col)
    p = F.explode(
        F.sequence(F.col("start_pack"), F.col("end_pack"))
    ).alias("pack_id")
    with_pack = j.select(
        id_col, "shard", "n_tokens", "start_offset", "__t", p
    )
    lo = F.greatest(
        F.lit(0), F.col("pack_id") * seq_len - F.col("start_offset")
    )
    hi = F.least(
        F.col("n_tokens"),
        (F.col("pack_id") + 1) * seq_len - F.col("start_offset"),
    )
    piece = F.slice(F.col("__t"), lo + 1, hi - lo)
    sliced = with_pack.select(
        "shard",
        "pack_id",
        F.col("start_offset"),
        piece.alias("__piece"),
    )
    return (
        sliced.groupBy("shard", "pack_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("start_offset"), F.col("__piece")))
            ).alias("__parts")
        )
        .select(
            "shard",
            "pack_id",
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(F.col("__parts"), lambda s: s["__piece"])
                ),
            ).alias("pack_text"),
            F.aggregate(
                F.col("__parts"),
                F.lit(0).cast("long"),
                lambda acc, s: acc + F.size(s["__piece"]),
            ).alias("n_tokens"),
        )
    )


def pps_sample(df: DataFrame, rate: float) -> DataFrame:
    """Probability-proportional-to-size Bernoulli sampling: keep a row
    iff its deterministic unit key < min(1, size × rate). Where
    stratified_sample keeps a FIXED fraction of documents per stratum,
    PPS keeps a fixed fraction of *content* — a 10 kB document is 10×
    likelier to survive than a 1 kB one, so the expected kept-token
    volume per source tracks the corpus mix (the estimator behind
    size-weighted corpus audits and token-uniform eval draws).

    One codegen'd projection + filter, no shuffle, no rand(). The
    membership test uses only IEEE-exact arithmetic (*, /, least) on the
    portable hash — never ln/pow, whose last ulp differs across libms —
    so a DuckDB oracle reproduces the sample bit-for-bit."""
    key = sample_key(F.col("doc_id"), "pps1")
    thr = F.least(
        F.lit(1.0), F.col("n_chars").cast("double") * F.lit(float(rate))
    )
    return df.filter(key < thr)


def shard_manifest(df: DataFrame, n_shards: int = 64) -> DataFrame:
    """Content-addressed output sharding + manifest: assign each document
    to ``hash(id) % n_shards`` and report per-shard document count, byte
    volume, and id range — the writer-side plan for "emit N balanced
    files" plus the audit table a downstream loader reads to size its
    splits. Hash sharding (not range) keeps shards balanced regardless of
    id clustering; the manifest makes the balance VERIFIABLE before a
    100 TB write commits.

    One hash aggregate with map-side combine; the shuffle carries
    n_shards partial rows per task, nothing scales with the corpus. The
    same shard expression passed to ``DataFrameWriter.partitionBy`` (or
    ``repartition(n_shards, shard)``) co-locates the actual write with
    this manifest."""
    shard = (
        hash60(F.col("doc_id").cast("string"), seed="shard1")
        % F.lit(int(n_shards))
    ).alias("shard")
    return (
        df.select(shard, F.col("n_chars"), F.col("doc_id"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def gate_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style hard quality gates with a per-document audit trail:
    every document gets a ``keep`` flag plus the list of gates it FAILED
    — the corpus twin of the QA/QC rule compiler (a gate never silently
    deletes; the funnel report derives from the recorded reasons, so a
    curator can see exactly why each megabyte died). One codegen'd
    projection — no shuffle, no UDF, scan speed at 100 TB.

    Gates (mirroring quality_score's signals as hard cuts): too_short
    (<50 chars), too_long (>100 k chars), token_shape (mean token length
    outside [2, 12]), low_alpha (alphabetic ratio < 0.5), high_punct
    (punctuation ratio > 0.2)."""
    from stglib_spark.operators.text import mean_token_length

    t = F.col(text_col)
    n_chars = F.length(t)
    alpha_ratio = F.when(
        n_chars > 0,
        (F.length(t) - F.length(F.translate(t, _ALPHA, ""))) / n_chars,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        (F.length(t) - F.length(F.translate(t, ".,;:!?", ""))) / n_chars,
    ).otherwise(F.lit(0.0))
    mean_tok = mean_token_length(t)
    gates = [
        ("too_short", n_chars < 50),
        ("too_long", n_chars > 100000),
        ("token_shape", ~((mean_tok >= 2.0) & (mean_tok <= 12.0))),
        ("low_alpha", alpha_ratio < 0.5),
        ("high_punct", punct_ratio > 0.2),
    ]
    empty = F.array().cast("array<string>")
    reasons = F.concat(
        *[
            F.when(cond, F.array(F.lit(name))).otherwise(empty)
            for name, cond in gates
        ]
    )
    return df.withColumn("fail_reasons", reasons).withColumn(
        "keep", F.size("fail_reasons") == 0
    )


def heldout_label(df: DataFrame) -> DataFrame:
    """Independent evaluation label for the quality-score diagnostics
    (VERDICT r12 what's-wrong #5): a boolean derived from a feature set
    DISJOINT from everything ``quality_score`` reads (length band, mean
    token length, punctuation ratio, stopword ratio), so
    ``ranking_auc``/``threshold_sweep`` against it measure the score's
    actual ranking power instead of replaying its own inputs.

    A document labels clean when its lexical diversity is high
    (type-token ratio > 0.5 — the Gopher unique-words family of
    repetition cuts) AND digits are <= 20% of characters AND uppercase
    letters are <= 30% (number-dump and shouting/boilerplate noise).
    Every cut is an exact integer comparison (n_uniq*2 > n_tok style)
    — no float boundary, bit-exact in a SQL oracle. One codegen'd
    projection (array_distinct over the token split — no explode, no
    shuffle), scan speed at 100 TB."""
    from stglib_spark.operators.text import tokens

    t = F.col("text")
    n_chars = F.length(t)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_digit = F.length(t) - F.length(F.translate(t, "0123456789", ""))
    n_upper = F.length(t) - F.length(
        F.translate(t, _ALPHA[:26], "")
    )
    clean = (
        (n_tok > 0)
        & (n_uniq * 2 > n_tok)
        & (n_digit * 5 <= n_chars)
        & (n_upper * 10 <= n_chars * 3)
    )
    return df.withColumn("label_clean", clean)


def ranking_auc(
    df: DataFrame,
    score_col: str = "quality_score",
    label_col: str = "keep",
) -> DataFrame:
    """Exact ROC-AUC (Mann–Whitney U) of a continuous score against a
    boolean label, with the standard 0.5 credit for score ties — the
    curation diagnostic answering "does the soft quality score rank
    the kept documents above the dropped ones" before a threshold is
    chosen for a 100 TB filter pass.

    AUC = Σ_s np_s·(2·cumneg_{<s} + nn_s) / (2·n_pos·n_neg), grouping
    by DISTINCT score: every term is exact integer arithmetic until
    one final division, so the value replays bit-for-bit in a SQL
    oracle.

    Scale shape: one map-side-combinable groupBy on the score, then a
    single-partition cumulative window — but over the per-score
    AGGREGATE table, whose row count is bounded by the score's 6-dp
    codomain in [0, 1] (≤ 1e6+1 rows) regardless of corpus size, the
    same bounded-summary-window argument as the as-of join's bucket
    carry. Returns one row: (n_pos, n_neg, auc); auc is NULL when
    either class is empty."""
    lab = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.sum(lab).cast("long").alias("__np"),
        F.sum(1 - lab).cast("long").alias("__nn"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn(
        "__cumneg", F.coalesce(F.sum("__nn").over(w), F.lit(0).cast("long"))
    )
    agg = c.agg(
        F.sum("__np").cast("long").alias("n_pos"),
        F.sum("__nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("__np") * (2 * F.col("__cumneg") + F.col("__nn"))
        ).cast("long").alias("__num"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("__num")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str = "quality_score",
    label_col: str = "keep",
) -> DataFrame:
    """Precision / recall / F1 at EVERY achievable threshold — the
    operating-characteristic table behind `ranking_auc`'s single
    number, read to pick the score cut for a 100 TB filter pass
    (predict positive when score ≥ threshold; the achievable
    thresholds are exactly the distinct score values).

    Same scale shape as `ranking_auc`: one map-side-combinable groupBy
    on the 6-dp score, then cumulative sums over the codomain-bounded
    (≤ 1e6+1 rows) per-score aggregate ordered descending — never a
    window over documents. Counts are exact integers; the ratios are
    single integer/integer divisions, so every row replays bit-for-bit
    in a SQL oracle."""
    lab = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("threshold")).agg(
        F.sum(lab).cast("long").alias("__np"),
        F.sum(1 - lab).cast("long").alias("__nn"),
    )
    w = (
        Window.orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "threshold",
        F.sum("__np").over(w).alias("tp"),
        F.sum("__nn").over(w).alias("fp"),
        (F.sum("__np").over(tot) - F.sum("__np").over(w)).alias("fn"),
        (F.sum("__nn").over(tot) - F.sum("__nn").over(w)).alias("tn"),
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp"))
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    )
    return c.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def mixture_allocate(df: DataFrame, total_budget: int) -> DataFrame:
    """Temperature-weighted domain mixture allocation: split a global
    training-token budget across sources with square-root temperature
    scaling (alpha = 0.5, the standard multilingual/multi-domain
    up-weighting that keeps small sources from vanishing — weight_d
    proportional to sqrt(tokens_d), cf. the sampling exponent in
    multilingual pretraining recipes). The output is the allocation
    table a mix builder feeds into ``budget_sample`` per source.

    Engine-exact by construction, so the allocation — not just the
    counts — is driver-oracle-checkable:

    - sqrt is IEEE-754 correctly rounded in every engine (unlike
      pow/ln, whose last ulp differs across libms), so sqrt(tokens_d)
      is bit-identical in Spark and DuckDB;
    - the weight denominator sums MICRO-INTEGER sqrt values
      (floor(sqrt * 1e6 + 0.5) as BIGINT), making the sum
      order-independent across partitions and engines;
    - each source's budget is floor(total_budget * micro_d /
      total_micro) evaluated in 38-digit integer arithmetic
      (decimal(38,0) / HUGEINT) — no float anywhere in the allocation,
      so a source on a rounding boundary cannot flip between engines,
      and the same guarantee holds past 2^53 tokens at 100 TB.

    Scale shape: one hash aggregate over sources (map-side partial
    sums; the shuffle carries one row per source per task) + a 1-row
    broadcast total. Floor allocation undershoots the global budget by
    at most one token per source; callers that must hit the budget
    exactly hand the remainder to the largest source.
    """
    from stglib_spark.operators.text import token_count

    toks = token_count(F.col("text")).cast("long")
    per_source = (
        df.select(F.col("source").alias("source"), toks.alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").alias("n_tokens"))
        .withColumn(
            "__micro",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6 + F.lit(0.5))
            .cast("bigint"),
        )
    )
    totals = per_source.agg(F.sum("__micro").alias("__total_micro"))
    wide = "decimal(38,0)"
    # Exact floor division: subtract the remainder first so the decimal
    # divide is exact (a bare decimal '/' rounds HALF_UP at result
    # scale, which could flip a budget sitting on a floor boundary).
    num = F.lit(int(total_budget)).cast(wide) * F.col("__micro").cast(wide)
    tot = F.col("__total_micro").cast(wide)
    budget = ((num - F.pmod(num, tot)) / tot).cast("long")
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            (F.col("__micro").cast("double") / 1e6).alias("sqrt_weight"),
            budget.alias("budget_tokens"),
        )
    )


# Deterministic split thresholds: hash60(seed || id) is uniform on
# [0, 2^60); a document joins a split by comparing that INTEGER against
# floor(frac * 2^60) — no float anywhere, so membership is engine- and
# oracle-exact, and (unlike rand()) rerunning a 100 TB pipeline after a
# failure reassigns every document identically.
def split_thresholds(val_frac: float, test_frac: float) -> tuple[int, int]:
    return (
        int(val_frac * (1 << 60)),
        int((val_frac + test_frac) * (1 << 60)),
    )


def assign_split(df: DataFrame) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment for a training
    corpus.

    The split is a pure projection on the portable 60-bit id hash
    (hash60("split1" || doc_id) < floor(frac·2^60)) — scan-speed, shuffle-free,
    reproducible across runs/engines, and leak-proof at the EXACT-id
    level by construction (an id maps to exactly one split). Near-dup
    leakage across splits is a separate audit: ``dedup.split_leakage``.

    Scale shape: one codegen'd projection; composes with any downstream
    filter/write without repartitioning. The same expression passed to
    ``DataFrameWriter.partitionBy`` co-locates the split zones."""
    thr_val, thr_eval = split_thresholds(0.1, 0.1)
    h = hash60(F.col("doc_id").cast("string"), seed="split1")
    split = (
        F.when(h < F.lit(thr_val), F.lit("val"))
        .when(h < F.lit(thr_eval), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def split_audit(df: DataFrame) -> DataFrame:
    """Stratification audit of the deterministic split: per (split,
    source) document and token counts — the table a curator checks to
    confirm every source is represented in val/test before training
    (hash-uniformity makes the split source-stratified in expectation;
    this measures the realized allocation of ``assign_split``'s
    80/10/10 split. One scan + one tiny hash aggregate (shuffle width =
    3 × sources)."""
    from stglib_spark.operators.text import token_count

    toks = token_count(F.col("text"))
    return (
        assign_split(df)
        .select("split", F.col("source").alias("source"), toks.alias("__t"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
        )
    )


def diversity_stats(df: DataFrame) -> DataFrame:
    """Per-group label-diversity data card: document count, distinct
    label count, and the Simpson concentration index Σ(n_l/N)² — the
    probability two random documents from the group share a label (1/
    Simpson = "effective number of languages"). A curator reads this to
    spot sources collapsing to one language before fixing the mix.

    Engine-exact: Simpson is reported in parts-per-million computed
    entirely in integer arithmetic — floor(Σn_l²·10⁶ / N²) via
    decimal(38,0) (HUGEINT in the oracle), the ``mixture_allocate``
    idiom — so no float rounding can flip a value between engines, and
    the same guarantee holds past 2^63 at 100 TB scale.

    Scale shape: two map-side-combinable hash aggregates; the first
    shuffle carries (group, label) partial counts — bounded by the
    label vocabulary, never the corpus."""
    per = (
        df.select(
            F.col("source").alias("grp"), F.col("lang").alias("lbl")
        )
        .groupBy("grp", "lbl")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wide = "decimal(38,0)"
    num = (F.col("__sq").cast(wide) * F.lit(1000000).cast(wide))
    den = (F.col("n_docs").cast(wide) * F.col("n_docs").cast(wide))
    simpson = ((num - F.pmod(num, den)) / den).cast("long")
    return (
        per.groupBy(F.col("grp").alias("source"))
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_labels"),
            F.sum(F.col("n") * F.col("n")).alias("__sq"),
        )
        .select(
            "source",
            "n_docs",
            "n_labels",
            simpson.alias("simpson_ppm"),
        )
    )


def token_freq_spectrum(df: DataFrame, max_f: int = 10) -> DataFrame:
    """Token frequency-of-frequencies spectrum (the Good–Turing
    front-end): one row per occurrence count f ∈ 1..max_f (plus one
    overflow bucket at max_f+1) with ``n_types`` (how many distinct
    tokens occur exactly f times) and ``n_occurrences`` (their total
    token mass). N₁/N₂ drive Good–Turing OOV-rate estimates; the
    hapax share (f=1) is the standard vocabulary-health signal for a
    crawl (OCR garbage and boilerplate both distort it in opposite
    directions); and the cumulative mass below a cut answers "how
    many tokens does a min_count=f vocabulary truncation discard"
    BEFORE anyone trains a tokenizer on 100 TB.

    Scale shape: one token-count aggregate (map-side combinable,
    distinct-token keys), then a ≤ max_f+1-row spectrum aggregate;
    the grand total joins back as a broadcast 1-row table (the
    token_census pattern) — the corpus is scanned once."""
    from stglib_spark.operators.dedup import normalize_text
    from stglib_spark.operators.text import tokens

    toks = df.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("__tok")
    )
    counts = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__f"))
    spec = (
        counts.select(
            F.least(F.col("__f"), F.lit(int(max_f) + 1)).alias("freq"),
            F.col("__f"),
        )
        .groupBy("freq")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("__f").alias("n_occurrences"),
        )
    )
    total = spec.agg(F.sum("n_occurrences").alias("__total"))
    return spec.crossJoin(F.broadcast(total)).select(
        "freq",
        "n_types",
        "n_occurrences",
        F.round(
            F.col("n_occurrences").cast("double") / F.col("__total"), 6
        ).alias("occ_share"),
    )
