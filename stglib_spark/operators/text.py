"""Text-analysis operators for large-scale training-data pipelines:
tokenization stats, language ID, quality scoring, fingerprinting.

These extend the engine beyond the reference's own surface (BASELINE.json
north star): every operator is native Column work — regex + string
functions that stay in whole-stage codegen — so they stream over 100 TB
of documents at scan speed. One deliberate exception: winnowing
fingerprints run as an Arrow-batched pandas UDF, because the rolling
recurrence is sequential per document and the array-expression form
re-evaluates the codepoint array per element (see the function's
docstring).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from stglib_spark.session import spread

# Minimal per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Chosen to be high-frequency and disjoint.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


# Java's \s is [ \t\n\x0B\f\r]; RE2's \s (DuckDB) omits \x0B. Every
# whitespace regex in an oracle-replayed kernel spells the class out so
# the two engines agree byte-for-byte on any input — the SQL oracles in
# queries.py carry the same literal class.
WS = r"[ \t\n\x0B\f\r]"




# Character-class CENSUS via translate: length(t) − length(translate(t,
# chars, '')) counts exactly the characters in `chars` — identical to
# length(regexp_replace(t, '[^chars]', '')) for a literal ASCII class,
# but translate is a per-char set lookup instead of an NFA pass
# (measured ~2× on the sf0.1 quality projections, r14). Only usable for
# EXPLICIT char lists (the Unicode script blocks keep their regex).
def _count_chars(col: Column, chars: str) -> Column:
    return F.length(col) - F.length(F.translate(col, chars, ""))


_ALPHA = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)
_PUNCT6 = ".,;:!?"
_WS_CHARS = " \t\n\x0B\f\r"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (split of '' in
    Spark yields [''], which must not count as a token)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WS + "+")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: count of word-piece matches of a regex that
    splits words, digits, and punctuation runs — a deterministic stand-in
    for a real tokenizer's token count (≈ GPT-2 pre-tokenizer classes)."""
    return F.size(
        F.regexp_extract_all(
            text, F.lit(r"([A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]+)"), 0
        )
    )


def mean_token_length(text: Column) -> Column:
    """Mean token length = len(text without whitespace) / token count."""
    n = token_count(text)
    return F.when(
        n > 0, (F.length(text) - _count_chars(text, _WS_CHARS)) / n
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are English stopwords (quality signal)."""
    toks = tokens(F.lower(text))
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    n = F.size(toks)
    return F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score from length / punctuation / stopword /
    alpha ratios — the standard pretraining-corpus heuristics (Gopher-style
    rules), expressed as one codegen'd projection.

    score = 0.25·len_ok + 0.25·alpha_ratio + 0.25·stop_signal + 0.25·punct_ok
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tok = token_count(t)
    alpha_ratio = F.when(n_chars > 0, _count_chars(t, _ALPHA) / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, _count_chars(t, _PUNCT6) / n_chars).otherwise(F.lit(0.0))
    mean_tok = mean_token_length(t)
    len_ok = (n_chars >= 50) & (n_chars <= 100000)
    tok_ok = (mean_tok >= 2.0) & (mean_tok <= 12.0)
    punct_ok = punct_ratio <= 0.2
    stop = stopword_ratio(t)
    score = (
        F.when(len_ok, 0.25).otherwise(0.0)
        + F.when(tok_ok, 0.25).otherwise(0.0)
        + F.when(punct_ok, 0.25).otherwise(0.0)
        + F.least(stop * 2.5, F.lit(0.25))
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "alpha_ratio": F.round(alpha_ratio, 6),
            "punct_ratio": F.round(punct_ratio, 6),
            "mean_token_len": F.round(mean_tok, 6),
            "stopword_ratio": F.round(stop, 6),
            "quality_score": F.round(score, 6),
        }
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: the language with the most marker-token
    hits wins; ties and zero-hit rows → 'und'. Pure Column expressions
    (greatest over per-language hit counts)."""
    toks = tokens(F.lower(F.col(text_col)))
    hits = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hits[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    best = F.greatest(*hits.values())
    # a genuine tie between languages is ambiguous → 'und' (marker sets
    # share words like "la", so ties do happen)
    n_best = None
    for lang in LANG_MARKERS:
        term = (hits[lang] == best).cast("int")
        n_best = term if n_best is None else n_best + term
    chain = None
    for lang in LANG_MARKERS:
        cond = (hits[lang] == best) & (best > 0) & (n_best == 1)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    pred = chain.otherwise(F.lit("und"))
    return df.withColumn("lang_pred", pred)


SCRIPT_RANGES: dict[str, tuple[str, str]] = {
    # (Spark/Java regex class, DuckDB/RE2 regex class) per Unicode block
    "latin": ("A-Za-z", "A-Za-z"),
    "cyrillic": ("\u0400-\u04ff", "\\x{0400}-\\x{04FF}"),
    "greek": ("\u0370-\u03ff", "\\x{0370}-\\x{03FF}"),
    "arabic": ("\u0600-\u06ff", "\\x{0600}-\\x{06FF}"),
    "cjk": ("\u4e00-\u9fff", "\\x{4E00}-\\x{9FFF}"),
    "hangul": ("\uac00-\ud7af", "\\x{AC00}-\\x{D7AF}"),
}


def script_counts(df: DataFrame) -> DataFrame:
    """Unicode-script detection — the writing-system complement to the
    stopword-marker ``lang_id`` (script tells Cyrillic from Latin
    before any wordlist applies; the standard first cut in multilingual
    corpus triage). Adds one exact integer character count per major
    script block (``n_latin``, ``n_cyrillic``, ``n_greek``,
    ``n_arabic``, ``n_cjk``, ``n_hangul``) plus the dominant-script
    label: highest count wins, ties and zero-hit rows -> 'und' (the
    ``lang_id`` tie convention). Counts via regexp_replace + length —
    one codegen'd projection, no UDF, scan speed at 100 TB."""
    t = F.col("text")
    counts = {
        name: F.length(F.regexp_replace(t, f"[^{java}]", ""))
        for name, (java, _) in SCRIPT_RANGES.items()
    }
    best = F.greatest(*counts.values())
    n_best = None
    for c in counts.values():
        term = (c == best).cast("int")
        n_best = term if n_best is None else n_best + term
    chain = None
    for name, c in counts.items():
        cond = (c == best) & (best > 0) & (n_best == 1)
        chain = (
            F.when(cond, F.lit(name))
            if chain is None
            else chain.when(cond, F.lit(name))
        )
    out = df.withColumns({f"n_{k}": v for k, v in counts.items()})
    return out.withColumn("script_pred", chain.otherwise(F.lit("und")))


def doc_fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, punctuation stripped, whitespace collapsed) — the exact
    dedup key. md5 chosen over xxhash64 so a SQL oracle (DuckDB) computes
    the identical value."""
    norm = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.col("text")), r"[^\p{L}\p{N} \t\n\x0B\f\r]", ""
        ),
        WS + "+",
        " ",
    )
    return df.withColumn("fingerprint", F.md5(F.trim(norm)))


#: Karp–Rabin base/modulus for winnowing fingerprints. M = 2^31 − 1
#: (Mersenne prime) keeps the per-step fold `acc*B + c` below 5.6e11 —
#: safely inside int64 — while the direct per-position polynomial
#: Σ c_j·B^(k−1−j) (each term ≤ 0x10FFFF·(M−1) ≈ 2.4e15 for a max
#: codepoint, ≈ 3.6e16 summed at the default k = 15) also fits, so a
#: SQL oracle can replay either formulation and land on the identical
#: residue. int64 overflow only becomes possible near k ≈ 3800.
WINNOW_B = 257
WINNOW_M = 2147483647


def winnow_fingerprints(
    df: DataFrame,
    k: int = 15,
    w: int = 8,
    exploded: bool = False,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer,
    Wilkerson & Aiken 2003 — the MOSS local fingerprinting scheme):
    Karp–Rabin hash every character ``k``-gram, slide a window of ``w``
    adjacent hashes, keep each window's MINIMUM, and return the
    distinct selected values per document. Guarantees: any shared
    substring of length ≥ w + k − 1 (22 chars at the defaults)
    contributes at least one shared fingerprint (the winnowing coverage
    theorem), so the fingerprint sets support substring-level near-dup
    detection at a fraction of full shingling's footprint. k must be
    long enough that ordinary same-language text does not collide —
    k = 5 was measured degenerate on English (every document shares
    5-grams like " the ", giving an all-pairs candidate set); 15 chars
    ~ 2-3 words is the MOSS-style noise threshold.

    Engine shape: an Arrow-batched pandas UDF with a numpy-vectorized
    kernel — shuffle-free, k vectorized passes per document. A pure
    array-expression formulation was measured and rejected: a lambda
    that references the codepoint array RE-EVALUATES it per element
    (Catalyst inlines the alias — the same CollapseProject behavior as
    the PQ-encode dead end in SCALE.md), so the nested
    transform/aggregate went O(n²·k) per document; a per-char Python
    loop was then measured at 4.2 s for sf0.1 vs ~1 s vectorized. The
    k-gram hashes come from the direct polynomial Σ cps[j:j+m]·B^(k−1−j)
    accumulated in int64 (≤ 0x10FFFF·(M−1) ≈ 2.4e15 per term for a
    supplementary-plane codepoint, ≈ 3.6e16 summed at k = 15 — inside
    int64; overflow only becomes possible near k ≈ 3800) with one final
    mod; window minima via a strided sliding-window view. Identical
    values to the rolling fold — congruent mod M.

    Ties inside a window select by VALUE, which is sufficient because
    the fingerprint is the value set (positions are not retained).
    Documents shorter than k characters yield an empty set; documents
    with fewer than w k-grams yield the single global minimum.

    The hash is exact integer arithmetic (base 257, mod 2^31−1), so a
    DuckDB oracle replays fingerprints bit-for-bit; no engine-private
    hash enters the result.

    ``exploded=True`` emits one (id, fp) row per selected
    value via ``mapInPandas`` instead of the array column — same
    values, same per-doc uniqueness, but the kernel runs exactly ONCE:
    a consumer that explodes the array form pays the kernel TWICE per
    row, because InferFiltersFromGenerate puts a ``size(...) > 0``
    filter on the UDF column and ExtractPythonUDFs plans separate
    ArrowEvalPython nodes for the filter and the projection (measured
    with an accumulator; same-load sf1 A/B on the candidate chain:
    12.14 s → 8.69 s). Candidate-pair producers should prefer it."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from pyspark.sql.functions import pandas_udf

    B, M = WINNOW_B, WINNOW_M
    coeffs = np.array([pow(B, k - 1 - j, M) for j in range(k)], dtype=np.int64)

    def _kernel(text):
        """Selected fingerprint values (sorted unique) for one doc."""
        if text is None or len(text) < k:
            return None
        # utf-32-le decode == per-char ord(), vectorized
        cps = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        m = len(cps) - k + 1
        hs = np.zeros(m, dtype=np.int64)
        for j in range(k):
            hs += cps[j : j + m] * coeffs[j]
        hs %= M
        if m < w:
            return hs.min(keepdims=True)
        return np.unique(sliding_window_view(hs, w).min(axis=1))

    if exploded:
        schema = f"doc_id {df.schema['doc_id'].dataType.simpleString()}"

        def _gen(batches):
            for pdf in batches:
                reps, vals = [], []
                for i, text in enumerate(pdf["__text"]):
                    sel = _kernel(text)
                    if sel is None or not len(sel):
                        continue
                    reps.append((i, len(sel)))
                    vals.append(sel)
                idx = np.repeat(
                    [i for i, _ in reps], [n for _, n in reps]
                ).astype(np.int64)
                out = pdf.iloc[idx][["doc_id"]].reset_index(drop=True)
                out["fp"] = (
                    np.concatenate(vals)
                    if vals
                    else np.array([], dtype=np.int64)
                )
                yield out

        return spread(df).select(
            F.col("doc_id"), F.col("text").alias("__text")
        ).mapInPandas(_gen, f"{schema}, fp long")

    @pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            sel = _kernel(text)
            out.append([] if sel is None else sel.tolist())
        return pd.Series(out)

    return spread(df).select(
        F.col("doc_id"), _winnow(F.col("text")).alias("fingerprints")
    )


def winnow_fingerprint_positions(
    df: DataFrame,
    k: int = 15,
    w: int = 8,
    max_positions_per_fp: int | None = None,
) -> DataFrame:
    """Position-carrying winnowing fingerprints: one row per selected
    (fingerprint, position) — ``pos`` is the 1-based char offset of the
    k-gram whose hash each window selected. Where `winnow_fingerprints`
    keeps only the VALUE set (enough for candidate detection, not for
    localization), this variant retains where each selected gram sits,
    so downstream `dedup.winnow_match_spans` can localize candidate
    pairs to shared character spans without re-scanning the text — the
    match-REPORTING half of the MOSS scheme (Schleimer et al. 2003 §4;
    the reference corpus has no analogue — this extends the winnowing
    coverage contract already stated on `winnow_fingerprints`).

    Selection is by lexicographic (hash, position) window minimum —
    the leftmost occurrence of the minimal hash — encoded as ONE int64
    key ``h·2^32 + pos`` so the same strided sliding-window kernel
    applies unchanged and a SQL oracle replays the tie-break exactly
    (``min`` over the key ≡ leftmost-min). Key bound: (M−1)·2^32 + pos
    < 2^63 for any pos < 2^33, safely inside int64. Value-set equality
    with `winnow_fingerprints` holds by construction: a window's key
    minimum carries the window's hash minimum in its high bits.

    ``max_positions_per_fp`` keeps only each fingerprint's FIRST n
    positions within a document (lowest offsets — identical to a
    ``row_number() OVER (PARTITION BY doc, fp ORDER BY pos) <= n``
    downstream, but free: the kernel's selected keys are already sorted
    by (fp, pos), so the cap is a vectorized run-rank filter with no
    exchange). Without it a periodic document ("ab"×10⁶) selects ONE
    hash at ~every offset and any fingerprint equi-join downstream
    squares that row count.

    Engine shape: ``mapInPandas`` emitting the exploded (id, fp, pos)
    rows directly, NOT a pandas_udf returning an array + ``inline``.
    The array form costs the kernel TWICE per row: the downstream
    Generate gets an inferred ``size(...) > 0`` filter on the UDF
    column (InferFiltersFromGenerate), and ExtractPythonUDFs then
    plans separate ArrowEvalPython nodes for the filter and the
    projection — measured with an accumulator: 2× row-evals in the
    single materialized stage. Filters cannot push into mapInPandas,
    so the kernel runs exactly once.

    Edge cases mirror the value variant: text shorter than ``k`` yields
    no rows; fewer than ``w`` k-grams yields the single global
    (hash, pos) minimum."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    B, M = WINNOW_B, WINNOW_M
    coeffs = np.array([pow(B, k - 1 - j, M) for j in range(k)], dtype=np.int64)
    S = np.int64(1) << np.int64(32)
    id_type = df.schema["doc_id"].dataType.simpleString()

    def _winnow_pos(batches):
        for pdf in batches:
            ids, fps_out, pos_out = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["__text"]):
                if text is None or len(text) < k:
                    continue
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = len(cps) - k + 1
                hs = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    hs += cps[j : j + m] * coeffs[j]
                hs %= M
                # lexicographic (hash, 1-based pos) packed into one key
                keys = hs * S + np.arange(1, m + 1, dtype=np.int64)
                if m < w:
                    sel = keys.min(keepdims=True)
                else:
                    sel = np.unique(
                        sliding_window_view(keys, w).min(axis=1)
                    )
                if max_positions_per_fp is not None and len(sel) > 1:
                    # np.unique output is sorted by key = (fp, pos), so
                    # a run-rank over consecutive equal fps ==
                    # row_number by ascending pos within (doc, fp)
                    f = sel >> 32
                    new = np.ones(len(f), dtype=bool)
                    new[1:] = f[1:] != f[:-1]
                    idx = np.arange(len(f))
                    run_start = idx[new][np.cumsum(new) - 1]
                    sel = sel[idx - run_start < max_positions_per_fp]
                ids.extend([doc_id] * len(sel))
                fps_out.append(sel >> 32)
                pos_out.append(sel & 0xFFFFFFFF)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "fp": np.concatenate(fps_out)
                    if fps_out
                    else np.array([], dtype=np.int64),
                    "pos": (
                        np.concatenate(pos_out)
                        if pos_out
                        else np.array([], dtype=np.int64)
                    ).astype(np.int32),
                }
            )

    return spread(df).select(
        F.col("doc_id"), F.col("text").alias("__text")
    ).mapInPandas(_winnow_pos, f"doc_id {id_type}, fp long, pos int")


def unigram_vocab(df: DataFrame, top_k: int = 1000) -> list[tuple[str, int]]:
    """Corpus-level unigram vocabulary: the ``top_k`` most frequent
    (lowercased, whitespace) tokens with their counts, deterministic
    tie-break by token. Like an IVF codebook, the vocabulary is a
    bounded-size model artifact (top_k rows) collected once at train
    time — the corpus-wide explode/count is one shuffle whose width is
    the token vocabulary, not the corpus, thanks to map-side partial
    aggregation."""
    rows = (
        df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(top_k)
        .collect()
    )
    return [(r["tok"], r["c"]) for r in rows]


def _sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal (backslash escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_map(entries: list[tuple[str, float]]) -> str:
    """SQL text for a string→double literal map. Model-as-literal maps
    (vocab/bigram tables) carry thousands of entries; building them via
    F.lit/F.create_map costs 2 driver py4j round-trips PER ENTRY at
    query construction (the dominant cost of text_bigram_logprob —
    seconds before the job even starts). One SQL string parses JVM-side
    in a single call; repr'd D-suffixed doubles round-trip exactly, so
    the literal map (and the scores) are bit-identical."""
    if not entries:
        return "map()"
    return (
        "map("
        + ",".join(f"{_sql_str(k)},{float(v)!r}D" for k, v in entries)
        + ")"
    )


#: log-probability the LM scorers give an out-of-vocabulary token
OOV_LOGPROB = -20.0


def unigram_logprob_score(
    df: DataFrame,
    vocab: list[tuple[str, int]],
) -> DataFrame:
    """Per-document mean token log-probability under a corpus unigram LM —
    the cheap stand-in for the CCNet/KenLM perplexity quality filter
    (low mean logprob = unusual token distribution = likely boilerplate,
    gibberish, or wrong-language text).

    Scale shape: the vocabulary enters the plan as a literal map
    (top_k entries, same pattern as the LSH plane literals), so scoring
    is a pure projection — element_at(map, token) inside an aggregate
    fold, no explode, no join, no shuffle. Documents stream through at
    scan speed regardless of corpus size; only vocabulary construction
    (one bounded aggregate) ever shuffles."""
    total = float(sum(c for _, c in vocab))
    lp_map = F.expr(
        _sql_map([(tok, math.log(c / total)) for tok, c in vocab])
    )
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    total_lp = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.element_at(lp_map, t), F.lit(OOV_LOGPROB)),
    )
    return df.select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        F.round(
            F.when(n > 0, total_lp / n).otherwise(F.lit(0.0)), 6
        ).alias("mean_logprob"),
    )


def dsir_logratio_score(
    df: DataFrame,
    target_vocab: list[tuple[str, int]],
    raw_vocab: list[tuple[str, int]],
) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, Data Selection
    via Importance Resampling, arXiv:2302.03169 — the hashed-ngram
    variant at unigram granularity): per document, the mean over
    tokens of ``log p_target(tok) − log p_raw(tok)`` under two unigram
    LMs (`unigram_vocab` over the target-domain slice and the raw
    pool). High scores mark raw documents that LOOK like the target
    domain — the standard recipe for carving a domain-matched training
    subset out of a web crawl; feed the weights to a threshold filter
    or `corpus.pps_sample` for the resampling step.

    Scale shape: the TWO vocabularies fuse into ONE literal
    log-ratio map over their key union (a token absent from a side
    contributes ``OOV_LOGPROB`` for that side; absent from both → 0,
    the map's coalesce default), so scoring is a single projection —
    one corpus scan, an aggregate fold per row, no explode, no join,
    no shuffle. Only the two bounded top-K vocabulary aggregates ever
    shuffle. The map values are Python ``math.log`` literals that
    DuckDB's ``ln`` reproduces bit-for-bit (the text_unigram_logprob
    contract), so the oracle replays scores to the rounded digit."""
    t_total = float(sum(c for _, c in target_vocab))
    r_total = float(sum(c for _, c in raw_vocab))
    t_lp = {tok: math.log(c / t_total) for tok, c in target_vocab}
    r_lp = {tok: math.log(c / r_total) for tok, c in raw_vocab}
    entries = sorted(
        (tok, t_lp.get(tok, OOV_LOGPROB) - r_lp.get(tok, OOV_LOGPROB))
        for tok in set(t_lp) | set(r_lp)
    )
    ratio_map = F.expr(_sql_map(entries))
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.element_at(ratio_map, t), F.lit(0.0)),
    )
    return df.select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        F.round(
            F.when(n > 0, total / n).otherwise(F.lit(0.0)), 6
        ).alias("log_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-embedding / RAG-indexing step (chunk size in tokens,
    stride = chunk_tokens − overlap). Output one row per chunk:
    (id, chunk_idx, chunk_text, n_chunk_tokens).

    Scale shape: pure array expressions — tokenize once, explode a
    per-document index sequence, slice the token array per index. No
    shuffle, no UDF; the explode fan-out is ~n/stride rows per doc, each
    carrying only its own slice of text. Window count is
    max(1, ceil((n − overlap) / stride)) — a trailing window is emitted
    only when it contains at least one token NOT already covered by the
    previous window (a count of 1 + floor((n−1)/stride) would re-emit a
    pure duplicate of the previous window's tail whenever
    n mod stride ∈ [1, overlap])."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col("text"))
    base = df.select(
        F.col("doc_id"), toks.alias("__t"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((F.col("__n") - overlap + stride - 1) / stride),
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    start = F.col("chunk_idx") * stride  # 0-based token offset
    piece = F.slice(F.col("__t"), start + 1, chunk_tokens)
    return (
        base.withColumn("chunk_idx", idx)
        .select(
            F.col("doc_id"),
            F.col("chunk_idx"),
            F.concat_ws(" ", piece).alias("chunk_text"),
            F.least(F.col("__n") - start, F.lit(chunk_tokens))
            .cast("int")
            .alias("n_chunk_tokens"),
        )
    )


def bigram_model(
    df: DataFrame,
    top_k_vocab: int = 1000,
    top_k_bigrams: int = 4000,
) -> tuple[list[tuple[str, int]], list[tuple[str, str, int]]]:
    """Corpus bigram language model, train half: the ``top_k_vocab`` most
    frequent unigrams with counts, and the ``top_k_bigrams`` most
    frequent adjacent-token bigrams with counts (deterministic
    tie-breaks by token). Two bounded map-side-combinable aggregates —
    shuffle width is the vocabulary, never the corpus — collected once
    as model artifacts (the IVF-codebook pattern)."""
    uni_q = (
        df.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(top_k_vocab)
    )
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    pairs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, n),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    bi_q = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p")["w1"].alias("w1"), F.col("p")["w2"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(top_k_bigrams)
    )
    # the two training aggregates are independent corpus scans — collect
    # them concurrently (guide §2.6) so the bigram pass back-fills the
    # unigram pass's straggler tail instead of waiting for it
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        bi_fut = pool.submit(bi_q.collect)
        uni = uni_q.collect()
        bi = bi_fut.result()
    return (
        [(r["tok"], r["c"]) for r in uni],
        [(r["w1"], r["w2"], r["c"]) for r in bi],
    )


def bigram_logprob_score(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    bigrams: list[tuple[str, str, int]],
) -> DataFrame:
    """Per-document mean adjacent-pair log-probability under a
    Laplace-smoothed corpus bigram LM — one step closer to the
    CCNet/KenLM perplexity filter than the unigram proxy (it punishes
    improbable token TRANSITIONS, the signature of shuffled boilerplate
    and template glue that unigram frequencies can't see):

        logP(w2 | w1) = ln((c(w1,w2) + 1) / (c(w1) + V))

    for in-vocab w1 (V = vocabulary size; pairs absent from the bigram
    table fall back to the same formula with c(w1,w2)=0), and a fixed
    ``OOV_LOGPROB`` when w1 is out of vocabulary.

    Scale shape: both the smoothed bigram log-probabilities and the
    per-w1 backoff enter the plan as literal maps (model-as-literal,
    like the unigram scorer and LSH planes), so scoring is a pure
    projection over the token array — no explode, no join, no shuffle,
    scan speed at any corpus size."""
    V = len(vocab)
    c1 = dict(vocab)
    bi_map = F.expr(
        _sql_map(
            [
                (w1 + " " + w2, math.log((c + 1.0) / (c1[w1] + V)))
                for w1, w2, c in bigrams
                if w1 in c1
            ]
        )
    )
    bo_map = F.expr(
        _sql_map([(w1, math.log(1.0 / (c + V))) for w1, c in vocab])
    )

    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    pairs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, n),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    term = lambda s: F.when(  # noqa: E731
        F.element_at(bo_map, s["w1"]).isNull(), F.lit(OOV_LOGPROB)
    ).otherwise(
        F.coalesce(
            F.element_at(bi_map, F.concat_ws(" ", s["w1"], s["w2"])),
            F.element_at(bo_map, s["w1"]),
        )
    )
    total_lp = F.aggregate(pairs, F.lit(0.0), lambda acc, s: acc + term(s))
    n_pairs = F.greatest(n - 1, F.lit(0))
    return df.select(
        F.col("doc_id"),
        n_pairs.cast("int").alias("n_pairs"),
        F.round(
            F.when(n_pairs > 0, total_lp / n_pairs).otherwise(F.lit(0.0)), 6
        ).alias("mean_logprob"),
    )


# HTML → text extraction (CommonCrawl-style). Pattern set restricted to
# the Java-regex ∩ RE2 subset ((?is) flags, lazy quantifiers, no
# backrefs) so a DuckDB oracle replays it byte-for-byte.
_HTML_KILL = (
    r"(?is)<script\b[^>]*>.*?</script[ \t\n\x0B\f\r]*>"
    r"|<style\b[^>]*>.*?</style[ \t\n\x0B\f\r]*>"
    r"|<noscript\b[^>]*>.*?</noscript[ \t\n\x0B\f\r]*>"
)
_HTML_COMMENT = r"(?s)<!--.*?-->"
_HTML_TAG = r"(?s)<[^>]+>"
_HTML_ENTITIES: list[tuple[str, str]] = [
    # &amp; decoded LAST so "&amp;lt;" yields "&lt;", not "<"
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_to_text(html: Column) -> Column:
    """Crude-but-deterministic HTML → text: drop script/style/noscript
    subtrees and comments, strip remaining tags to spaces, decode the
    six entities that dominate real pages (&amp; last, so double-encoded
    entities decode one level, not two), collapse whitespace. One
    regexp_replace chain — scan-speed, no UDF; patterns stay in the
    Java-regex ∩ RE2 subset with no backreferences, so the DuckDB
    oracle runs the byte-identical pattern. A production
    pipeline swaps in a DOM extractor (trafilatura-class) behind the
    same column contract."""
    out = F.regexp_replace(html, _HTML_KILL, " ")  # RE2-safe alternation
    out = F.regexp_replace(out, _HTML_COMMENT, " ")
    out = F.regexp_replace(out, _HTML_TAG, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, WS + "+", " "))


# URL canonicalization for dedup keys. Same portability discipline as the
# HTML chain: patterns stay in the Java-regex ∩ RE2 subset; the only
# non-regex step (lowercasing scheme+authority but NOT the path) is
# extract → lower → substring → concat, each engine-exact.
_URL_TRACKING = r"(utm_[a-z0-9]+|fbclid|gclid|ref)=[^&#]*"


def canonicalize_url(url: Column) -> Column:
    """Normalize a URL into a duplicate-detection key, the way crawl
    pipelines collapse the dozens of spellings one page accumulates:

    - drop the ``#fragment`` (client-side only),
    - lowercase the scheme and authority (host names are
      case-insensitive; the PATH is case-sensitive and left alone),
    - drop a leading ``www.``,
    - drop explicit default ports (``http://…:80``, ``https://…:443``),
    - strip tracking query parameters (``utm_*``, ``fbclid``, ``gclid``,
      ``ref``) and any separator debris they leave,
    - collapse a bare root path ``…/`` to the naked authority.

    Pure string/regex projection — no UDF, no shuffle; runs at scan
    speed inside whole-stage codegen. Deterministic, so the same page
    maps to the same key on every run of a 100 TB crawl dedup."""
    out = F.regexp_replace(url, r"#.*$", "")
    # lowercase scheme+authority only: split at the first /, ? (or end)
    # after the //, lower the head, keep the tail byte-identical
    head = F.regexp_extract(out, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    tail = F.substring(out, F.length(head) + 1, 1 << 30)
    out = F.concat(F.lower(head), tail)
    out = F.regexp_replace(out, r"^(https?://)www\.", r"$1")
    # default ports — no lookahead (RE2 has none): capture the rest and
    # put it back ($2 is empty when the port ends the string)
    out = F.regexp_replace(out, r"^(http://[^/?#:]*):80([/?#].*)?$", r"$1$2")
    out = F.regexp_replace(
        out, r"^(https://[^/?#:]*):443([/?#].*)?$", r"$1$2"
    )
    # tracking params: mid-query (a RUN of params, each with its trailing
    # &, anchored on the left by the ? or & separator — the anchor is
    # what stops 'href='/'pref='/'xref=' from matching inside longer
    # param names) then last-param (the preceding ? or & goes with it)
    out = F.regexp_replace(
        out, r"([?&])(?:" + _URL_TRACKING + r"&)+", r"$1"
    )
    out = F.regexp_replace(out, r"[?&]" + _URL_TRACKING + r"$", "")
    out = F.regexp_replace(out, r"[?&]$", "")
    out = F.regexp_replace(out, r"^(https?://[^/?#]*)/$", r"$1")
    return out


def canonicalize_text(text: Column) -> Column:
    """Exact-dedup canonical form — `dedup.normalize_text` (lowercase,
    punctuation→gone, whitespace collapsed; the shared normalization
    every dedup signal rides) plus DIGIT FOLDING: every unicode digit
    run collapses to ``0``, so near-identical pages differing only in
    timestamps, view counts, prices, or version strings map to one key
    (the Lee et al. 2022 normalize-then-match recipe). Pure regex
    projection — no UDF, no shuffle; the downstream dedup shuffles
    only the canonical form's 16-byte md5, never text."""
    from stglib_spark.operators.dedup import normalize_text

    return F.regexp_replace(normalize_text(text), r"\p{N}+", "0")


def tfidf_keywords(df: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-document keyword extraction by TF×IDF over the corpus, with a
    LINEAR idf — score = tf × (N+1)/(df+1) as one exact rational —
    instead of the textbook log-idf. Rationale: the ranking feeds
    dedup/curation decisions that must be reproducible run-to-run and
    engine-to-engine, and ln's last ulp differs across libms while
    integer multiply + one IEEE division is bit-exact everywhere.
    (Linear idf promotes rare terms more aggressively than log-idf; for
    a top-k cut that only reorders terms whose df differ, which is the
    signal being ranked anyway.)

    Plan shape: tokenize once, explode, two aggregates — (doc, term) tf
    and per-term df — joined on the term, with the corpus size N
    re-entering as a broadcast 1-row table (token-census pattern, never
    a driver collect). The final top-k is one window over the doc key.
    Shuffles carry (term, partials) and (doc, term, counts); the text
    body never moves after the explode."""
    from stglib_spark.operators.dedup import normalize_text

    words = df.select(
        F.col("doc_id"),
        F.explode(tokens(normalize_text(F.col("text")))).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df falls out of tf for free: tf has exactly one row per (doc, term),
    # so count-per-term == count distinct docs — one explode pass total.
    # tf feeds BOTH the df aggregate and the join probe; without a persist
    # the explode+aggregate runs twice (column pruning strips the count
    # from the df branch's partial aggregate, so exchange reuse can't
    # kick in). (id, term, tf) is ~30 B/row — MEMORY_AND_DISK spills
    # cleanly at corpus scale.
    from pyspark import StorageLevel

    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("__n") + 1)).cast("double")
            / (F.col("df") + 1),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def quality_logreg_train(
    df: DataFrame,
    iters: int = 3,
    lr: float = 0.5,
) -> tuple[list[float], DataFrame]:
    """Train a logistic-regression quality classifier IN the engine
    (the fastText-style quality-filter step of a pretraining pipeline,
    reference-free): features are the micro-rounded corpus quality
    ratios (alpha / punct / stopword — the same driver-oracled
    expressions as ``quality_score``), the label is the heuristic
    composite score clearing 0.75, and training is
    full-batch gradient descent with the weight vector SNAPPED to a
    9-decimal grid after every step (``ivf_refine`` contract: the
    snap is what makes the iteration engine-replayable — per-row
    sigmoid ulps and float summation order both vanish under the
    grid).

    Distributed shape: each iteration is ONE aggregate over the
    feature scan (4 avg's — map-side combinable); only the 4-float
    weight vector ever reaches the driver. Returns (weights
    [w0..w3], features DataFrame with columns x1,x2,x3,y)."""
    import math as _math

    from stglib_spark.operators.similarity import _snap_away

    scored = quality_score(df)
    feats = scored.select(
        F.col("alpha_ratio").alias("x1"),
        F.col("punct_ratio").alias("x2"),
        F.col("stopword_ratio").alias("x3"),
        (F.col("quality_score") >= 0.75)
        .cast("double")
        .alias("y"),
    )
    # Gradients accumulate as MICRO-INTEGER sums (floor(term·1e6 + 0.5)
    # per row, summed as BIGINT): integer addition is order-free, so
    # Spark's partition-order sum and a SQL replay's sequential sum are
    # EQUAL BY CONSTRUCTION — the only residual cross-engine hazard is a
    # per-row sigmoid ulp sitting within 1e-16 of a 0.5e-6 floor
    # boundary (~1e-11/row), versus the avg-of-doubles form whose
    # last-bit drift measurably flipped a 9-decimal snap at sf0.001.
    def micro(col: Column) -> Column:
        return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")

    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(iters):
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = p - F.col("y")
        g = feats.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro(r)).alias("g0"),
            F.sum(micro(r * F.col("x1"))).alias("g1"),
            F.sum(micro(r * F.col("x2"))).alias("g2"),
            F.sum(micro(r * F.col("x3"))).alias("g3"),
        ).collect()[0]
        n = int(g["n"])
        w = [
            _snap_away(
                w[j] - float(lr) * (int(g[f"g{j}"]) / 1e6 / n), 9
            )
            for j in range(4)
        ]
    return w, feats
