"""Semantic tests for the late-r5 corpus additions: PPS sampling
(corpus.pps_sample), writer-shard manifests (corpus.shard_manifest), and
URL canonicalization (text.canonicalize_url)."""

import pytest
from pyspark.sql import functions as F

from stglib_spark.operators import corpus
from stglib_spark.operators.text import canonicalize_url


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "w " * (10 * (i % 40) + 1), 20 * (i % 40) + 2) for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_pps_sample_deterministic_and_size_monotone(spark, docs):
    a = {r.doc_id for r in corpus.pps_sample(docs, rate=2e-3).collect()}
    b = {r.doc_id for r in corpus.pps_sample(docs, rate=2e-3).collect()}
    assert a == b  # hash-keyed, not rand(): rerun reproduces membership
    # a higher rate only ADDS members (same key, larger threshold)
    c = {r.doc_id for r in corpus.pps_sample(docs, rate=4e-3).collect()}
    assert a <= c
    # docs at the cap (n_chars * rate >= 1) are always kept
    capped = {
        r.doc_id
        for r in docs.filter(F.col("n_chars") >= int(1 / 2e-3)).collect()
    }
    assert capped <= a
    # keep rate per size bucket grows with size (PPS, not uniform):
    # compare the smallest and largest thirds
    small = {r.doc_id for r in docs.filter("n_chars < 250").collect()}
    large = {r.doc_id for r in docs.filter("n_chars >= 500").collect()}
    assert len(a & large) / len(large) > len(a & small) / len(small)


def test_shard_manifest_partitions_everything_once(spark, docs):
    out = corpus.shard_manifest(docs, n_shards=16).collect()
    assert sum(r.n_docs for r in out) == 400
    assert sum(r.total_chars for r in out) == sum(
        r.n_chars for r in docs.collect()
    )
    assert all(0 <= r.shard < 16 for r in out)
    # hash sharding balances: no shard holds more than 3x the mean
    assert max(r.n_docs for r in out) <= 3 * (400 / 16)


CANON_CASES = [
    # (input, expected)
    (
        "HTTPS://WWW.Example.COM:443/Path/To?utm_source=f&a=1#frag",
        "https://example.com/Path/To?a=1",
    ),
    ("http://Example.com:80/", "http://example.com"),
    ("https://example.com/?utm_campaign=x", "https://example.com"),
    (
        "http://www.example.com/Path?a=1&utm_medium=m&b=2",
        "http://example.com/Path?a=1&b=2",
    ),
    ("https://EXAMPLE.com/p?ref=hn", "https://example.com/p"),
    ("http://example.com/p?a=1&", "http://example.com/p?a=1"),
    # non-http schemes: lowered authority, no www/port/root-slash logic
    ("ftp://Weird.Host/Path", "ftp://weird.host/Path"),
    # non-default port survives
    ("https://example.com:8443/p", "https://example.com:8443/p"),
    # PATH case is significant and preserved
    ("http://example.com/CaseSensitive", "http://example.com/CaseSensitive"),
    # fbclid/gclid stripped; fragment-only query debris cleaned
    ("https://example.com/p?fbclid=abc#x", "https://example.com/p"),
    ("https://example.com/p?gclid=1&q=2", "https://example.com/p?q=2"),
]


def test_canonicalize_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], ["url"])
    got = [
        r.c
        for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in CANON_CASES]


def test_canonicalize_url_idempotent(spark):
    """Canonical output is a fixpoint: canonicalizing twice changes
    nothing (required for incremental crawls that re-ingest their own
    canonical keys)."""
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], ["url"])
    once = df.select(canonicalize_url(F.col("url")).alias("c"))
    twice = once.select(
        F.col("c"), canonicalize_url(F.col("c")).alias("c2")
    ).collect()
    assert all(r.c == r.c2 for r in twice)


def test_incremental_dedup_semantics(spark):
    from stglib_spark.operators.dedup import incremental_dedup

    index_rows = [("already ingested page",), ("another known page",)]
    idx = spark.createDataFrame(index_rows, "text string").select(
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), r"[^\p{L}\p{N}\s]", ""
                    ),
                    r"\s+",
                    " ",
                )
            )
        ).alias("digest")
    )
    batch = spark.createDataFrame(
        [
            (10, "Already INGESTED page!"),  # dup of index (normalized)
            (11, "fresh content one"),
            (12, "fresh content two"),
            (13, "fresh content one"),  # within-batch dup of 11
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_dedup(batch, idx).collect()}
    assert set(out) == {11, 12}  # 10 hit the index; 13 collapsed into 11
    assert out[11].batch_dups == 2
    assert out[12].batch_dups == 1


def test_tfidf_keywords_ranking(spark):
    from stglib_spark.operators.text import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple banana banana"),
            (2, "apple cherry"),
            (3, "durian"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_keywords(docs, top_k=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r.rank)
    # doc1: banana tf=2 df=1 -> 2*(3+1)/2 = 4.0 beats apple 1*4/3
    assert by_doc[1][0].term == "banana" and by_doc[1][0].score == 4.0
    assert by_doc[1][1].term == "apple"
    # doc3: single term, df=1 -> 1*4/2 = 2.0
    assert by_doc[3][0].term == "durian" and by_doc[3][0].score == 2.0
    # every doc emits at most top_k rows, ranks are 1..k contiguous
    for v in by_doc.values():
        assert [r.rank for r in v] == list(range(1, len(v) + 1))


def test_gate_documents_reasons_and_keep(spark):
    from stglib_spark.operators.corpus import gate_documents

    docs = spark.createDataFrame(
        [
            (1, "short"),  # too_short (+low_alpha? 'short'=5 alpha/5 -> 1.0 ok)
            (2, "a decent length document body with plain readable words here"),
            (3, "!!!! .... ;;;; " * 10),  # punct + low alpha + short tokens
            (4, "x" * 200),  # one 200-char token -> token_shape
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gate_documents(docs).collect()}
    assert out[1].keep is False and "too_short" in out[1].fail_reasons
    assert out[2].keep is True and out[2].fail_reasons == []
    assert "high_punct" in out[3].fail_reasons
    assert "low_alpha" in out[3].fail_reasons
    assert "token_shape" in out[4].fail_reasons
    # keep <=> empty reasons, for every row
    assert all((r.keep) == (len(r.fail_reasons) == 0) for r in out.values())


def test_canonicalize_url_grammar_batch(spark):
    """Batched randomized grammar test (one Spark pass, not
    per-example): every canonical output has a lowercase authority, no
    fragment, no tracking params, no default port, no dangling ?/& —
    and canonicalization is idempotent on all of them."""
    import itertools
    import re as _re

    schemes = ["http", "HTTP", "https", "HTTPS", "Http"]
    hosts = ["Example.COM", "sub.Host.org", "WWW.Mixed.Net", "xn--caf-dma.fr"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/A/b", "/x%20y", "/trail/"]
    queries = [
        "",
        "?a=1",
        "?utm_source=x",
        "?a=1&utm_a=2&b=3",
        "?ref=r&z=9",
        # longer param names CONTAINING a tracking name must survive
        # (the r5 bug: an unanchored mid-query rule matched inside them)
        "?href=https://other.com&q=1",
        "?pref=dark&q=1",
        "?xref=12&b=2",
        # adjacent run of tracking params
        "?utm_a=1&utm_b=2&ref=r&q=1",
    ]
    frags = ["", "#f", "#Frag?x=1"]
    urls = [
        f"{s}://{h}{po}{pa}{q}{fr}"
        for s, h, po, pa, q, fr in itertools.product(
            schemes, hosts, ports, paths, queries, frags
        )
    ]
    tracking = _re.compile(r"^(utm_[a-z0-9]+|fbclid|gclid|ref)$")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = df.select(
        F.col("url"),
        canonicalize_url(F.col("url")).alias("c"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("cc"),
    ).collect()
    for r in rows:
        assert r.c == r.cc, (r.c, r.cc)
        auth = _re.match(r"^[a-z][a-z0-9+.-]*://[^/?#]*", r.c)
        assert auth and auth.group(0) == auth.group(0).lower(), r.c
        assert "#" not in r.c, r.c
        got_params = (
            r.c.split("?", 1)[1].split("&") if "?" in r.c else []
        )
        for p in got_params:
            assert not tracking.match(p.split("=", 1)[0]), r.c
        # every non-tracking input param survives VERBATIM, in order
        in_q = _re.search(r"\?(.*)", r.url.split("#", 1)[0])
        want_params = [
            p
            for p in (in_q.group(1).split("&") if in_q else [])
            if p and not tracking.match(p.split("=", 1)[0])
        ]
        assert got_params == want_params, (r.url, r.c)
        # default ports only: :80 is default for http, :443 for https —
        # the cross pairings are real ports and must survive
        if r.c.startswith("http://"):
            assert ":80/" not in r.c and not r.c.endswith(":80"), r.c
        if r.c.startswith("https://"):
            assert ":443/" not in r.c and not r.c.endswith(":443"), r.c
        assert not r.c.endswith("?") and not r.c.endswith("&"), r.c


def test_run_corpus_hard_gates_funnel_zone(spark, tmp_path):
    """run_corpus with hard_gates: the funnel zone's counts reconcile
    with the mix input (census/mix see only survivors)."""
    import pyarrow.parquet as pq

    from stglib_spark.pipeline import run_corpus

    docs = str(tmp_path / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(docs)
    cfg = {
        "filename": "gatedrun",
        "documents_path": docs,
        "output_dir": str(tmp_path),
        "hard_gates": True,
        "pack_seq_len": 256,
        "pack_shards": 4,
        "mix_fractions": {"high": 1.0, "mid": 1.0, "low": 1.0},
    }
    paths = run_corpus(spark, cfg)
    assert "funnel" in paths
    funnel = pq.read_table(paths["funnel"]).to_pandas()
    kept = int(funnel.loc[funnel["gate"] == "kept", "n_docs"].iloc[0])
    quality = pq.read_table(paths["quality"]).to_pandas()
    mix = pq.read_table(paths["mix"]).to_pandas()
    assert kept < len(quality)  # some gate fired on the synthetic corpus
    assert len(mix) == kept  # fractions 1.0 -> mix = exactly the survivors


def test_assign_split_disjoint_exhaustive_deterministic(spark):
    from stglib_spark.operators.corpus import assign_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = assign_split(docs).select("doc_id", "split").toPandas()
    b = assign_split(docs).select("doc_id", "split").toPandas()
    # every doc gets exactly one label, identically on re-run
    assert set(a["split"]) <= {"train", "val", "test"}
    assert len(a) == docs.count()
    assert a.sort_values("doc_id").reset_index(drop=True).equals(
        b.sort_values("doc_id").reset_index(drop=True)
    )
    # hash uniformity: eval share lands near 20% (loose bound, n=500)
    frac_eval = (a["split"] != "train").mean()
    assert 0.08 < frac_eval < 0.35


def test_split_audit_reconciles_totals(spark):
    from stglib_spark.operators.corpus import split_audit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    audit = split_audit(docs).toPandas()
    assert int(audit["n_docs"].sum()) == docs.count()
    # every source present in train (uniform hash, sources are large)
    train_sources = set(audit.loc[audit["split"] == "train", "source"])
    all_sources = {r["source"] for r in docs.select("source").distinct().collect()}
    assert train_sources == all_sources


def test_diversity_stats_exact_boundaries(spark):
    import pandas as pd

    from stglib_spark.operators.corpus import diversity_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "source": ["mono"] * 3 + ["half"] * 4 + ["skew"] * 4,
                "lang": ["en", "en", "en", "en", "en", "fr", "fr",
                         "en", "en", "en", "fr"],
            }
        )
    )
    out = {r["source"]: r for r in diversity_stats(df).collect()}
    # single label: Simpson = 1 exactly
    assert out["mono"]["n_labels"] == 1
    assert out["mono"]["simpson_ppm"] == 1_000_000
    # 2+2 uniform: Simpson = 0.5 exactly
    assert out["half"]["simpson_ppm"] == 500_000
    # 3+1 of 4: (9+1)/16 = 0.625 exactly
    assert out["skew"]["simpson_ppm"] == 625_000


def test_split_leakage_reports_straddling_neardups(spark):
    import pandas as pd

    from stglib_spark.operators.corpus import assign_split
    from stglib_spark.operators.dedup import split_leakage

    # 40 docs in 20 identical-text pairs: any pair straddling the
    # train/eval boundary MUST surface (identical text -> same bands,
    # jaccard 1.0); same-split pairs must NOT.
    texts = [f"alpha beta gamma delta epsilon zeta {i} common tail" for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(40)), "text": texts + texts}
        )
    )
    splits = {
        r["doc_id"]: r["split"]
        for r in assign_split(df).select("doc_id", "split").collect()
    }
    expected = set()
    for i in range(20):
        a, b = i, i + 20
        sa, sb = splits[a], splits[b]
        if sa == "train" and sb != "train":
            expected.add((b, a))
        elif sb == "train" and sa != "train":
            expected.add((a, b))
    got = split_leakage(df, portable=True, shingle_n=2).collect()
    got_pairs = {(r["doc_id"], r["train_doc_id"]) for r in got}
    assert expected <= got_pairs
    for r in got:
        assert splits[r["doc_id"]] != "train"
        assert splits[r["train_doc_id"]] == "train"
        assert r["split"] == splits[r["doc_id"]]
        assert r["jaccard"] >= 0.5


def test_canonicalize_text_folds_digits_and_merges_variants(spark):
    """canonicalize_text = normalize_text + digit folding (Lee et al.
    2022 normalize-then-match): trivially-reworded copies — case,
    punctuation, whitespace, and ANY numbers (timestamps, view counts,
    versions) — must map to one canonical key; genuinely different
    words must not."""
    import pandas as pd

    from pyspark.sql import functions as F
    from stglib_spark.operators.text import canonicalize_text

    rows = [
        (1, "Release v2.31 — viewed 1,204 times on 2024-06-01!"),
        (2, "release   V7.8 viewed 99 times on 1999-01-31"),
        (3, "Release version viewed many times"),  # words differ -> distinct
        (4, "第42章 完"),  # unicode digits+letters survive normalization
        (5, "第9999章 完"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: r["ck"]
        for r in df.select(
            "doc_id", canonicalize_text(F.col("text")).alias("ck")
        ).collect()
    }
    # punctuation strips WITHOUT inserting spaces (v2.31 -> v231 -> v0)
    assert out[1] == out[2] == "release v0 viewed 0 times on 0"
    assert out[3] != out[1]
    assert out[4] == out[5] == "第0章 完"


def test_ranking_auc_exact_with_ties(spark):
    """ranking_auc must equal the hand-computed Mann–Whitney AUC with
    0.5 credit for ties, and NULL out when a class is empty."""
    import pandas as pd

    from stglib_spark.operators.corpus import ranking_auc

    # scores: pos at {0.9, 0.7, 0.5}, neg at {0.7, 0.3, 0.1}
    # pairs: 3x3 = 9; concordant: 0.9>{.7,.3,.1}=3, 0.7>{.3,.1}=2,
    # 0.5>{.3,.1}=2 -> 7; ties: (0.7,0.7) -> 0.5; AUC = 7.5/9
    rows = [
        (1, 0.9, True), (2, 0.7, True), (3, 0.5, True),
        (4, 0.7, False), (5, 0.3, False), (6, 0.1, False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "score", "keep"])
    )
    r = ranking_auc(df, "score", "keep").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (3, 3)
    assert r["auc"] == round(7.5 / 9, 6)
    # perfect separation -> 1.0
    perfect = spark.createDataFrame(
        pd.DataFrame(
            [(1, 0.9, True), (2, 0.8, True), (3, 0.2, False)],
            columns=["doc_id", "score", "keep"],
        )
    )
    assert ranking_auc(perfect, "score", "keep").collect()[0]["auc"] == 1.0
    # one-class input -> NULL auc, not a crash
    onecls = spark.createDataFrame(
        pd.DataFrame([(1, 0.9, True), (2, 0.8, True)],
                     columns=["doc_id", "score", "keep"])
    )
    assert ranking_auc(onecls, "score", "keep").collect()[0]["auc"] is None


def test_threshold_sweep_confusion_counts(spark):
    """threshold_sweep must emit the exact confusion matrix at every
    distinct score, predicting positive at score >= threshold."""
    import pandas as pd

    from stglib_spark.operators.corpus import threshold_sweep

    rows = [
        (1, 0.9, True), (2, 0.7, True), (3, 0.5, True),
        (4, 0.7, False), (5, 0.3, False), (6, 0.1, False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "score", "keep"])
    )
    out = {r["threshold"]: r for r in threshold_sweep(df, "score", "keep").collect()}
    assert set(out) == {0.9, 0.7, 0.5, 0.3, 0.1}
    # at 0.7: predicted positive = {0.9, 0.7, 0.7} -> tp=2 fp=1 fn=1 tn=2
    r = out[0.7]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 2)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == round(2 / 3, 6)
    assert r["f1"] == round(2 * 2 / (2 * 2 + 1 + 1), 6)
    # lowest threshold keeps everything: recall 1, tn 0
    r = out[0.1]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 3, 0, 0)
    assert r["recall"] == 1.0
    # highest threshold: only the top doc
    r = out[0.9]
    assert (r["tp"], r["fp"]) == (1, 0) and r["precision"] == 1.0
