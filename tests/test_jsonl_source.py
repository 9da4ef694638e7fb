"""JSONL corpus ingest: canonical schema, deterministic content-addressed
ids (stable across re-reads, duplicate lines disambiguated), gzip
support, null-text drop, and the corpus-stage front door."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from stglib_spark.sources.jsonl import read_jsonl_corpus


@pytest.fixture(scope="module")
def jl_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jl"))
    rows = [
        {"text": "alpha beta gamma", "source": "web"},
        {"text": "delta epsilon", "source": "books"},
        {"text": "alpha beta gamma", "source": "web"},   # exact dup line
        {"text": None, "source": "web"},                  # dropped
        {"source": "web"},                                # absent text -> dropped
    ]
    with open(os.path.join(d, "a.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    with gzip.open(os.path.join(d, "b.jsonl.gz"), "wt") as f:
        f.write(json.dumps({"text": "zeta eta", "id": "77"}) + "\n")
        f.write(json.dumps({"text": "alpha beta gamma"}) + "\n")
    return d


def test_jsonl_schema_and_null_drop(spark, jl_dir):
    df = read_jsonl_corpus(spark, jl_dir)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "text", "source", "n_chars",
    ]
    rows = df.collect()
    assert len(rows) == 5  # 3 from a.jsonl (2 dropped) + 2 from b.gz
    assert all(r["text"] is not None for r in rows)
    assert {r["n_chars"] for r in rows} == {16, 13, 8}


def test_jsonl_ids_deterministic_and_duplicate_safe(spark, jl_dir):
    a = {(r["doc_id"], r["text"]) for r in read_jsonl_corpus(spark, jl_dir).collect()}
    b = {(r["doc_id"], r["text"]) for r in read_jsonl_corpus(spark, jl_dir).collect()}
    assert a == b  # stable across runs — resumable ingest
    ids = [r[0] for r in a]
    assert len(ids) == len(set(ids))  # dup lines get distinct ids
    # same text in DIFFERENT files hashes differently (file is salted in)
    texts = {}
    for did, t in a:
        texts.setdefault(t, set()).add(did)
    assert len(texts["alpha beta gamma"]) == 3


def test_jsonl_explicit_id_field(spark, jl_dir):
    df = read_jsonl_corpus(spark, os.path.join(jl_dir, "b.jsonl.gz"), id_field="id")
    got = {r["text"]: r["doc_id"] for r in df.collect()}
    assert got["zeta eta"] == 77  # numeric string id passes through
    assert got["alpha beta gamma"] is not None  # absent id -> hashed


def test_jsonl_id_field_outside_schema_rejected(spark, jl_dir):
    """A dump whose id sits in a field the read schema does not carry
    fails up front, naming the fields it could use."""
    with pytest.raises(
        ValueError, match=r"'doc'.*\['text', 'id', 'source', 'lang', 'url'\]"
    ):
        read_jsonl_corpus(spark, jl_dir, id_field="doc")


def test_corpus_stage_ingests_jsonl(spark, jl_dir, tmp_path):
    import pyarrow.parquet as pq

    from stglib_spark.pipeline import run_corpus

    paths = run_corpus(
        spark,
        {
            "filename": "jl",
            "documents_path": jl_dir,
            "documents_format": "jsonl",
            "output_dir": str(tmp_path),
            "pack_shards": 2,
            "pack_seq_len": 4,
        },
    )
    q = pq.read_table(paths["quality"]).to_pandas()
    assert len(q) == 5
