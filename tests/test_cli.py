"""runots-equivalent CLI (python -m stglib_spark): argument surface,
step dispatch, gatts+YAML merge reaching the pipeline stages."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from stglib_spark.__main__ import main

@pytest.fixture(scope="module")
def tmp_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cli_test"))


@pytest.fixture(scope="module")
def cli_fixture(spark, tmp_dir):
    # small continuous scalar series (6 h at 1 min) with one spike
    t0 = pd.Timestamp("2024-06-01 00:00:00")
    rows = [
        {
            "Time": (t0 + pd.Timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3],
            "Pressure": 10.0 + 0.1 * np.sin(i / 20),
            "Temperature": 12.0 + (50.0 if i == 100 else 0.0),
        }
        for i in range(360)
    ]
    rows.insert(0, {"Time": "2024-05-30 00:00:00.000", "Pressure": 0.0, "Temperature": 0.0})
    pd.DataFrame(rows).to_csv(os.path.join(tmp_dir, "in.csv"), index=False)

    with open(os.path.join(tmp_dir, "gatts.txt"), "w") as f:
        f.write("MOORING; 9999\n")
        f.write("Deployment_date; 2024-06-01 00:00:00\n")
        f.write("Recovery_date; 2024-06-02 00:00:00\n")
        f.write("initial_instrument_height; 0.5\n")
    with open(os.path.join(tmp_dir, "config.yaml"), "w") as f:
        f.write("filename: clitest\n")
        f.write(f"input_path: {tmp_dir}/in.csv\n")
        f.write("T_28_max: 50.0\n")
    return tmp_dir


def test_cli_list_adapters(capsys):
    assert main(["--list"]) == 0
    out = capsys.readouterr().out.split()
    assert "rbr_csv" in out and "rdi_pd0" in out


def test_cli_usage_without_args():
    assert main([]) == 2


def test_cli_unknown_step(cli_fixture):
    assert main(["rbr_csv", "bogus_step"]) == 2


def test_cli_ingest_then_clean(cli_fixture, spark, tmp_dir):
    rc = main(
        [
            "rbr_csv",
            "csv2cdf",
            f"{tmp_dir}/gatts.txt",
            f"{tmp_dir}/config.yaml",
            "--output-dir",
            tmp_dir,
        ]
    )
    assert rc == 0
    raw = spark.read.parquet(os.path.join(tmp_dir, "clitest_raw"))
    assert raw.count() == 361  # clip happens in cdf2nc, not ingest
    assert "P_1" in raw.columns  # EPIC rename applied at ingest

    rc = main(
        [
            "rbr_csv",
            "cdf2nc",
            f"{tmp_dir}/gatts.txt",
            f"{tmp_dir}/config.yaml",
            "--output-dir",
            tmp_dir,
        ]
    )
    assert rc == 0
    clean = spark.read.parquet(os.path.join(tmp_dir, "clitest_clean"))
    assert clean.count() == 360  # out-of-window row clipped
    # T_28_max rule nulled the spike, row retained
    assert clean.filter("T_28 IS NULL").count() == 1
    # gatts value flowed through (instrument height → water_depth)
    assert "water_depth" in clean.columns
    # history sidecar written with audit note
    with open(os.path.join(tmp_dir, "clitest_clean.meta.json")) as f:
        meta = json.load(f)
    assert any("QA/QC" in h for h in meta["history"])
    assert any("T_28" in var for var in meta["notes"])


def test_cli_exportnc_step(cli_fixture, spark, tmp_dir):
    """exportnc emits the reference's final CF netCDF product from the
    clean zone (classic-nc3 in this container), with gatts globals, the
    history sidecar, and per-variable attrs carried."""
    for step in ("csv2cdf", "cdf2nc"):
        assert main(
            ["rbr_csv", step, f"{tmp_dir}/gatts.txt", f"{tmp_dir}/config.yaml",
             "--output-dir", tmp_dir]
        ) == 0
    assert main(
        ["rbr_csv", "exportnc", f"{tmp_dir}/gatts.txt", f"{tmp_dir}/config.yaml",
         "--output-dir", tmp_dir]
    ) == 0
    out = os.path.join(tmp_dir, "clitest-a.nc")
    assert os.path.exists(out)

    from stglib_spark.functions.netcdf3 import read_nc3

    nc = read_nc3(out)
    assert nc["attrs"]["MOORING"] == 9999 or nc["attrs"]["MOORING"] == "9999"
    assert nc["attrs"]["Conventions"] == "CF-1.11"
    assert "Clipped" in nc["attrs"]["history"]
    assert nc["dims"]["time"] == 360
    assert "P_1" in nc["variables"]
    assert nc["variables"]["P_1"]["attrs"]["units"] == "dbar"
    # QA/QC null (the T_28 spike) survives the trip as NaN
    t28 = nc["variables"]["T_28"]["data"]
    assert int(np.isnan(t28).sum()) == 1
    # lint report written next to the export
    assert os.path.exists(out + ".cfcheck.txt")


def test_cli_dedup_step(spark, tmp_dir):
    """`python -m stglib_spark corpus dedup --input <documents.parquet>`
    runs the shared-intermediate dedup stage end-to-end."""
    import os

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/dedup.yaml", "w").write(
        "filename: clidedup\njaccard_threshold: 0.5\n"
    )
    assert main(
        ["corpus", "dedup", None, f"{tmp_dir}/dedup.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    import pyarrow.parquet as pq

    pairs = pq.read_table(f"{tmp_dir}/clidedup_dedup").to_pandas()
    assert {"doc_a", "doc_b", "jaccard"} <= set(pairs.columns)
    assert (pairs["jaccard"] >= 0.5).all()
    assert os.path.isdir(f"{tmp_dir}/clidedup_candidates")
    assert os.path.isdir(f"{tmp_dir}/clidedup_shingles")


def test_cli_corpus_step(spark, tmp_dir):
    """`python -m stglib_spark corpus corpus --input <documents.parquet>`
    runs the curation stage: quality/census/mix/packs zones, with the
    pack spans tiling each shard and the mix a subset of the corpus."""
    import os

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs2.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpus.yaml", "w").write(
        "filename: clicorpus\npack_seq_len: 256\npack_shards: 4\n"
    )
    assert main(
        ["corpus", "corpus", None, f"{tmp_dir}/corpus.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    import pyarrow.parquet as pq

    quality = pq.read_table(f"{tmp_dir}/clicorpus_quality").to_pandas()
    assert {"doc_id", "lang_pred", "n_tokens", "quality_bucket"} <= set(
        quality.columns
    )
    census = pq.read_table(f"{tmp_dir}/clicorpus_census").to_pandas()
    assert abs(census["token_share"].sum() - 1.0) < 1e-4
    mix = pq.read_table(f"{tmp_dir}/clicorpus_mix").to_pandas()
    assert 0 < len(mix) <= len(quality)
    packs = pq.read_table(f"{tmp_dir}/clicorpus_packs").to_pandas()
    # spans tile each shard's token stream
    for shard, grp in packs.groupby("shard"):
        grp = grp.sort_values("start_offset")
        expect = 0
        for _, r in grp.iterrows():
            assert r["start_offset"] == expect
            expect += r["n_tokens"]
            assert r["start_pack"] == r["start_offset"] // 256
    # packs only cover mix members
    assert set(packs["doc_id"]) <= set(mix["doc_id"])


def test_cli_corpus_step_with_token_budget(spark, tmp_dir):
    """mix_token_budget caps the mix zone's total tokens (per-shard
    budget split) while keeping packs consistent with the capped mix."""
    import os

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs3.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpus_budget.yaml", "w").write(
        "filename: clibudget\npack_seq_len: 256\npack_shards: 4\n"
        "mix_token_budget: 4000\n"
    )
    assert main(
        ["corpus", "corpus", None, f"{tmp_dir}/corpus_budget.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    import pyarrow.parquet as pq

    mix = pq.read_table(f"{tmp_dir}/clibudget_mix").to_pandas()
    assert 0 < mix["n_tokens"].sum() <= 4000
    packs = pq.read_table(f"{tmp_dir}/clibudget_packs").to_pandas()
    assert set(packs["doc_id"]) <= set(mix["doc_id"])


def test_cli_corpusall_chains_dedup_into_curation(spark, tmp_dir):
    """corpusall: raw docs (with an injected near-duplicate) -> dedup
    zones -> deduped zone without the non-canonical copy -> packs built
    from survivors only."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stglib_spark.__main__ import main

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # duplicate doc 1 verbatim under a high id -> must be dropped
    dup = base.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    docs = f"{tmp_dir}/cli_docs4.parquet"
    base.unionByName(dup).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpusall.yaml", "w").write(
        "filename: cliall\njaccard_threshold: 0.8\npack_seq_len: 256\n"
        "pack_shards: 4\n"
    )
    assert main(
        ["corpus", "corpusall", None, f"{tmp_dir}/corpusall.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    deduped = pq.read_table(f"{tmp_dir}/cliall_deduped").to_pandas()
    assert 500001 not in set(deduped["doc_id"])  # non-canonical copy dropped
    assert 1 in set(deduped["doc_id"])           # canonical copy kept
    packs = pq.read_table(f"{tmp_dir}/cliall_packs").to_pandas()
    assert set(packs["doc_id"]) <= set(deduped["doc_id"])
    assert os.path.isdir(f"{tmp_dir}/cliall_quality")


def test_cli_corpus_materializes_sequences(spark, tmp_dir):
    """pack_materialize: true adds a sequences zone of trainer-ready
    rows whose full packs are exactly pack_seq_len tokens."""
    import os

    import pyarrow.parquet as pq

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs5.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpus_seq.yaml", "w").write(
        "filename: cliseq\npack_seq_len: 128\npack_shards: 4\n"
        "pack_materialize: true\n"
    )
    assert main(
        ["corpus", "corpus", None, f"{tmp_dir}/corpus_seq.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    seqs = pq.read_table(f"{tmp_dir}/cliseq_sequences").to_pandas()
    assert len(seqs) > 0
    last = seqs.groupby("shard")["pack_id"].transform("max")
    full = seqs[seqs["pack_id"] != last]
    assert (full["n_tokens"] == 128).all()
    assert (
        seqs["pack_text"].str.split().str.len() == seqs["n_tokens"]
    ).all()


def test_cli_corpus_with_boilerplate_cleaning(spark, tmp_dir):
    """boilerplate_min_doc_frac adds a cleaned zone: a line injected in
    every document is stripped before quality scoring."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs6.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("SHARED BANNER\n"), F.col("text")).alias("text"),
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpus_bp.yaml", "w").write(
        "filename: clibp\nboilerplate_min_doc_frac: 0.5\n"
    )
    assert main(
        ["corpus", "corpus", None, f"{tmp_dir}/corpus_bp.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    cleaned = pq.read_table(f"{tmp_dir}/clibp_cleaned").to_pandas()
    assert not cleaned["text"].str.contains("SHARED BANNER").any()
    assert os.path.isdir(f"{tmp_dir}/clibp_quality")


def test_cli_corpus_with_dup_span_excision(spark, tmp_dir):
    """dup_span_ngram adds a despanned zone: a 6-token span injected into
    every document survives only in the minimum-doc_id document."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stglib_spark.__main__ import main

    docs = f"{tmp_dir}/cli_docs7.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta "), F.col("text")
        ).alias("text"),
    ).write.mode("overwrite").parquet(docs)
    open(f"{tmp_dir}/corpus_span.yaml", "w").write(
        "filename: clispan\ndup_span_ngram: 6\n"
    )
    assert main(
        ["corpus", "corpus", None, f"{tmp_dir}/corpus_span.yaml",
         "--input", docs, "--output-dir", tmp_dir]
    ) == 0
    out = pq.read_table(f"{tmp_dir}/clispan_despanned").to_pandas()
    hits = out[out["text"].str.contains("alpha beta gamma")]
    src = pq.read_table(docs).to_pandas()
    assert list(hits["doc_id"]) == [src["doc_id"].min()]
    assert os.path.isdir(f"{tmp_dir}/clispan_quality")


def test_cli_nc2diwasp_step(spark, tmp_dir):
    """`python -m stglib_spark <inst> nc2diwasp gatts config` runs the
    directional-spectra stage against an existing clean zone and writes
    the diwasp zone (closing the one CLI step without a direct test)."""
    import os

    from pyspark.sql import functions as F

    from stglib_spark.__main__ import main

    base_epoch = 1622505600
    b = (F.col("id") / 64).cast("long")
    i = F.pmod(F.col("id"), 64)
    clean = spark.range(128).select(
        b.alias("burst"),
        i.cast("long").alias("sample"),
        F.timestamp_seconds(
            F.lit(base_epoch) + b * 3600 + i.cast("double") * 0.5
        ).alias("time"),
        (F.lit(10.0) + (F.pmod(7 * i + 13 * b, 16) - 8) / 64.0).alias("P_1ac"),
        ((F.pmod(5 * i + 3 * b + 4, 16) - 8) / 64.0).alias("u_1205"),
        ((F.pmod(3 * i + 11 * b + 9, 16) - 8) / 64.0).alias("v_1206"),
    )
    clean.write.mode("overwrite").parquet(f"{tmp_dir}/clidiwasp_clean")
    open(f"{tmp_dir}/diwasp.yaml", "w").write(
        "filename: clidiwasp\n"
        "sample_interval: 0.5\n"
        "pressure_sensor_height: 0.5\n"
        "diwasp: puv\n"
        "diwasp_method: DFTM\n"
        "diwasp_nfft: 16\n"
        "diwasp_dres: 12\n"
        "diwasp_nfreqs: 8\n"
        "diwasp_ndirs: 12\n"
    )
    assert main(
        ["rbr_csv", "nc2diwasp", None, f"{tmp_dir}/diwasp.yaml",
         "--output-dir", tmp_dir]
    ) == 0
    import pyarrow.parquet as pq

    out = pq.read_table(f"{tmp_dir}/clidiwasp_diwasp").to_pandas()
    assert len(out) == 2
    assert set(out["diwasp_type"]) == {"puv"}
    assert (out["wh_4061"] > 0).all()


def test_cli_mediadedup_video_rejects_max_hamming_past_pigeonhole(spark, tmp_dir):
    """`mediadedup` on video reads `phash_max_hamming` and `phash_blocks`
    from the config; a Hamming bound above blocks−1 would silently miss
    near-duplicate frame pairs, so the stage raises instead of writing a
    pairs zone."""
    import os

    from stglib_spark.functions.media import encode_avi

    frames = [np.full((12, 22, 3), 16 * f, np.uint8) for f in range(3)]
    media = f"{tmp_dir}/cli_videos.parquet"
    spark.createDataFrame(
        [(1, bytearray(encode_avi(frames, fps=4.0)))],
        "media_id long, content binary",
    ).write.mode("overwrite").parquet(media)
    open(f"{tmp_dir}/mediadedup.yaml", "w").write(
        "filename: climedia\n"
        "media_kind: video\n"
        "phash_max_hamming: 4\n"
        "phash_blocks: 4\n"
    )
    shutil.rmtree(f"{tmp_dir}/climedia_pairs", ignore_errors=True)
    with pytest.raises(ValueError, match="pigeonhole"):
        main(
            ["media", "mediadedup", None, f"{tmp_dir}/mediadedup.yaml",
             "--input", media, "--output-dir", tmp_dir]
        )
    assert not os.path.exists(f"{tmp_dir}/climedia_pairs")
