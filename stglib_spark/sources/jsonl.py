"""JSONL corpus ingest: the format 100 TB text corpora actually arrive
in (one JSON object per line, usually gzipped, fields varying by dump).

North-star extension (BASELINE.json): the reference ingests instrument
files; a training-data pipeline's equivalent front door is
jsonl[.gz] → the canonical ``documents`` schema the corpus/dedup/text
operators run on (doc_id, text, source, n_chars).

Scale notes: Spark's json source splits uncompressed files by range and
streams gzip members whole-file (one task per .gz — shard uploads
accordingly); schema is REQUIRED here (schema inference is a second full
read of the corpus). Document identity is content-addressed —
``xxhash64(file, text, occurrence)`` — so ids are deterministic across
runs and resumable ingests re-derive identical ids with no global
counter or zipWithIndex barrier. The occurrence index disambiguates
byte-identical lines within one file; identical lines are
interchangeable, so the window's arbitrary order among them cannot
change the output multiset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StringType, StructField, StructType

JSONL_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("id", StringType()),
        StructField("source", StringType()),
        StructField("lang", StringType()),
        StructField("url", StringType()),
    ]
)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    id_field: str | None = None,
) -> DataFrame:
    """jsonl[.gz] at ``path`` (file, directory, or glob) → canonical
    documents frame (doc_id bigint, text, source, n_chars).

    The text is ``JSONL_SCHEMA``'s ``text`` field. ``id_field`` names
    another field of ``JSONL_SCHEMA`` that carries the dump's own id
    (hashed to 64 bits if non-numeric); any other name raises
    ``ValueError`` before a file is read. Without it doc_id is the
    content address ``xxhash64(input_file, text,
    occurrence-within-(file,text))`` — deterministic across runs, no
    global counter. Null/absent text rows are dropped (they carry
    nothing any downstream operator can use); ``source`` falls back to
    the input file name."""
    if id_field and id_field not in JSONL_SCHEMA.fieldNames():
        raise ValueError(
            f"id field {id_field!r} is not in the jsonl schema; "
            f"fields: {JSONL_SCHEMA.fieldNames()}"
        )
    raw = (
        spark.read.schema(JSONL_SCHEMA)
        .json(path)
        .withColumn("__file", F.input_file_name())
    )
    raw = raw.filter(F.col("text").isNotNull())
    src = F.coalesce(F.col("source"), F.col("__file"))
    if id_field:
        # every JSONL_SCHEMA field is a string
        ident = F.col(id_field)
        doc_id = F.coalesce(ident.cast("long"), F.xxhash64(ident))
    else:
        occ = (
            F.row_number().over(
                Window.partitionBy("__file", "text").orderBy(F.lit(1))
            )
            - 1
        )
        doc_id = F.xxhash64(F.col("__file"), F.col("text"), occ)
    return raw.select(
        doc_id.alias("doc_id"),
        F.col("text"),
        src.alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
