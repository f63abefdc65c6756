"""Raw-file ingest tests: schema-explicit CSV with corrupt-record
quarantine, and small-file compaction (layout-only rewrite)."""

from __future__ import annotations

import glob

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from alpaca_pyspark_spark.sources.files import (
    CORRUPT_COL,
    compact_to_target_files,
    read_csv,
    split_corrupt,
)

from .conftest import SF_DIR

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def test_csv_roundtrip_with_quarantine(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text(
        "doc_id,text,lang\n"
        "1,alpha,en\n"
        "oops,not_a_long,de,extra,fields\n"
        "2,beta,fr\n"
    )
    df = read_csv(spark, str(p), DOC_SCHEMA)
    clean, quarantine = split_corrupt(df)
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in clean.collect()}
    assert got == {1: ("alpha", "en"), 2: ("beta", "fr")}
    assert quarantine.count() == 1


def test_corrupt_column_survives_schema_without_it(spark, tmp_path):
    """Caller passes a plain schema; the reader injects the capture
    column rather than silently dropping bad rows."""
    p = tmp_path / "x.csv"
    p.write_text("doc_id,text,lang\n7,t,en\nnot_a_long,t,en\n")
    df = read_csv(spark, str(p), DOC_SCHEMA)
    assert CORRUPT_COL in df.columns
    assert df.count() == 2  # nothing dropped


def test_compaction_is_layout_only(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shattered = str(tmp_path / "shattered")
    # simulate incremental ingest: 64 tiny files
    src.repartition(64).write.parquet(shattered)
    assert len(glob.glob(f"{shattered}/part-*.parquet")) == 64

    df = spark.read.parquet(shattered)
    dest = str(tmp_path / "compacted")
    n = compact_to_target_files(df, dest, target_file_bytes=1 << 30)
    files = glob.glob(f"{dest}/part-*.parquet")
    assert len(files) == n == 1  # sf0.01 documents << 1 GiB target

    # content-identical (layout is the ONLY thing that changed)
    a = src.select("doc_id", "text").orderBy("doc_id").collect()
    b = (
        spark.read.parquet(dest)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_compaction_respects_target_size(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dest = str(tmp_path / "sized")
    n = compact_to_target_files(
        df, dest, target_file_bytes=64 * 1024, estimated_input_bytes=256 * 1024
    )
    assert n == 4
    assert len(glob.glob(f"{dest}/part-*.parquet")) == 4
