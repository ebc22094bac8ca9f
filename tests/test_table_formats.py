"""Cross-format fidelity: a table written as JSON-lines or CSV and
read back with the declared schema must reproduce the parquet rows
EXACTLY — timestamps to the microsecond, doubles bit-for-bit (Spark
emits shortest-round-trip decimal forms in text formats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aiesec_guc_spark.catalog import load_table
from aiesec_guc_spark.sources.formats import (
    FORMATS,
    read_table,
    write_table,
)


def _sample(spark, sf_dir):
    # events exercises every interesting type: long ids, strings,
    # timestamps (nano-origin), doubles.
    return load_table(spark, sf_dir, "events").limit(200)


def _canon(df):
    return {
        tuple(r)
        for r in df.select(
            "event_id", F.unix_micros("ts").alias("us"), "user_id", "event_type", "value"
        ).collect()
    }


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_format_roundtrip_is_exact(spark, sf_dir, fmt, tmp_path):
    df = _sample(spark, sf_dir)
    path = str(tmp_path / f"events_{fmt}")
    write_table(df, path, fmt)
    back = read_table(spark, path, df.schema, fmt)
    assert back.schema == df.schema
    assert _canon(back) == _canon(df)


def test_unknown_format_rejected(spark, sf_dir, tmp_path):
    df = _sample(spark, sf_dir)
    with pytest.raises(ValueError, match="unknown format"):
        write_table(df, str(tmp_path / "x"), "xml")
    with pytest.raises(ValueError, match="unknown format"):
        read_table(spark, str(tmp_path / "x"), df.schema, "orc2")


def test_schema_evolution_merge_read(spark, tmp_path):
    # Schema evolution across snapshot files: a later batch adds a
    # column.  A plain read may resolve only one footer's schema; the
    # mergeSchema read must surface the union, with nulls for files
    # written before the column existed — the contract for widening a
    # 100 TB partitioned table in place.
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}
