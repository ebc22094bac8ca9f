"""Schema evolution across parquet files: a mergeSchema read surfaces
the union of every file's columns."""

from __future__ import annotations


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
