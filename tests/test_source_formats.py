"""Source-format coverage beyond parquet: JSON lines and CSV reads
with explicit schemas round-trip the same rows (schema declared up
front — never inferred — per the engine's no-inference rule)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiesec_guc_spark.catalog import load_table


def _sample(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
        .orderBy("event_id")
        .limit(200)
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = _sample(spark, sf_dir)
    path = str(tmp_path / "events_json")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(src.schema).json(path)
    assert _rows(back) == _rows(src)


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = _sample(spark, sf_dir)
    path = str(tmp_path / "events_csv")
    src.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(src.schema).option("header", "true").csv(path)
    assert _rows(back) == _rows(src)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    # ORC is the third columnar format Spark ships natively (after
    # parquet); at 100 TB it matters because ingest often arrives as
    # ORC from Hive-era warehouses.  Same explicit-schema contract.
    src = _sample(spark, sf_dir)
    path = str(tmp_path / "events_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.schema(src.schema).orc(path)
    assert _rows(back) == _rows(src)


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    # The format must not cost the optimizer anything: an equality
    # filter over the ORC scan has to reach the reader as a pushed
    # filter, same as parquet.
    from aiesec_guc_spark.plans.explain import formatted_plan

    src = _sample(spark, sf_dir)
    path = str(tmp_path / "events_orc_pf")
    src.write.mode("overwrite").orc(path)
    back = spark.read.schema(src.schema).orc(path).filter(F.col("user_id") == 7)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in (
        formatted_plan(back)
    )
