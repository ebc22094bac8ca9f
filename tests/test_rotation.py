"""Snapshot rotation as a partitioned table (S5/S9): append-only
run_date partitions replace the reference's file copy; the delta over
the latest pair equals the golden fixture delta."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from aiesec_guc_spark.operators.snapshot import (
    read_snapshot_pair,
    snapshot_delta,
    write_snapshot,
)
from aiesec_guc_spark.sources.fixtures import EXPECTED_DELTA_ROWS, snapshot_pair


def test_partitioned_rotation_roundtrip(spark):
    today, yesterday = snapshot_pair(spark)
    with tempfile.TemporaryDirectory(prefix="snaps_") as base:
        write_snapshot(yesterday, base, "2026-08-12")
        write_snapshot(today, base, "2026-08-13")
        t2, y2 = read_snapshot_pair(spark, base)
        assert t2.count() == today.count()
        assert y2.count() == yesterday.count()
        delta = snapshot_delta(t2, y2, keys=["opportunity_id"])
        got = sorted(tuple(r) for r in delta.select(*today.columns).collect())
        assert got == sorted(EXPECTED_DELTA_ROWS)


def test_rerun_same_run_date_is_idempotent(spark):
    """A cron retry of the same run_date replaces that partition
    instead of appending a duplicate copy of every row (and leaves
    other partitions untouched)."""
    today, yesterday = snapshot_pair(spark)
    with tempfile.TemporaryDirectory(prefix="snaps_") as base:
        write_snapshot(yesterday, base, "2026-08-12")
        write_snapshot(today, base, "2026-08-13")
        write_snapshot(today, base, "2026-08-13")  # retry
        t2, y2 = read_snapshot_pair(spark, base)
        assert t2.count() == today.count()
        assert y2.count() == yesterday.count()


def test_rerun_to_empty_replaces_the_stale_day(spark):
    """A retry whose re-scrape finds NOTHING must make the day empty —
    dynamic partition overwrite alone would leave the first write's
    rows in place (zero incoming rows touch zero partitions), silently
    resurrecting a listing the site no longer shows."""
    today, yesterday = snapshot_pair(spark)
    with tempfile.TemporaryDirectory(prefix="snaps_") as base:
        write_snapshot(yesterday, base, "2026-08-12")
        write_snapshot(today, base, "2026-08-13")
        write_snapshot(today.limit(0), base, "2026-08-13")  # empty retry
        t2, y2 = read_snapshot_pair(spark, base)
        assert t2.count() == 0
        assert y2.count() == yesterday.count()


def test_rotation_reads_prune_partitions(spark):
    today, yesterday = snapshot_pair(spark)
    with tempfile.TemporaryDirectory(prefix="snaps_") as base:
        for d in ["2026-08-10", "2026-08-11", "2026-08-12"]:
            write_snapshot(yesterday, base, d)
        write_snapshot(today, base, "2026-08-13")
        t2, y2 = read_snapshot_pair(spark, base)
        # each side reads only its own day's directory
        for df, d in ((t2, "2026-08-13"), (y2, "2026-08-12")):
            files = df.inputFiles()
            assert files
            assert all(f"/run_date={d}/" in f for f in files), files
            assert "run_date" not in df.columns
        assert t2.count() == today.count()


def test_day_retry_crash_between_renames_heals(spark, tmp_path, monkeypatch):
    """A same-day retry whose swap crashes between its two renames
    leaves the day only as its hidden ``__old_`` sibling: no reader or
    partition listing sees a half-written day, and the next write of
    that day restores the old copy before replacing it and removes
    every sibling the crash left."""
    from aiesec_guc_spark.operators.maintenance import list_partitions

    today, yesterday = snapshot_pair(spark)
    base = str(tmp_path / "snaps")
    day = f"{base}/run_date=2026-08-13"
    write_snapshot(yesterday, base, "2026-08-12")
    write_snapshot(today, base, "2026-08-13")
    first = sorted(map(tuple, spark.read.parquet(day).collect()))
    prior_files = sorted(os.listdir(f"{base}/run_date=2026-08-12"))

    real_rename = os.rename
    renames = []

    def crash_on_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("simulated crash between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError, match="simulated crash"):
        write_snapshot(today.limit(0), base, "2026-08-13")
    monkeypatch.setattr(os, "rename", real_rename)

    assert not os.path.exists(day)
    olds = [f for f in os.listdir(base) if f.startswith(".run_date=2026-08-13__old_")]
    assert len(olds) == 1
    kept = spark.read.parquet(os.path.join(base, olds[0])).collect()
    assert sorted(map(tuple, kept)) == first
    assert list_partitions(base, "run_date") == ["2026-08-12"]
    # a reader of the base sees only yesterday: the hidden old copy
    # and the swap's temp are no extra partitions
    in_window = spark.read.parquet(base).drop("run_date")
    assert sorted(map(tuple, in_window.collect())) == sorted(map(tuple, yesterday.collect()))

    write_snapshot(today.limit(0), base, "2026-08-13")
    # the healing write leaves nothing of the crashed swap behind
    assert sorted(os.listdir(base)) == ["run_date=2026-08-12", "run_date=2026-08-13"]
    t2, y2 = read_snapshot_pair(spark, base)
    assert t2.count() == 0
    assert y2.count() == yesterday.count()
    assert list_partitions(base, "run_date") == ["2026-08-12", "2026-08-13"]
    assert sorted(os.listdir(f"{base}/run_date=2026-08-12")) == prior_files


def test_write_refuses_a_day_directory_holding_a_non_table_file(spark, tmp_path):
    """A ``run_date=`` directory with no parquet data but a visible
    file is not a table skeleton: the day write refuses it with the
    same ValueError as the other swap callers, before writing, and
    the file survives."""
    today, _ = snapshot_pair(spark)
    base = tmp_path / "snaps"
    day = base / "run_date=2026-08-13"
    day.mkdir(parents=True)
    (day / "notes.txt").write_text("keep me")
    with pytest.raises(ValueError, match="refusing to clear"):
        write_snapshot(today, str(base), "2026-08-13")
    assert (day / "notes.txt").read_text() == "keep me"
    assert os.listdir(base) == ["run_date=2026-08-13"]
    assert os.listdir(day) == ["notes.txt"]


def test_empty_yesterday_then_real_today_delta(spark):
    """The quiet-day rotation composition the round-10 write_snapshot
    fix enables: day 1 produces ZERO rows (legal), day 2 is real — the
    pair read must see both partitions (the empty day's directory
    carries the schema) and the delta over (real today, empty
    yesterday) is ALL of today's rows."""
    today, _ = snapshot_pair(spark)
    with tempfile.TemporaryDirectory(prefix="snaps_") as base:
        write_snapshot(today.limit(0), base, "2026-08-12")
        write_snapshot(today, base, "2026-08-13")
        t2, y2 = read_snapshot_pair(spark, base)
        assert y2.count() == 0
        assert t2.count() == today.count()
        delta = snapshot_delta(t2, y2, keys=["opportunity_id"])
        # every today row is "new" (the fixture's duplicate-ID row
        # stays duplicated — the anti-join filters by key, never dedups)
        assert delta.count() == today.count()


def test_read_day_runs_no_schema_inference_job(spark, tmp_path):
    """A snapshot day is read with its declared schema: planning the
    read runs no Spark job (an inferred read runs one footer-reading
    job per call), and the rows and columns are those written."""
    from aiesec_guc_spark.operators.snapshot import read_day
    from aiesec_guc_spark.schemas import OPPORTUNITY_SCHEMA

    today, _ = snapshot_pair(spark)
    base = str(tmp_path / "snaps")
    write_snapshot(today, base, "2026-08-13")
    sc = spark.sparkContext
    group = "read_day_no_inference"
    sc.setJobGroup(group, group)
    try:
        day = read_day(spark, base, "2026-08-13")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert day.schema == OPPORTUNITY_SCHEMA
    assert sorted(map(tuple, day.collect())) == sorted(map(tuple, today.collect()))


def test_write_snapshot_refuses_a_frame_not_in_opportunity_schema(spark, tmp_path):
    """The readers read ``OPPORTUNITY_SCHEMA``, so the writer refuses a
    day in any other schema (a renamed, missing or retyped column)
    before it heals or writes anything: such a day would read back as
    all-null columns and make every row of the next day "new"."""
    today, _ = snapshot_pair(spark)
    base = tmp_path / "snaps"
    stranded = base / ".run_date=2026-08-12__old_0"
    stranded.mkdir(parents=True)
    for bad in (
        today.withColumnRenamed("title", "name"),
        today.drop("organization"),
        today.withColumn("applicants", F.lit(3)),
    ):
        with pytest.raises(ValueError, match="OPPORTUNITY_SCHEMA"):
            write_snapshot(bad, str(base), "2026-08-13")
    # nothing written, and the stranded day was not healed either
    assert os.listdir(base) == [stranded.name]
