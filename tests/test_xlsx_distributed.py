"""Distributed Excel snapshot: write one REAL xlsx part file per
partition from executors (no driver collect; every part written by
xlsxlite, the one workbook codec), read the directory back
worker-side, and verify a lossless roundtrip including "N/A"
sentinels."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aiesec_guc_spark.sinks.report import read_snapshot_dir, write_snapshot_partitioned

N_ROWS = 500
N_PARTS = 4


def _fixture(spark):
    return (
        spark.range(N_ROWS)
        .select(
            F.col("id").cast("string").alias("opportunity_id"),
            F.concat(F.lit("Title "), F.col("id")).alias("title"),
            F.when(F.col("id") % 7 == 0, "N/A")
            .otherwise(F.concat(F.lit("Org "), F.col("id") % 5))
            .alias("organization"),
            F.when(F.col("id") % 3 == 0, "Yes").otherwise("No").alias("premium"),
        )
        .repartition(N_PARTS)
    )


def test_write_creates_one_file_per_nonempty_partition(spark, tmp_path):
    out = str(tmp_path / "snap")
    manifest = write_snapshot_partitioned(_fixture(spark), out).collect()
    files = sorted(f for f in os.listdir(out) if f.endswith((".xlsx", ".csv")))
    assert 1 <= len(files) <= N_PARTS
    assert len(manifest) == len(files)
    assert sum(r.n_rows for r in manifest) == N_ROWS


def test_rerun_replaces_stale_parts(spark, tmp_path):
    # REPLACE-on-rerun contract: a wider first run's extra part files
    # must not survive a narrower rerun, or read_snapshot_dir silently
    # unions yesterday's rows with today's.
    out = str(tmp_path / "snap")
    write_snapshot_partitioned(_fixture(spark), out).collect()
    wide = set(os.listdir(out))
    rerun = _fixture(spark).limit(3).repartition(1)
    manifest = write_snapshot_partitioned(rerun, out).collect()
    files = sorted(f for f in os.listdir(out) if f.endswith((".xlsx", ".csv")))
    assert len(files) == len(manifest) == 1
    assert sum(r.n_rows for r in manifest) == 3
    assert len(wide) > 1  # the first run really did leave multiple parts
    total = read_snapshot_dir(spark, out).count()
    assert total == 3


def test_write_is_eager_no_collect_needed(spark, tmp_path):
    # ADVICE r14: the sink used to delete stale parts at CALL time but
    # write only when the caller ran an action on the returned
    # manifest — a never-materialized manifest left the directory
    # emptied.  The sink is now eager: the call itself performs the
    # write, and the returned manifest is a small local DataFrame.
    out = str(tmp_path / "snap")
    write_snapshot_partitioned(_fixture(spark), out)  # no .collect()
    files = [f for f in os.listdir(out) if f.endswith((".xlsx", ".csv"))]
    assert files, "eager sink must have written part files already"
    assert read_snapshot_dir(spark, out).count() == N_ROWS


def test_failed_rerun_preserves_previous_snapshot(spark, tmp_path):
    # Atomicity from the caller's view: stale-part cleanup happens
    # only AFTER a successful write, so a rerun whose job fails leaves
    # the previous snapshot readable instead of an emptied directory.
    import pytest

    out = str(tmp_path / "snap")
    write_snapshot_partitioned(_fixture(spark), out)
    before = sorted(f for f in os.listdir(out) if f.endswith((".xlsx", ".csv")))
    bad = spark.range(10).select(
        F.raise_error(F.lit("boom")).alias("opportunity_id")
    )
    with pytest.raises(Exception, match="boom"):
        write_snapshot_partitioned(bad, out)
    after = sorted(f for f in os.listdir(out) if f.endswith((".xlsx", ".csv")))
    assert after == before
    assert read_snapshot_dir(spark, out).count() == N_ROWS


def test_partially_failed_rerun_leaves_no_mixed_generation(spark, tmp_path):
    # The sharper failure mode (code-review r15): with in-place
    # overwrites, a rerun whose job fails AFTER some tasks completed
    # left today's parts 0..k silently unioned with yesterday's
    # k+1..n.  Tasks now write attempt-unique .tmp files and the
    # driver promotes only after the whole job succeeds, so a partial
    # failure must leave the previous snapshot byte-identical and a
    # later successful rerun must sweep the orphaned .tmp files.
    import pytest

    out = str(tmp_path / "snap")
    write_snapshot_partitioned(_fixture(spark), out)
    before = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith((".xlsx", ".csv"))
    }
    # partition 0 is clean and small; partition 1 raises mid-scan
    mixed = (
        spark.range(4)
        .repartition(2, "id")
        .select(
            F.when(F.col("id") == 2, F.raise_error(F.lit("partial boom")))
            .otherwise(F.col("id").cast("string"))
            .alias("opportunity_id")
        )
    )
    with pytest.raises(Exception, match="partial boom"):
        write_snapshot_partitioned(mixed, out)
    after = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith((".xlsx", ".csv"))
    }
    assert after == before  # same files, untouched mtimes
    assert read_snapshot_dir(spark, out).count() == N_ROWS
    # a successful rerun promotes cleanly and sweeps any orphan .tmp
    write_snapshot_partitioned(_fixture(spark), out)
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    assert read_snapshot_dir(spark, out).count() == N_ROWS


def test_roundtrip_is_lossless(spark, tmp_path):
    out = str(tmp_path / "snap")
    df = _fixture(spark)
    write_snapshot_partitioned(df, out).collect()
    back = read_snapshot_dir(spark, out)
    assert back.columns == df.columns
    assert back.count() == N_ROWS
    # Value-level equality, order-insensitive; the "N/A" sentinel must
    # survive as a literal string (reference loses it to NaN coercion).
    orig = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == orig
    assert any(r[2] == "N/A" for r in got)


def test_read_missing_dir_raises(spark, tmp_path):
    import pytest

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        read_snapshot_dir(spark, str(empty))
