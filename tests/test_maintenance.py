"""Small-file compaction: rewrites must preserve every row exactly,
hit the planned file count, never leave a half-written table, and
no-op when the table is already compact."""

from __future__ import annotations

import os

import pytest

from aiesec_guc_spark.catalog import load_table
from aiesec_guc_spark.operators.maintenance import (
    compact_table,
    file_stats,
    plan_target_files,
)


def _fragmented(spark, sf_dir, path, n=24):
    df = load_table(spark, sf_dir, "nation")
    df.repartition(n).write.mode("overwrite").parquet(path)
    return df


def test_plan_target_files():
    assert plan_target_files(0, 100) == 1
    assert plan_target_files(1, 100) == 1
    assert plan_target_files(100, 100) == 1
    assert plan_target_files(101, 100) == 2
    with pytest.raises(ValueError):
        plan_target_files(10, 0)


def test_compaction_preserves_rows_and_reduces_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    df = _fragmented(spark, sf_dir, path)
    expected = sorted(map(tuple, df.collect()))

    before = file_stats(path)
    assert before["n_files"] >= 24

    out = compact_table(spark, path, target_bytes=before["total_bytes"] + 1)
    assert out["n_target"] == 1
    assert out["after"]["n_files"] == 1

    back = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert back == expected
    # no leftover temp/old siblings from the swap
    siblings = [p for p in os.listdir(tmp_path) if p.startswith("tbl")]
    assert siblings == ["tbl"]


def test_compaction_noop_when_already_compact(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    df = load_table(spark, sf_dir, "nation")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stats = file_stats(path)
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    out = compact_table(spark, path, target_bytes=stats["total_bytes"] + 1)
    assert out["after"] == out["before"]
    # untouched files — the no-op really didn't rewrite
    assert {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    } == mtimes


def test_compaction_respects_target_size(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented(spark, sf_dir, path, n=16)
    before = file_stats(path)
    # aim for ~4 files
    target = max(1, before["total_bytes"] // 4)
    out = compact_table(spark, path, target_bytes=target)
    assert out["after"]["n_files"] == out["n_target"]
    assert out["after"]["n_files"] < before["n_files"]


def test_vacuum_removes_only_orphan_siblings(spark, sf_dir, tmp_path):
    from aiesec_guc_spark.operators.maintenance import vacuum_siblings

    path = str(tmp_path / "tbl")
    _fragmented(spark, sf_dir, path, n=4)
    # simulate a crash mid-swap: stale temp + old dirs beside the
    # table, covering EVERY swap tag the operators use (the zorder
    # tags were once missing from the marker list — a crashed layout
    # rewrite's table-sized orphan accumulated forever)
    for orphan in (
        "tbl__compact_dead1",
        "tbl__merge_dead2",
        "tbl__old_dead3",
        ".tbl__zorder_tmp_dead4",
        ".tbl__zorder_old_dead5",
    ):
        os.makedirs(tmp_path / orphan)
    # an unrelated sibling must survive
    os.makedirs(tmp_path / "tbl_backup")

    matched = vacuum_siblings(path, dry_run=True)
    assert len(matched) == 5
    assert all(os.path.exists(m) for m in matched)

    removed = vacuum_siblings(path)
    assert len(removed) == 5
    left = sorted(os.listdir(tmp_path))
    assert left == ["tbl", "tbl_backup"]
    # table untouched
    assert spark.read.parquet(path).count() > 0


def test_partition_dir_compaction_invisible_to_parent_readers(
    spark, sf_dir, tmp_path
):
    """Compacting base/run_date=X must never surface a bogus sibling
    partition to readers of base: swap temps are dot-prefixed, which
    Spark's file listing skips (ADVICE r6 #1)."""
    base = str(tmp_path / "base")
    df = load_table(spark, sf_dir, "nation")
    for d in ("2024-01-01", "2024-01-02"):
        df.repartition(8).write.mode("overwrite").parquet(
            os.path.join(base, f"run_date={d}")
        )
    part = os.path.join(base, "run_date=2024-01-02")
    expected = spark.read.parquet(base).count()

    out = compact_table(spark, part, target_bytes=1 << 30)
    assert out["after"]["n_files"] == 1
    # parent table: same rows, and run_date still has exactly 2 values
    back = spark.read.parquet(base)
    assert back.count() == expected
    assert back.select("run_date").distinct().count() == 2
    # any sibling the swap could have left behind is hidden (dot-prefixed)
    for f in os.listdir(base):
        assert f.startswith("run_date=") or f.startswith((".", "_")), f

    # simulate a crash mid-swap: the orphan temp is invisible to Spark…
    from aiesec_guc_spark.operators.maintenance import (
        swap_sibling,
        vacuum_siblings,
    )

    orphan = swap_sibling(part, "compact")
    df.limit(5).write.parquet(orphan)
    assert spark.read.parquet(base).count() == expected  # reader unaffected
    # …and vacuum cleans it up
    removed = vacuum_siblings(part)
    assert orphan in removed
    assert not os.path.exists(orphan)


def test_compact_csv_requires_and_respects_schema(spark, sf_dir, tmp_path):
    """CSV compaction must not re-ingest the header row as data or
    widen types (ADVICE r6 #2): schema is required and the roundtrip
    goes through read_table/write_table."""
    import pytest as _pytest

    from aiesec_guc_spark.sources.formats import read_table, write_table

    path = str(tmp_path / "csvtbl")
    df = load_table(spark, sf_dir, "nation")
    write_table(df.repartition(8), path, "csv")

    with _pytest.raises(ValueError, match="requires an explicit schema"):
        compact_table(spark, path, target_bytes=1 << 30, fmt="csv")

    out = compact_table(
        spark, path, target_bytes=1 << 30, fmt="csv", schema=df.schema
    )
    assert out["after"]["n_files"] < out["before"]["n_files"]
    back = read_table(spark, path, df.schema, "csv")
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compact_partitions_per_partition_swap(spark, sf_dir, tmp_path):
    from aiesec_guc_spark.operators.maintenance import compact_partitions

    base = str(tmp_path / "tbl")
    df = load_table(spark, sf_dir, "nation")
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        df.repartition(6).write.mode("overwrite").parquet(
            os.path.join(base, f"run_date={d}")
        )
    before = spark.read.parquet(base).count()
    out = compact_partitions(spark, base, "run_date", target_bytes=1 << 30)
    assert sorted(out) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert all(r["after"]["n_files"] == 1 for r in out.values())
    back = spark.read.parquet(base)
    assert back.count() == before
    assert back.select("run_date").distinct().count() == 3


def test_expire_partitions_keeps_newest(spark, sf_dir, tmp_path):
    from aiesec_guc_spark.operators.maintenance import expire_partitions

    base = str(tmp_path / "tbl")
    df = load_table(spark, sf_dir, "nation")
    days = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    for d in days:
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"run_date={d}")
        )
    matched = expire_partitions(base, "run_date", keep_last=2, dry_run=True)
    assert matched == ["2024-01-01", "2024-01-02"]
    assert spark.read.parquet(base).select("run_date").distinct().count() == 4

    removed = expire_partitions(base, "run_date", keep_last=2)
    assert removed == ["2024-01-01", "2024-01-02"]
    left = spark.read.parquet(base)
    assert sorted(
        str(r["run_date"]) for r in left.select("run_date").distinct().collect()
    ) == ["2024-01-03", "2024-01-04"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        expire_partitions(base, "run_date", keep_last=0)


def test_recover_interrupted_swap_restores_renamed_away_table(spark, sf_dir, tmp_path):
    """The swap's worst crash window: target renamed to its __old_
    sibling, new dir never renamed in.  Every swap-writing operator
    must heal this at entry — otherwise the exists probe takes the
    creation path and silently reinitializes the table."""
    import shutil

    from aiesec_guc_spark.operators.maintenance import (
        recover_interrupted_swap,
        vacuum_siblings,
    )
    from aiesec_guc_spark.operators.merge import merge_upsert

    path = str(tmp_path / "tbl")
    df = load_table(spark, sf_dir, "nation")
    df.write.parquet(path)
    n_rows = df.count()

    # simulate the crash: target renamed away, tmp abandoned
    os.rename(path, str(tmp_path / ".tbl__old_dead1"))
    os.makedirs(tmp_path / ".tbl__merge_dead2")

    # vacuum must REFUSE while the only copy is the __old_ sibling
    import pytest

    with pytest.raises(RuntimeError, match="only copy"):
        vacuum_siblings(path)

    restored = recover_interrupted_swap(path)
    assert restored and restored.endswith(".tbl__old_dead1")
    assert spark.read.parquet(path).count() == n_rows
    # second call is a no-op
    assert recover_interrupted_swap(path) is None
    # now vacuum may clean the abandoned tmp
    assert len(vacuum_siblings(path)) == 1

    # the healing is wired into the operators: merge into a
    # crash-windowed table must see all pre-merge rows
    from pyspark.sql import functions as F

    os.rename(path, str(tmp_path / ".tbl__old_dead3"))
    upd = df.limit(2).withColumn("n_name", F.lit("PATCHED"))
    stats = merge_upsert(
        spark, path, upd, keys=["n_nationkey"], order_col="n_nationkey"
    )
    assert stats["n_before"] == n_rows  # NOT 0 — history survived


def test_bare_relative_table_name_recovers_and_vacuums(tmp_path, monkeypatch):
    """A table named without any directory part ("latest") has an empty
    parent; recovery and vacuum must list the cwd, not ``""``."""
    from aiesec_guc_spark.operators.maintenance import (
        recover_interrupted_swap,
        vacuum_siblings,
    )

    monkeypatch.chdir(tmp_path)
    os.makedirs(".latest__old_dead1")
    os.makedirs(".latest__swap_dead2")
    with pytest.raises(RuntimeError, match="only copy"):
        vacuum_siblings("latest")
    assert recover_interrupted_swap("latest") == ".latest__old_dead1"
    assert os.path.isdir("latest")
    assert recover_interrupted_swap("latest") is None
    assert vacuum_siblings("latest") == [".latest__swap_dead2"]
    assert sorted(os.listdir(tmp_path)) == ["latest"]


def _kv(spark, keys, v, ts):
    return spark.createDataFrame(
        [(k, f"{v}{k}", ts) for k in keys], "k long, v string, ts long"
    )


def test_swap_rejects_uri_paths_before_writing(spark, tmp_path, monkeypatch):
    """Table swaps are local-only: a ``file://`` target must fail with
    ValueError before anything is created — no junk ``file:`` directory
    in the cwd and no orphaned swap sibling beside the target.  The
    snapshot day is one more swap caller."""
    from aiesec_guc_spark.operators.merge import merge_upsert
    from aiesec_guc_spark.operators.scd import scd2_apply
    from aiesec_guc_spark.operators.snapshot import write_snapshot

    monkeypatch.chdir(tmp_path)
    uri = f"file://{tmp_path}/t"
    batch = _kv(spark, range(3), "v", 1)
    with pytest.raises(ValueError, match="local-only"):
        merge_upsert(spark, uri, batch, keys=["k"], order_col="ts")
    with pytest.raises(ValueError, match="local-only"):
        scd2_apply(spark, uri, batch, "k", ["v"], "ts")
    with pytest.raises(ValueError, match="local-only"):
        write_snapshot(batch, uri, "2026-08-13")
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("op", ["merge", "scd2", "compact", "zorder"])
def test_swap_crash_between_renames_heals_on_next_call(
    spark, tmp_path, monkeypatch, op
):
    """Every swap caller: when the second rename of the swap fails, the
    live table is only its ``__old_`` sibling.  The next call must heal
    it and keep every pre-swap row, and SCD2's applied marker must not
    be in the copy that recovery restores."""
    from aiesec_guc_spark.operators.maintenance import (
        vacuum_siblings,
        zorder_rewrite,
    )
    from aiesec_guc_spark.operators.merge import merge_upsert
    from aiesec_guc_spark.operators.scd import scd2_apply

    path = str(tmp_path / "tbl")
    base = _kv(spark, range(8), "v", 1)
    batch = _kv(spark, [100, 101], "new", 2)
    marker = ".applied_b1"
    if op == "scd2":
        scd2_apply(spark, path, base, "k", ["v"], "ts")
    else:
        base.repartition(4).write.parquet(path)
    pre = sorted(map(tuple, spark.read.parquet(path).collect()))

    def call():
        if op == "merge":
            merge_upsert(spark, path, batch, keys=["k"], order_col="ts")
        elif op == "scd2":
            scd2_apply(spark, path, batch, "k", ["v"], "ts", applied_marker=marker)
        elif op == "compact":
            compact_table(spark, path, target_bytes=1 << 30)
        else:
            zorder_rewrite(base, path, "k", "ts", n_files=2)

    real_rename = os.rename
    renames = []

    def crash_on_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("simulated crash between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError, match="simulated crash"):
        call()
    monkeypatch.setattr(os, "rename", real_rename)

    assert not os.path.exists(path)
    olds = [f for f in os.listdir(tmp_path) if f.startswith(".tbl__old_")]
    assert len(olds) == 1
    assert marker not in os.listdir(tmp_path / olds[0])

    call()
    after = set(map(tuple, spark.read.parquet(path).collect()))
    assert set(pre) <= after
    if op in ("compact", "zorder"):
        assert sorted(after) == pre
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".tbl__old_")]
    # only the crashed call's abandoned temp is left to vacuum
    assert len(vacuum_siblings(path)) == 1
