"""The one table swap (``operators/maintenance.swap_in``) and its
healing at entry: a crashed swap's table is restored and every sibling
it left is removed by the next call, whichever swap caller makes it;
URI targets fail before anything is written."""

from __future__ import annotations

import os

import pytest

from aiesec_guc_spark.catalog import load_table


def test_recover_interrupted_swap_restores_renamed_away_table(spark, sf_dir, tmp_path):
    """The swap's worst crash window: target renamed to its __old_
    sibling, new dir never renamed in.  Every swap-writing operator
    must heal this at entry — otherwise the exists probe takes the
    creation path and silently reinitializes the table."""
    from aiesec_guc_spark.operators.maintenance import recover_interrupted_swap
    from aiesec_guc_spark.operators.merge import merge_upsert

    path = str(tmp_path / "tbl")
    df = load_table(spark, sf_dir, "nation")
    df.write.parquet(path)
    n_rows = df.count()

    # simulate the crash: target renamed away, tmp abandoned
    os.rename(path, str(tmp_path / ".tbl__old_dead1"))
    os.makedirs(tmp_path / ".tbl__swap_dead2")

    restored = recover_interrupted_swap(path)
    assert restored and restored.endswith(".tbl__old_dead1")
    assert spark.read.parquet(path).count() == n_rows
    # the abandoned temp went with the healing
    assert os.listdir(tmp_path) == ["tbl"]
    # second call is a no-op
    assert recover_interrupted_swap(path) is None

    # a crash after the second rename: the table is live, and both
    # the old copy and another crashed swap's temp sit beside it
    os.makedirs(tmp_path / ".tbl__old_dead4")
    os.makedirs(tmp_path / ".tbl__swap_dead5")
    # an unrelated sibling must survive
    os.makedirs(tmp_path / "tbl_backup")
    assert recover_interrupted_swap(path) is None
    assert sorted(os.listdir(tmp_path)) == ["tbl", "tbl_backup"]
    assert spark.read.parquet(path).count() == n_rows

    # two old copies of a missing table: never auto-pick one
    os.rename(path, str(tmp_path / ".tbl__old_dead6"))
    os.makedirs(tmp_path / ".tbl__old_dead7")
    with pytest.raises(RuntimeError, match="multiple __old_ siblings"):
        recover_interrupted_swap(path)
    os.rmdir(tmp_path / ".tbl__old_dead7")

    # the healing is wired into the operators: merge into a
    # crash-windowed table must see all pre-merge rows
    from pyspark.sql import functions as F

    upd = df.limit(2).withColumn("n_name", F.lit("PATCHED"))
    stats = merge_upsert(
        spark, path, upd, keys=["n_nationkey"], order_col="n_nationkey"
    )
    assert stats["n_before"] == n_rows  # NOT 0 — history survived


def test_bare_relative_table_name_recovers(tmp_path, monkeypatch):
    """A table named without any directory part ("latest") has an empty
    parent; recovery must list the cwd, not ``""``."""
    from aiesec_guc_spark.operators.maintenance import recover_interrupted_swap

    monkeypatch.chdir(tmp_path)
    os.makedirs(".latest__old_dead1")
    os.makedirs(".latest__swap_dead2")
    assert recover_interrupted_swap("latest") == ".latest__old_dead1"
    assert os.path.isdir("latest")
    assert os.listdir(tmp_path) == ["latest"]
    assert recover_interrupted_swap("latest") is None


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


@pytest.mark.parametrize("op", ["merge", "scd2"])
def test_swap_crash_between_renames_heals_on_next_call(
    spark, tmp_path, monkeypatch, op
):
    """Every swap caller: when the second rename of the swap fails, the
    live table is only its ``__old_`` sibling.  The next call must heal
    it and keep every pre-swap row, and SCD2's applied marker must not
    be in the copy that recovery restores."""
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
        else:
            scd2_apply(spark, path, batch, "k", ["v"], "ts", applied_marker=marker)

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
    # the crashed call's old copy and abandoned temp are both gone
    assert os.listdir(tmp_path) == ["tbl"]
