"""Batch MERGE (upsert) for parquet tables: inserts land, matched
keys take the newest version (ties prefer the update), unmatched
target rows survive, reruns are idempotent, and the swap leaves no
siblings behind."""

from __future__ import annotations

import os

import pytest

from aiesec_guc_spark.operators.merge import merge_upsert


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, ts long, v string")


def _snapshot(spark, path):
    return {
        (r.k): (r.ts, r.v) for r in spark.read.parquet(path).collect()
    }


def test_merge_insert_update_retain(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = _df(spark, [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")])
    out0 = merge_upsert(spark, path, base, keys=["k"], order_col="ts")
    assert out0 == {"n_before": 0, "n_updates": 3, "n_after": 3}

    updates = _df(
        spark,
        [
            (2, 20, "b2"),   # newer → replaces
            (3, 5, "c_old"), # older → target retained
            (4, 10, "d"),    # new key → inserted
        ],
    )
    out = merge_upsert(spark, path, updates, keys=["k"], order_col="ts")
    assert out == {"n_before": 3, "n_updates": 3, "n_after": 4}
    # the counts are observed on the write, and match the table
    assert out["n_after"] == spark.read.parquet(path).count()
    assert out["n_updates"] == updates.count()
    assert _snapshot(spark, path) == {
        1: (10, "a"),
        2: (20, "b2"),
        3: (10, "c"),
        4: (10, "d"),
    }
    # idempotent rerun (at-least-once redelivery): same final state
    out2 = merge_upsert(spark, path, updates, keys=["k"], order_col="ts")
    assert out2["n_after"] == 4
    assert _snapshot(spark, path)[2] == (20, "b2")
    # no leftover swap siblings
    assert [p for p in os.listdir(tmp_path) if p.startswith("tbl")] == ["tbl"]


def test_merge_tie_prefers_update(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert(spark, path, _df(spark, [(1, 10, "old")]), ["k"], "ts")
    merge_upsert(spark, path, _df(spark, [(1, 10, "new")]), ["k"], "ts")
    assert _snapshot(spark, path) == {1: (10, "new")}


def test_merge_rejects_schema_drift(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert(spark, path, _df(spark, [(1, 10, "a")]), ["k"], "ts")
    bad = spark.createDataFrame([(1, 20)], "k int, ts long")
    with pytest.raises(ValueError, match="differing columns"):
        merge_upsert(spark, path, bad, ["k"], "ts")


def test_merge_recognizes_partitioned_target(spark, tmp_path):
    # A partitioned table keeps its .parquet files only in col=value/
    # subdirectories; the exists probe must be recursive or the
    # creation path rmtrees a real table and replaces it with
    # updates-only data.
    path = str(tmp_path / "ptbl")
    base = _df(spark, [(1, 10, "a"), (2, 10, "b")])
    base.write.partitionBy("k").parquet(path)
    out = merge_upsert(
        spark, path, _df(spark, [(3, 11, "c")]), keys=["k"], order_col="ts"
    )
    assert out["n_before"] == 2 and out["n_after"] == 3
    assert _snapshot(spark, path)[1] == (10, "a")


def test_merge_refuses_to_clear_foreign_directory(spark, tmp_path):
    # A data-free directory holding a visible non-marker file is NOT
    # an abandoned table skeleton — creation must refuse, not rmtree.
    path = tmp_path / "not_a_table"
    path.mkdir()
    (path / "notes.txt").write_text("keep me")
    with pytest.raises(ValueError, match="refusing to clear"):
        merge_upsert(
            spark, str(path), _df(spark, [(1, 10, "a")]), keys=["k"], order_col="ts"
        )
    assert (path / "notes.txt").read_text() == "keep me"
