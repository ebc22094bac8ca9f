"""Degenerate-input sweep for the SIDE-EFFECT entry points: the 225
registered queries already survive empty / one-row / null-injected
corpora (tests/test_empty_corpus.py); this file gives the table
writers — MERGE, SCD2 apply and snapshot rotation — the same
systematic treatment.  These states are routine (a quiet day's empty
updates frame, a fresh table before first ingest), and an operator
that throws on them wedges the whole scheduled run.

The bar everywhere: no raise, and where the operation is a logical
no-op, the target's prior state must be untouched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aiesec_guc_spark.operators.merge import merge_upsert
from aiesec_guc_spark.operators.scd import scd2_apply
from aiesec_guc_spark.operators.snapshot import write_snapshot

SCHEMA = "user_id long, status string, ts long"


def _frame(spark, shape: str):
    """The three degenerate updates/changes frames."""
    rows = {
        "empty": [],
        "one_row": [(7, "new", 500)],
        # non-key columns NULL — a half-written upstream record
        "nulls": [(8, None, 600), (9, None, None)],
    }[shape]
    return spark.createDataFrame(rows, SCHEMA)


def _seed(spark, target: str):
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100), (3, "c", 100)], SCHEMA
    )
    merge_upsert(spark, target, base, keys=["user_id"], order_col="ts")
    return base


SHAPES = ["empty", "one_row", "nulls"]


@pytest.mark.parametrize("shape", SHAPES)
def test_merge_upsert_degenerate_updates(spark, tmp_path, shape):
    target = str(tmp_path / "t")
    _seed(spark, target)
    before = sorted(spark.read.parquet(target).collect())
    res = merge_upsert(spark, target, _frame(spark, shape), ["user_id"], "ts")
    after = spark.read.parquet(target)
    if shape == "empty":
        assert res["n_after"] == res["n_before"] == 3
        assert sorted(after.collect()) == before
    else:
        # new keys insert — including all-NULL value/order columns
        assert res["n_after"] == 3 + res["n_updates"]


@pytest.mark.parametrize("shape", SHAPES)
def test_merge_upsert_degenerate_creation(spark, tmp_path, shape):
    # the CREATION path (no existing table) under the same frames
    target = str(tmp_path / "t")
    res = merge_upsert(spark, target, _frame(spark, shape), ["user_id"], "ts")
    assert res["n_before"] == 0
    assert spark.read.parquet(target).count() == res["n_after"]


@pytest.mark.parametrize("shape", SHAPES)
def test_scd2_apply_degenerate_batch(spark, tmp_path, shape):
    target = str(tmp_path / "dim")
    scd2_apply(
        spark,
        target,
        spark.createDataFrame([(1, "a", 100), (2, "b", 100)], SCHEMA),
        "user_id",
        ["status"],
        "ts",
    )
    before = sorted(spark.read.parquet(target).collect())
    scd2_apply(spark, target, _frame(spark, shape), "user_id", ["status"], "ts")
    after = spark.read.parquet(target)
    if shape == "empty":
        assert sorted(after.collect()) == before
    else:
        # unknown keys insert their first version — open (valid_to NULL)
        n_new = _frame(spark, shape).count()
        assert after.filter(F.col("valid_to").isNull()).count() == 2 + n_new


@pytest.mark.parametrize("shape", SHAPES)
def test_scd2_apply_degenerate_creation(spark, tmp_path, shape):
    target = str(tmp_path / "dim")
    scd2_apply(spark, target, _frame(spark, shape), "user_id", ["status"], "ts")
    if shape != "empty":
        assert spark.read.parquet(target).count() == _frame(spark, shape).count()


def test_snapshot_rotation_single_empty_day(spark, tmp_path):
    # one EMPTY day is legal to write; the pair read correctly reports
    # the missing-yesterday state as its typed error, not a crash
    from aiesec_guc_spark.operators.snapshot import read_snapshot_pair
    from aiesec_guc_spark.schemas import OPPORTUNITY_SCHEMA

    base = str(tmp_path / "snap")
    write_snapshot(spark.createDataFrame([], OPPORTUNITY_SCHEMA), base, "2026-03-01")
    with pytest.raises(ValueError, match="two run_date partitions"):
        read_snapshot_pair(spark, base)
