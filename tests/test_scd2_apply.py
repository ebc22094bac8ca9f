"""Incremental SCD2 apply (operators/scd.scd2_apply): randomized
differential against a pure-Python reference, batch-split invariance
(apply(b1); apply(b2) == apply(b1 ∪ b2)), no-op collapse, precondition
enforcement, and swap hygiene."""

from __future__ import annotations

import os
import random

import pytest

from aiesec_guc_spark.operators.scd import scd2_apply


def _rows(spark, path):
    return sorted(
        (
            (r["k"], r["status"], r["tier"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(path).collect()
        )
    )


def _mk_changes(spark, rows):
    return spark.createDataFrame(
        rows, "k long, status string, tier long, ts long"
    )


def _reference(history):
    """Pure-Python SCD2: per key, collapse consecutive equal values,
    half-open segments, last open."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, status, tier, ts in sorted(history, key=lambda r: (r[0], r[3])):
        by_key[k].append((status, tier, ts))
    out = []
    for k, obs in by_key.items():
        segs = []
        for status, tier, ts in obs:
            if segs and (segs[-1][0], segs[-1][1]) == (status, tier):
                continue
            segs.append([status, tier, ts])
        for i, (status, tier, ts) in enumerate(segs):
            vt = segs[i + 1][2] if i + 1 < len(segs) else None
            out.append((k, status, tier, ts, vt))
    return sorted(out)


def test_scd2_apply_differential_and_split_invariance(spark, tmp_path):
    rng = random.Random(99)
    history = []
    ts = 0
    for _ in range(300):
        ts += rng.randint(1, 5)
        history.append(
            (
                rng.randint(1, 12),                        # key
                rng.choice(["bronze", "silver", "gold"]),  # status
                rng.randint(0, 2),                         # tier
                ts,
            )
        )
    # unique (k, ts) per batch precondition: drop collisions
    seen = set()
    uniq = []
    for r in history:
        if (r[0], r[3]) not in seen:
            seen.add((r[0], r[3]))
            uniq.append(r)
    history = uniq

    # one-shot apply
    p1 = str(tmp_path / "oneshot")
    scd2_apply(spark, p1, _mk_changes(spark, history), "k", ["status", "tier"], "ts")
    assert _rows(spark, p1) == _reference(history)

    # split into 3 ts-ordered batches, applied incrementally
    history.sort(key=lambda r: r[3])
    cut1, cut2 = len(history) // 3, 2 * len(history) // 3
    p2 = str(tmp_path / "incr")
    for batch in (history[:cut1], history[cut1:cut2], history[cut2:]):
        scd2_apply(spark, p2, _mk_changes(spark, batch), "k", ["status", "tier"], "ts")
    assert _rows(spark, p2) == _rows(spark, p1)

    # no stray swap siblings
    assert sorted(os.listdir(tmp_path)) == ["incr", "oneshot"]


def _table_counts(spark, path):
    table = spark.read.parquet(path)
    return {
        "n_versions": table.count(),
        "n_open": table.filter("valid_to IS NULL").count(),
    }


def test_scd2_noop_observation_does_not_version(spark, tmp_path):
    p = str(tmp_path / "t")
    scd2_apply(spark, p, _mk_changes(spark, [(1, "a", 0, 10)]), "k", ["status", "tier"], "ts")
    out = scd2_apply(spark, p, _mk_changes(spark, [(1, "a", 0, 20)]), "k", ["status", "tier"], "ts")
    assert out == {"n_versions": 1, "n_open": 1}
    assert out == _table_counts(spark, p)  # counts observed on the write
    # a real change versions
    out = scd2_apply(spark, p, _mk_changes(spark, [(1, "b", 0, 30)]), "k", ["status", "tier"], "ts")
    assert out == {"n_versions": 2, "n_open": 1}
    assert out == _table_counts(spark, p)
    rows = _rows(spark, p)
    assert rows == [(1, "a", 0, 10, 30), (1, "b", 0, 30, None)]


def test_scd2_null_value_change_detected(spark, tmp_path):
    """NULL inside a value column must compare as a value: a→NULL and
    NULL→a are real changes; NULL→NULL is a no-op."""
    p = str(tmp_path / "t")
    scd2_apply(spark, p, _mk_changes(spark, [(1, "a", 0, 10)]), "k", ["status", "tier"], "ts")
    scd2_apply(spark, p, _mk_changes(spark, [(1, None, 0, 20)]), "k", ["status", "tier"], "ts")
    out = scd2_apply(spark, p, _mk_changes(spark, [(1, None, 0, 30)]), "k", ["status", "tier"], "ts")
    assert out == {"n_versions": 2, "n_open": 1}


def _files(root):
    """Every file under ``root`` (dot-files included) with its size and
    mtime — any rewrite or swap shows up as a difference."""
    out = []
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_scd2_preconditions_raise(spark, tmp_path):
    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="duplicate"):
        scd2_apply(
            spark, p,
            _mk_changes(spark, [(1, "a", 0, 10), (1, "b", 0, 10)]),
            "k", ["status", "tier"], "ts",
        )
    # a refused batch on a fresh path creates nothing, siblings included
    assert os.listdir(tmp_path) == []
    scd2_apply(spark, p, _mk_changes(spark, [(1, "a", 0, 10)]), "k", ["status", "tier"], "ts")
    files, rows, siblings = _files(p), _rows(spark, p), sorted(os.listdir(tmp_path))
    with pytest.raises(ValueError, match="closed history"):
        scd2_apply(spark, p, _mk_changes(spark, [(1, "b", 0, 10)]), "k", ["status", "tier"], "ts")
    with pytest.raises(ValueError, match="duplicate"):
        scd2_apply(
            spark, p,
            _mk_changes(spark, [(1, "b", 0, 20), (1, "c", 0, 20)]),
            "k", ["status", "tier"], "ts",
        )
    # a refused batch on an existing table leaves it exactly as it was
    assert _files(p) == files
    assert _rows(spark, p) == rows
    assert sorted(os.listdir(tmp_path)) == siblings == ["t"]
