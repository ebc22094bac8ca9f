"""Pins for the shared Catalyst-stats accessor and the size-gated dot
kernel (r16).

The regression this guards: ``stats().sizeInBytes()`` crosses py4j as
a plain int on this runtime, so the old per-site ``.toString()`` call
raised and every size-adaptive decision silently fell back.  These
tests exercise the accessor against a LIVE scan so a py4j surface
change can never disable the dot-kernel gate silently again.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_plan_size_bytes_live_scan(spark, sf_dir):
    from aiesec_guc_spark.catalog import load_table
    from aiesec_guc_spark.plans.stats import plan_size_bytes

    e = load_table(spark, sf_dir, "embeddings")
    size = plan_size_bytes(e)
    assert size is not None and size > 0


def test_plan_size_bytes_none_for_statless_plan(spark):
    # A local-relation-free plan whose stats are the defaultSizeInBytes
    # sentinel must read as "unknown", not "enormous".
    from aiesec_guc_spark.operators.dedup import materialize
    from aiesec_guc_spark.plans.stats import plan_size_bytes

    df = materialize(spark.range(3).select(F.col("id")))
    # LogicalRDD carries a real (tiny) estimate on some runtimes and
    # the garbage sentinel on others — either way the accessor must
    # return a usable int or None, never raise.
    out = plan_size_bytes(df)
    assert out is None or out > 0


def test_estimated_scan_rows_overestimates(spark, sf_dir):
    from aiesec_guc_spark.catalog import load_table
    from aiesec_guc_spark.operators.similarity import estimated_scan_rows

    e = load_table(spark, sf_dir, "embeddings")
    rows = estimated_scan_rows(e)
    true_rows = e.count()
    # over-estimate by design (min_row_bytes is a lower bound on row
    # width) — biases the kernel gate toward the scale-safe unrolled
    # side — but within a sane factor of the truth
    assert rows is not None
    assert rows >= true_rows * 0.5
    assert rows <= true_rows * 100


def test_adaptive_dot_gates_on_evals(spark, sf_dir):
    """Below the crossover → HOF (aggregate expression); at/above or
    unknown → unrolled (element_at chain).  Same doubles either way."""
    from aiesec_guc_spark.catalog import load_table
    from aiesec_guc_spark.operators.similarity import (
        adaptive_dot,
        hof_dot,
        unrolled_dot,
    )

    e = load_table(spark, sf_dir, "embeddings").limit(5)
    emb = F.col("embedding")
    small = adaptive_dot(emb, emb, 10)
    big = adaptive_dot(emb, emb, 10_000_000)
    unknown = adaptive_dot(emb, emb, None)
    assert "aggregate(" in str(small._jc)
    assert "element_at" in str(big._jc)
    assert "element_at" in str(unknown._jc)
    # bit-identical outputs
    rows = e.select(
        hof_dot(emb, emb).alias("h"), unrolled_dot(emb, emb).alias("u")
    ).collect()
    assert rows and all(r["h"] == r["u"] for r in rows)


def test_assign_nearest_gate_and_equivalence(spark, sf_dir):
    """_assign_nearest picks HOF below the crossover and unrolled for
    unknown/huge estimates (the 100 TB side), with identical rows."""
    from aiesec_guc_spark.catalog import load_table
    from aiesec_guc_spark.queries.similarity import _assign_nearest, IVF_K

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cents = (
        e.orderBy("vec_id")
        .limit(IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cvec"))
    )
    small = _assign_nearest(e, cents, est_rows=10)
    big = _assign_nearest(e, cents, est_rows=None)  # assume-big → unrolled
    assert "aggregate(" in small._jdf.queryExecution().analyzed().toString()
    assert "element_at" in big._jdf.queryExecution().analyzed().toString()
    a = sorted((r.vec_id, r.cid) for r in small.collect())
    b = sorted((r.vec_id, r.cid) for r in big.collect())
    assert a == b and a


def test_maxsim_presliced_hof_equals_unrolled(spark, sf_dir, monkeypatch):
    """similarity_maxsim's two sub-dot forms (r16b pre-sliced HOF below
    the crossover, unrolled at/above it) must return identical rows —
    slice-then-zip_with folds the same index order as
    zip_with-over-slices, so even the doubles are bit-equal.

    The scan estimator is pinned so the gate decision depends only on
    the threshold: with no scan statistics it would return None and
    force the unrolled form on both runs."""
    import aiesec_guc_spark.queries.similarity as sim
    from aiesec_guc_spark.queries import spark_queries

    monkeypatch.setattr(sim, "estimated_scan_rows", lambda df: 1000)
    q = spark_queries()["similarity_maxsim"]
    monkeypatch.setattr(
        "aiesec_guc_spark.operators.similarity.UNROLLED_DOT_MIN_EVALS", 1
    )
    unrolled = q(spark, sf_dir)
    assert "element_at" in unrolled._jdf.queryExecution().analyzed().toString()
    monkeypatch.setattr(
        "aiesec_guc_spark.operators.similarity.UNROLLED_DOT_MIN_EVALS", 10**15
    )
    hof = q(spark, sf_dir)
    ana = hof._jdf.queryExecution().analyzed().toString()
    # the pre-sliced sub-vectors sit in the join inputs, not the score
    assert "zip_with" in ana and "slice(" in ana
    a = sorted(map(tuple, unrolled.collect()))
    b = sorted(map(tuple, hof.collect()))
    assert a == b and a
