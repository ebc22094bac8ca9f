"""Gaps-and-islands run collapsing — the SCD2 (slowly-changing
dimension, type 2) history builder.

A per-key ordered sequence of (order, value) observations collapses
into contiguous runs of equal value: ``row_number over (key)`` minus
``row_number over (key, value)`` is constant exactly within a run
(the classic double-row_number island id).  Every window partitions
by key (or key+value) — never a single global partition — so the
operator scales with the widest key's history, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def collapse_runs(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Collapse per-key runs of equal ``value_col`` along
    ``order_col`` into one row per run.

    ``df`` must have at most one row per (key, order) — pre-reduce
    multi-observation grains (e.g. pick the dominant daily status)
    before calling.

    Returns (key_col, value_col, valid_from, valid_to, n_steps)
    where valid_from/valid_to are the run's first/last ``order_col``
    values and n_steps its row count.
    """
    w_all = Window.partitionBy(key_col).orderBy(order_col)
    w_val = Window.partitionBy(key_col, value_col).orderBy(order_col)
    runs = df.withColumn(
        "_island", F.row_number().over(w_all) - F.row_number().over(w_val)
    )
    return (
        runs.groupBy(key_col, value_col, "_island")
        .agg(
            F.min(order_col).alias("valid_from"),
            F.max(order_col).alias("valid_to"),
            F.count(F.lit(1)).alias("n_steps"),
        )
        .drop("_island")
    )


def scd2_apply(
    spark,
    target_path: str,
    changes: DataFrame,
    key: str,
    value_cols: list[str],
    ts_col: str = "ts",
    applied_marker: str | None = None,
) -> dict:
    """Incrementally apply a batch of observations to an SCD2
    dimension table on plain parquet — the type-2 twin of
    ``operators.merge.merge_upsert`` (which overwrites; this one
    VERSIONS).

    Table layout: ``(key, *value_cols, valid_from, valid_to)`` with
    the half-open convention — a row covers ``[valid_from, valid_to)``
    and ``valid_to IS NULL`` marks the current version.  Each change
    row ``(key, *value_cols, ts)`` asserts "as of ts, the entity
    looked like this":

    - a change equal to the key's current version is a NO-OP (no new
      version row — re-observations don't fragment history),
    - a differing change closes the current version at ``ts`` and
      opens a new one,
    - several changes for one key in one batch chain in ts order,
    - unknown keys insert their first version.

    Preconditions (both raise, never silently corrupt history):
    duplicate ``(key, ts)`` rows in one batch are ambiguous; a change
    at-or-before the current version's ``valid_from`` would rewrite
    CLOSED history (late data belongs in a rebuild from the event
    log — scd2_user_status_history — not an incremental apply).  One
    aggregate job checks both, before anything is written.

    Returns ``{"n_versions", "n_open"}``, observed on the frame the
    swap writes rather than counted from a read-back.

    Scale shape: closed versions pass through UNTOUCHED (at 100 TB,
    partition the table by ``valid_to IS NULL`` — then this job reads
    and rewrites only the open slice plus the batch).  The apply is
    one shuffle of open∪changes on the key; windows partition per
    key.  The rewrite goes through ``maintenance.swap_in``, so readers
    never observe a half-applied table.  Applying batches b1 then b2
    equals applying b1∪b2 at once — differential-tested in
    tests/test_scd2_apply.py.

    ``applied_marker``: a dot-prefixed filename dropped INSIDE the
    table directory before the rename, making "this batch was
    applied" visible atomically with the data swap — the handshake a
    caller that re-applies batches (a retried day, a redelivered
    micro-batch) checks, so a crash can never land between apply and
    marker (a marker written as a separate step afterwards would wedge
    recovery: the re-applied batch would trip the late-data guard
    with no marker saying it already applied).
    Spark listings skip dot-files, so the marker is invisible to
    readers.
    """
    from .maintenance import read_table, swap_in

    out_cols = [key, *value_cols, "valid_from", "valid_to"]

    target = read_table(spark, target_path)
    # Both preconditions in one job, before any write: per (key, ts)
    # the batch's row count (> 1 is a duplicate), left-joined to the
    # key's open version so new keys still count (at or before its
    # valid_from is late).
    per_instant = changes.groupBy(key, ts_col).agg(F.count(F.lit(1)).alias("_n"))
    if target is not None:
        open_rows = target.filter(F.col("valid_to").isNull())
        closed = target.filter(F.col("valid_to").isNotNull())
        per_instant = per_instant.join(
            open_rows.select(key, F.col("valid_from").alias("_vf")), key, "left"
        )
        at_or_before = F.col(ts_col) <= F.col("_vf")
        seed = open_rows.select(
            key, *value_cols, F.col("valid_from").alias(ts_col)
        )
    else:
        at_or_before = F.lit(False)
        closed = None
        seed = changes.limit(0).select(key, *value_cols, ts_col)

    dup, late = per_instant.agg(
        F.count(F.when(F.col("_n") > 1, 1)),
        F.coalesce(F.sum(F.when(at_or_before, F.col("_n"))), F.lit(0)),
    ).first()
    if dup:
        raise ValueError(
            f"{dup} duplicate ({key}, {ts_col}) rows in the changes batch; "
            "one observation per key-instant — pre-reduce the batch"
        )
    if late:
        raise ValueError(
            f"{late} change rows at or before their key's current "
            "valid_from — incremental SCD2 cannot rewrite closed "
            "history; rebuild from the event log instead"
        )

    stream = seed.unionByName(changes.select(key, *value_cols, ts_col))
    w = Window.partitionBy(key).orderBy(ts_col)
    val = F.struct(*[F.col(c) for c in value_cols])
    # keep only rows that CHANGE the value (the first row per key and
    # every row differing from its predecessor) — no-op observations
    # and repeated values collapse away.  eqNullSafe so a NULL inside
    # value_cols compares as a value, not as unknown (a plain !=
    # would silently drop rows whose comparison is NULL).
    changed = (
        stream.withColumn("_prev", F.lag(val).over(w))
        .filter(~val.eqNullSafe(F.col("_prev")))
        .drop("_prev")
    )
    segments = (
        changed.withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumnRenamed(ts_col, "valid_from")
        .select(*out_cols)
    )
    result = segments if closed is None else closed.select(*out_cols).unionByName(segments)

    obs = Observation()
    result = result.observe(
        obs,
        F.count(F.lit(1)).alias("n_versions"),
        F.count(F.when(F.col("valid_to").isNull(), 1)).alias("n_open"),
    )
    swap_in(result, target_path, marker=applied_marker)
    return obs.get
