"""Batch MERGE (upsert) for plain-parquet tables — the `MERGE INTO`
a lakehouse format provides, built from the engine's own pieces for
environments that run on bare parquet directories.

Semantics: key-matched rows are REPLACED by the newest version
(update), unmatched update rows are INSERTED, unmatched target rows
are retained — i.e. classic upsert.  "Newest" is decided by
``order_col`` descending, then source (update beats target on equal
``order_col`` — the at-least-once redelivery case), then a
deterministic ``xxhash64`` over every non-key column so even two
DISTINCT rows sharing a (key, order_col) inside one updates batch
pick the same winner on every run / retry / speculative re-execution.
Same argmax contract as the CDC compaction query
(latest_event_per_user) and the streaming merge sink
(run_streaming_upsert_latest, streaming/incremental.py) — this is
their batch twin.  (Well-behaved producers emit at most one version
per (key, order_col) per batch; the hash tie-break makes the
degenerate case deterministic rather than meaningful.)

Scale shape: ONE shuffle on the merge keys over target ∪ updates
(row_number + keep rank 1); at real table sizes you partition the
target (e.g. by key range or date), prune the union to partitions the
updates touch, and merge per partition — the helper takes any path,
so partition-wise application is the same call.  The rewrite goes
through ``maintenance.swap_in``: readers never observe a half-merged
table and a crash leaves the original.  The returned row counts ride
on that write as ``Observation``s — no count job reads the inputs or
the written table a second time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .maintenance import read_table, swap_in


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> dict:
    """Upsert ``updates`` into the parquet table at ``target_path``.

    Update rows win over target rows with the same key when their
    ``order_col`` is greater-or-equal (ties prefer the update — the
    at-least-once redelivery case).  Returns
    ``{"n_before", "n_updates", "n_after"}``, observed on the frame the
    swap writes: target and update rows as they enter the merge, and
    the merged rows as they are written.
    """
    target = read_table(spark, target_path)
    if target is not None:
        missing = set(target.columns) ^ set(updates.columns)
        if missing:
            raise ValueError(
                f"updates schema must match target; differing columns {sorted(missing)}"
            )
        # _src=1 for updates so equal (order_col, key) prefers the update.
        unioned = target.withColumn("_src", F.lit(0)).unionByName(
            updates.withColumn("_src", F.lit(1))
        )
    else:
        unioned = updates.withColumn("_src", F.lit(1))
    obs_in, obs_out = Observation(), Observation()
    unioned = unioned.observe(
        obs_in,
        F.count(F.when(F.col("_src") == 0, 1)).alias("n_before"),
        F.count(F.when(F.col("_src") == 1, 1)).alias("n_updates"),
    )

    value_cols = [c for c in unioned.columns if c not in (*keys, "_src")]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(),
        F.col("_src").desc(),
        F.xxhash64(*[F.col(c) for c in value_cols]).desc(),
    )
    merged = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
        .observe(obs_out, F.count(F.lit(1)).alias("n_after"))
    )

    swap_in(merged, target_path)
    return {**obs_in.get, **obs_out.get}
