"""Snapshot-pair operators — the reference's core semantics.

The reference keeps exactly two snapshots (Today.xlsx / Yesterday.xlsx,
rotated by file copy — aiesec.py:20-21) and computes an insert-only
delta: rows of today whose key is absent from yesterday
(``~today.ID.isin(yesterday.ID)`` — aiesec.py:143).  Updated rows and
deleted rows are silently dropped (verified in the committed data:
ID 1338078 changed applicants 39→49 and does not appear in New.xlsx).

Spark-first re-expression:

- The snapshot pair is two DataFrames; at scale, a single table
  partitioned by ``run_date`` where "yesterday" is the lag-1 partition
  (partition pruning makes reading exactly two days cheap at 100 TB).
- The delta is a **left-anti join** on the key.  Catalyst picks
  ``BroadcastHashJoin(LeftAnti)`` when the yesterday key set is small
  (it is: keys only), which is exactly the hash-set probe the
  reference's ``isin`` performs — and degrades gracefully to a
  shuffled sort-merge anti join when both sides are huge.
- Duplicate keys on the left are preserved, matching the reference
  (it never dedups — SURVEY.md §1.2).
- ``changed_rows`` is the operator the reference *lacks* (E8): same
  key present in both snapshots with different attribute values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_delta(
    today: DataFrame, yesterday: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Insert-only delta: today's rows whose key is absent yesterday.

    Exact reference semantics (aiesec.py:137-145): left-anti on the
    key, left duplicates preserved, all today columns carried through.
    The right side is pruned to the key columns before the join so the
    broadcast/shuffle payload is minimal.

    No forced broadcast hint: AQE broadcasts the pruned key set when
    its runtime size is under the threshold (the common case — keys
    only) and falls back to a shuffled sort-merge anti join when the
    key set is genuinely huge, instead of OOMing on a hint.
    """
    right = yesterday.select(*keys).dropDuplicates(list(keys))
    return today.join(right, on=list(keys), how="left_anti")


def changed_rows(
    today: DataFrame,
    yesterday: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """Keys present in BOTH snapshots whose compared attributes differ.

    The correctness fix for the reference's lossy delta (SURVEY.md
    §7.3): an inner join on the key + any-attribute-differs predicate.
    Null-safe equality (``<=>``) so NULL→value transitions surface.
    Output: keys, then (old_<c>, new_<c>) for each compared column.
    """
    t = today.select(*keys, *[F.col(c).alias(f"new_{c}") for c in compare])
    y = yesterday.select(*keys, *[F.col(c).alias(f"old_{c}") for c in compare])
    joined = t.join(y, on=list(keys), how="inner")
    differs: Column = F.lit(False)
    for c in compare:
        differs = differs | ~F.col(f"new_{c}").eqNullSafe(F.col(f"old_{c}"))
    cols = list(keys) + [x for c in compare for x in (f"old_{c}", f"new_{c}")]
    return joined.filter(differs).select(*cols)


def day_snapshots(events: DataFrame, ts_col: str = "ts") -> tuple[DataFrame, DataFrame]:
    """Carve a (today, yesterday) snapshot pair out of an event table.

    "Today" = rows on the max calendar day, "yesterday" = the day
    before — the testdata re-expression of the reference's
    Today.xlsx/Yesterday.xlsx rotation (S5).  The max-day scalar is a
    1-row aggregate joined back via broadcast, keeping the whole plan
    declarative (no driver-side collect).
    """
    day = F.to_date(F.col(ts_col))
    maxd = events.agg(F.max(day).alias("_max_day"))
    with_day = events.withColumn("_day", day)
    today = (
        with_day.join(F.broadcast(maxd), F.col("_day") == F.col("_max_day"))
        .drop("_max_day", "_day")
    )
    yesterday = (
        with_day.join(
            F.broadcast(maxd), F.col("_day") == F.date_sub(F.col("_max_day"), 1)
        )
        .drop("_max_day", "_day")
    )
    return today, yesterday


def write_snapshot(df: DataFrame, base_path: str, run_date: str) -> None:
    """Write one day's snapshot as a ``run_date`` partition,
    idempotently.

    Replaces the reference's file rotation (Today→Yesterday copy,
    aiesec.py:20-21): prior partitions are never touched — history is
    retained (the reference's git-commit versioning, main.yml:37-52,
    falls out for free) and readers prune to the partitions they
    need.  Dynamic partition overwrite makes a rerun of the SAME
    run_date (cron retry, crash recovery) replace that day instead of
    appending a duplicate copy of every row into it.

    The zero-row detection below lists the partition directory through
    ``maintenance.fs_listdir`` with the session attached, so the
    listing resolves through the SAME Hadoop FileSystem the write
    did — ``file://`` URIs, ``hdfs://``/``s3a://`` schemes, and
    relative paths are all inspected exactly where Spark put the
    files.  Only a scheme whose FileSystem cannot be loaded at all is
    "blind", and that case takes a df-based fallback instead of ever
    assuming "zero rows written".
    """
    from .maintenance import fs_listdir

    spark = df.sparkSession
    part_dir = f"{base_path.rstrip('/')}/run_date={run_date}"
    listing_before = fs_listdir(part_dir, spark=spark)
    (
        df.withColumn("run_date", F.lit(run_date))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_date")
        .parquet(base_path)
    )
    # partitionBy over ZERO rows writes no partition directory at all
    # (just _SUCCESS) — the base then fails every later read with
    # UNABLE_TO_INFER_SCHEMA, wedging the quiet-day publish.  A
    # filesystem check after the write is cheaper than a df.isEmpty()
    # pre-check, which would evaluate the upstream plan a second time
    # (for an aggregate-topped frame, limit(1) still runs the full
    # shuffle).  Zero rows were written iff the day's directory is
    # missing (fresh quiet day) OR its listing is unchanged (a RERUN
    # that found nothing: dynamic overwrite only touches partitions
    # present in the data, and a real rewrite always lands new
    # uniquely-named part files).  Either way the day must become the
    # zero-row, schema-bearing partition: the run_date column is
    # inferred from the directory name exactly as for the partitionBy
    # path, and a rerun-to-empty replaces the stale rows instead of
    # silently keeping them.
    listing_after = fs_listdir(part_dir, spark=spark)
    if listing_after is None and fs_listdir(base_path, spark=spark) is None:
        # The listing backend cannot see base_path AT ALL — with the
        # session-backed Hadoop listing that means the path's scheme
        # has no loadable FileSystem (the write itself would normally
        # have failed too, but a custom committer could differ)
        # — so "no partition directory" means BLIND, not empty, and
        # falling through would overwrite a freshly written non-empty
        # partition with an empty frame: silent data loss.  A read-back
        # of the partition can't arbitrate either (it can't tell rows
        # the write just landed from stale rows of a prior run).  On
        # blind paths only, decide from the source frame itself:
        # df.isEmpty() re-evaluates the plan (limit 1 — for an
        # aggregate-topped frame that is the full shuffle), the price
        # of correctness where no listing diff exists.
        if not df.isEmpty():
            return
        listing_after = listing_before  # empty day: rewrite below
    if listing_after is None or listing_after == listing_before:
        # a literal empty frame, not df.limit(0): the day is already
        # known empty, so re-executing df's plan would be a pure waste
        df.sparkSession.createDataFrame([], df.schema).write.mode(
            "overwrite"
        ).parquet(part_dir)


def read_snapshot_pair(spark, base_path: str) -> tuple[DataFrame, DataFrame]:
    """(today, yesterday) = the two most recent ``run_date``
    partitions.  Both reads are partition-pruned — at 100 TB this
    touches two days of files, never the table."""
    from pyspark.errors import AnalysisException

    try:
        snaps = spark.read.parquet(base_path)
    except AnalysisException as exc:
        # missing base, or a partition-less base a pre-fix
        # write_snapshot left behind (_SUCCESS only) — surface the
        # same typed not-enough-days error the day-count check raises
        detail = exc.getErrorClass() or str(exc)
        raise ValueError(
            f"need at least two run_date partitions at {base_path}, "
            f"found none readable ({detail})"
        ) from exc
    # Day discovery is DIRECTORY-based, not row-based: a quiet day's
    # partition holds a schema-bearing zero-row file, which a
    # distinct-over-rows would silently skip — making the pair read
    # diff today against the wrong (older) day.  Listing partition
    # directories is also the O(#days) catalog operation, vs a scan
    # of every partition's footers for the distinct.
    from .maintenance import list_partitions

    days = list_partitions(base_path, "run_date", spark=spark)[-2:][::-1]
    if len(days) < 2:
        raise ValueError(f"need at least two run_date partitions at {base_path}, found {days}")
    today = snaps.filter(F.col("run_date") == days[0]).drop("run_date")
    yesterday = snaps.filter(F.col("run_date") == days[1]).drop("run_date")
    return today, yesterday
