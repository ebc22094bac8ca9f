"""Snapshot-pair operators — the reference's core semantics.

The reference keeps exactly two snapshots (Today.xlsx / Yesterday.xlsx,
rotated by file copy — aiesec.py:20-21) and computes an insert-only
delta: rows of today whose key is absent from yesterday
(``~today.ID.isin(yesterday.ID)`` — aiesec.py:143).  Updated rows and
deleted rows are silently dropped (verified in the committed data:
ID 1338078 changed applicants 39→49 and does not appear in New.xlsx).

Spark-first re-expression:

- The snapshot pair is two DataFrames; at scale, a single table
  partitioned by ``run_date`` where "yesterday" is the lag-1 partition.
  Each day is written as its ``run_date=<date>`` directory through
  ``maintenance.swap_in``, the one local-only table swap every history
  table uses, so a day is replaced whole and atomically, and each day
  is read straight from its own directory (``read_day``), so a read
  touches one day's files, never the table.
- The writer heals, readers never delete: ``write_snapshot``, the
  table's one writer, heals every day a crashed swap left behind
  before it writes, and the readers (``read_day``,
  ``read_snapshot_pair``) only read.
- ``snapshot_delta`` is a **left-anti join** on the key.  Catalyst
  picks ``BroadcastHashJoin(LeftAnti)`` when the yesterday key set is
  small (it is: keys only), which is exactly the hash-set probe the
  reference's ``isin`` performs — and degrades gracefully to a
  shuffled sort-merge anti join when both sides are huge.  It serves
  the registered delta queries and analysts; the cron job
  (``run.run_pipeline``) holds its day on the driver and takes the
  same delta there, with ``isin`` over yesterday's collected keys.
- Duplicate keys on the left are preserved, matching the reference
  (it never dedups — SURVEY.md §1.2).
- ``changed_rows`` is the operator the reference *lacks* (E8): same
  key present in both snapshots with different attribute values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import OPPORTUNITY_SCHEMA


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
    """Write one day's snapshot as the ``run_date=<date>`` partition
    directory of ``base_path``, through ``maintenance.swap_in``.

    Replaces the reference's file rotation (Today→Yesterday copy,
    aiesec.py:20-21): prior partitions are never touched — history is
    retained (the reference's git-commit versioning, main.yml:37-52,
    falls out for free) and readers read only the days they need.  A
    rerun of the SAME run_date (cron retry, crash recovery) swaps that
    day's directory whole, so it never appends a second copy of the
    rows and a retry that finds nothing empties the day.  An empty
    frame writes one schema-bearing zero-row file, so a quiet day is
    still a readable partition.

    A crash between a swap's two renames leaves that day only as its
    hidden ``__old_`` copy, invisible to the partition listing.  So
    before it writes, this heals every day of ``base_path`` from one
    listing (``maintenance.heal_partitions``): a retried day that
    crashed is back before the next day looks for its yesterday.  A
    day directory holding a non-table file is refused with
    ``ValueError`` and left as it is.  Local paths only: a URI
    ``base_path`` raises ``ValueError`` before any write.

    The readers (``read_day``, ``read_snapshot_pair``) read
    ``OPPORTUNITY_SCHEMA``, so a frame whose column names or types are
    not ``OPPORTUNITY_SCHEMA``'s raises ``ValueError`` before anything
    is healed or written: a day in another schema would read back as
    all-null columns, and tomorrow's delta would call every row new.
    """
    from .maintenance import _local, heal_partitions, swap_in

    base_path = _local(base_path)
    got = [(f.name, f.dataType) for f in df.schema]
    if got != [(f.name, f.dataType) for f in OPPORTUNITY_SCHEMA]:
        raise ValueError(
            f"write_snapshot: the frame must have OPPORTUNITY_SCHEMA's columns, "
            f"got {df.schema.simpleString()}"
        )
    heal_partitions(base_path, "run_date")
    swap_in(df, f"{base_path}/run_date={run_date}")


def read_day(spark, base_path: str, run_date: str) -> DataFrame:
    """One day of the snapshot table, read from its own
    ``run_date=<date>`` directory: no other day is listed, and the
    frame has no ``run_date`` column.  A reader: it never heals.

    The read declares ``OPPORTUNITY_SCHEMA``, the only schema
    ``write_snapshot`` accepts, so it runs no footer-reading inference
    job."""
    return spark.read.schema(OPPORTUNITY_SCHEMA).parquet(
        f"{base_path.rstrip('/')}/run_date={run_date}"
    )


def read_snapshot_pair(spark, base_path: str) -> tuple[DataFrame, DataFrame]:
    """(today, yesterday) = the two most recent ``run_date``
    partitions, each read from its own directory.

    Day discovery is DIRECTORY-based, not row-based: a quiet day's
    partition holds a schema-bearing zero-row file, which a
    distinct-over-rows would silently skip — making the pair read diff
    today against the wrong (older) day.  Fewer than two days, a
    missing ``base_path`` included, raise ``ValueError``.  Both days
    are read as ``OPPORTUNITY_SCHEMA`` (see ``read_day``)."""
    from .maintenance import list_partitions

    try:
        days = list_partitions(base_path, "run_date")[-2:]
    except FileNotFoundError:
        days = []
    if len(days) < 2:
        raise ValueError(f"need at least two run_date partitions at {base_path}, found {days}")
    return read_day(spark, base_path, days[1]), read_day(spark, base_path, days[0])
