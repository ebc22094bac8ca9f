"""Table loaders for the driver corpus.

Parquet is self-describing; we read with the footer schema (vectorized
scan + predicate pushdown + column pruning all come free from
Catalyst), and assert it equals the declared contract in tests.

The corpus stores timestamps as INT64 TIMESTAMP(NANOS), which Spark's
vectorized reader rejects; we read them as longs
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to proper
TimestampType via integer division to microseconds (integer ``div`` —
float division would lose precision above 2**53 nanoseconds).

At 100 TB each "table" would be a partitioned directory (e.g.
``events/run_date=.../*.parquet``); ``load_table`` takes any path, so
the same call works for a partitioned layout — Catalyst performs
static and dynamic partition pruning on the partition columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TABLE_NAMES

# Columns stored as TIMESTAMP(NANOS) in the corpus parquet files.
_NANO_TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_ts_column(df: DataFrame, c: str) -> DataFrame:
    """Convert a corpus TIMESTAMP(NANOS) column to TimestampType,
    branching on the dtype the runtime actually inferred.

    The inference is runtime-dependent: pyspark ≤4.0 honors
    ``nanosAsLong`` and surfaces INT64 nanos; pyspark 4.1.2 ignores
    the flag and infers ``TimestampNTZType``.  Both batch and
    streaming reads route through this one branch so a future Spark
    bump breaks in exactly one place (guarded by tests/test_runtime.py).
    """
    dt = df.schema[c].dataType
    if isinstance(dt, T.LongType):
        # TIMESTAMP(NANOS) read as int64 nanos → micros timestamp.
        return df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # TIMESTAMP_NTZ → session-TZ timestamp (session is pinned
        # UTC, so the instant is unchanged and unix_micros works).
        return df.withColumn(c, F.col(c).cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    raise TypeError(
        f"unsupported inferred dtype {dt} for nano-ts column {c!r}; "
        "extend normalize_ts_column for this runtime"
    )


def fan_out_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to full parallelism IFF the file
    layout under-splits it.

    Parquet splits at row-group boundaries, so a table written as few
    huge row groups (this corpus: ONE row group per table) scans — and,
    worse, runs every fused map-side operator (broadcast joins, partial
    aggregation) — on a handful of tasks regardless of
    ``maxPartitionBytes``.  When the planned scan parallelism is below
    half the session's shuffle parallelism, one narrow round-robin
    exchange immediately after the scan spreads the fused work across
    all cores (measured: star_revenue_by_nation 1.53 s → 1.22 s warm at
    sf0.1 on local[32]).

    At 100 TB this is a NO-OP by construction: a properly laid-out
    table has thousands of row-group splits, the planned parallelism
    far exceeds the threshold, and no exchange is added — the guard
    exists precisely so the local fix cannot become a full-data shuffle
    at scale.  (The real fix for a chronically under-split table is
    rewriting its layout into fewer, larger files.)
    """
    n_cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Planned (not executed) partition count: splits from the file
    # index — no job runs FOR A BARE SCAN, which is the precondition:
    # every call site passes a fresh load_table frame.  Do NOT pass a
    # frame with an exchange upstream (join/groupBy/repartition
    # output) — under AQE, .rdd finalizes the plan and materializes
    # those upstream stages as real jobs just for this probe.
    if df.rdd.getNumPartitions() * 2 >= n_cores:
        return df
    return df.repartition(n_cores)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The three conf pins below are session-global and deliberately NOT
    # restored: the driver gate imports the queries into ITS OWN plain
    # session, so everything correctness-critical must be established
    # at query-build time and must still hold when the driver triggers
    # the action later — a try/finally restore would un-pin them before
    # execution.  The engine owns its session's parquet/timezone
    # semantics by contract (see .claude/skills/verify: "the driver
    # session won't have session.py configs").
    #
    # Best-effort for runtimes ≤4.0 where the vectorized reader rejects
    # TIMESTAMP(NANOS) outright; a silent no-op on 4.1+ (the dtype
    # branch in normalize_ts_column makes that moot).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Queries must not depend on the caller's session timezone
    # (to_date/date_trunc and the NTZ→TZ cast below are tz-sensitive;
    # the DuckDB oracle treats naive timestamps as UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Infer the nano-ts columns as TimestampType AT THE SCAN instead of
    # TimestampNTZType + a post-read cast: the cast blocked predicate
    # pushdown on every date filter in the registry (a range predicate
    # over cast(ntz AS timestamp) never reached PushedFilters — at
    # 100 TB that is the difference between pruning row groups and
    # reading a year of data to drop it).  Under the pinned-UTC session
    # the instants are identical either way; normalize_ts_column's
    # TimestampType branch then passes the column through untouched.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in _NANO_TS_COLUMNS.get(name, ()):
        df = normalize_ts_column(df, c)
    return df
