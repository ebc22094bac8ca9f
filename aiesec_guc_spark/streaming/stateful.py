"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

This is the Structured Streaming shape for operators the built-in
windowed aggregations can't express — per-key custom state evolving
over event time.  Each micro-batch, a group's new rows arrive as
Arrow-backed pandas frames together with that key's persisted state;
the function folds the rows into the state and emits updated results.
With a live source, ``GroupStateTimeout`` + watermarks bound state
size and emit session closures; for the bounded historical corpus the
stream drains under ``trigger(availableNow)`` and the final per-user
session counts must equal the batch sessionization exactly (the
registered oracle is the same SQL as ``events_sessionize``).

Cross-batch caveat (documented, not hit here): the file source orders
batches by file, not event time, so per-user continuity across
micro-batches requires event-time-ordered input files — the corpus is
one file, one batch, so the fold is exact.
"""

from __future__ import annotations

import tempfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_GAP_US = 30 * 60 * 1_000_000

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_sessions", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("n_sessions", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's new rows into (last_ts, n_sessions, n_events).

    Rows are sorted by (ts, event_id) inside the batch — the same
    deterministic order as the batch window — then the classic gap
    fold: a new session starts when the gap to the previous event
    exceeds SESSION_GAP_US."""
    last_ts, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0)
    )
    pdf = pd.concat(list(pdfs))
    pdf = pdf.sort_values(["ts", "event_id"])
    # Vectorized fold (no per-row Python): a session starts where the
    # gap to the previous event exceeds the threshold; the first row
    # chains off the carried-in state timestamp.
    ts_us = pdf["ts"].astype("int64") // 1000  # ns → us
    gaps = ts_us.diff()
    starts = int((gaps > SESSION_GAP_US).sum())
    if last_ts is None or int(ts_us.iloc[0]) - last_ts > SESSION_GAP_US:
        starts += 1  # first row of the batch opens a session
    n_sessions += starts
    n_events += len(pdf)
    last_ts = int(ts_us.iloc[-1])
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]], dtype="int64"),
            "n_sessions": pd.Series([n_sessions], dtype="int64"),
            "n_events": pd.Series([n_events], dtype="int64"),
        }
    )


def run_streaming_sessionize(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions"
) -> DataFrame:
    """Drain the events stream through the stateful sessionizer and
    return final per-user session counts (memory sink, update mode:
    the last emitted row per user is the final state)."""
    from pyspark.sql import functions as F

    from .incremental import _drain_to_memory, _events_stream

    # Fold-input contract, enforced JVM-side: a row with no user_id is
    # unattributable and a row with no event time cannot gap-chain —
    # both are protocol errors in a session stream, dropped BEFORE the
    # pandas fold (which is all-integer and would crash on NaN/NaT).
    # The registered batch oracle does NOT mirror these predicates
    # (ADVICE r12): on a corpus containing such rows the oracle gate
    # fails LOUDLY (the batch twin counts them), which is the intended
    # fail-stop — a null-key/ts event row means corpus corruption, and
    # a visible gate failure beats silently agreeing on garbage.  The
    # gate corpora have no such rows (the null-injected degenerate
    # sweep is survive-only, tests/test_empty_corpus.py).
    src = (
        _events_stream(spark, sf_dir)
        .select("user_id", "ts", "event_id")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # _drain_to_memory runs the stateful stage at 8 partitions (Python-
    # stateful drains are Arrow-worker-parallelism-bound) and restores
    # the conf.
    # Update-mode memory sink appends one row per key per batch; the
    # final value per user is the row from the last batch it appeared
    # in — with the single-file corpus there is exactly one.
    t = _drain_to_memory(spark, out, query_name, "update")
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_sessions", "n_events")
    )


# ---------------------------------------------------------------------------
# Streaming TWAP — the stateful twin of the batch events_twap_by_user:
# last-observation-carried-forward time-weighting folded per user as
# events arrive.  Each new observation closes the PREVIOUS one's
# holding interval, so the fold needs exactly (last_ts, last_value)
# plus the integer accumulators — O(1) state per key, the shape that
# holds a billion live gauges.
# ---------------------------------------------------------------------------

_TWAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("span_us", T.LongType(), True),
        T.StructField("num_cents_us", T.LongType(), True),
    ]
)

# num_cents_us is Σ cents×μs — int64 is exact to ~9.2e18, comfortably
# above max_cents × corpus_span at every test SF; the batch twin's
# DECIMAL(38,0) widening applies if a deployment's gauges overflow.
_TWAP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("last_v_cents", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("span_us", T.LongType(), True),
        T.StructField("num_cents_us", T.LongType(), True),
    ]
)


def _twap_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's new rows into the TWAP accumulators.

    Rows sort by (ts, event_id) — the batch window's order — and the
    carried-in (last_ts, last_value) closes its interval against the
    batch's first row, so the fold is exact across micro-batches
    (same single-file caveat as the sessionizer).  All-integer: the
    value pins to cents on the JVM side; here only int64 sums."""
    last_ts, last_v, n_events, span_us, num = (
        state.get if state.exists else (None, None, 0, 0, 0)
    )
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
    cents = pdf["v_cents"].astype("int64").to_numpy()
    if last_ts is not None:
        dt = int(ts_us[0]) - last_ts
        span_us += dt
        num += last_v * dt
    if len(ts_us) > 1:
        dts = ts_us[1:] - ts_us[:-1]
        span_us += int(dts.sum())
        num += int((cents[:-1] * dts).sum())
    n_events += len(pdf)
    last_ts, last_v = int(ts_us[-1]), int(cents[-1])
    state.update((last_ts, last_v, n_events, span_us, num))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]], dtype="int64"),
            "n_events": pd.Series([n_events], dtype="int64"),
            "span_us": pd.Series([span_us], dtype="int64"),
            "num_cents_us": pd.Series([num], dtype="int64"),
        }
    )


def run_streaming_twap(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_twap"
) -> DataFrame:
    """Drain the events stream through the stateful TWAP fold and
    return per-user (n_events, span_us, twap) — must equal the batch
    events_twap_by_user exactly (same oracle)."""
    from .incremental import _drain_to_memory, _events_stream
    from pyspark.sql import Window, functions as F

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        # pin to exact cents on the JVM side — the pandas fold only
        # ever sees integers (same convention as the batch twin)
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v_cents"),
    ).filter(
        # Fold-input contract (same rationale as the sessionizer): a
        # gauge reading with no key, no timestamp, or no value cannot
        # participate in LOCF time-weighting — dropped JVM-side so the
        # all-integer pandas fold never sees NaN/NaT.  The shared
        # _TWAP_ORACLE does NOT mirror these predicates (ADVICE r12):
        # the batch twin counts a null-value row in n_events and lets
        # its dt extend the previous interval, so on a null-bearing
        # corpus the oracle gate fails LOUDLY — intended fail-stop on
        # corpus corruption, not an unobservable divergence.  The gate
        # corpora have no such rows.
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("v_cents").isNotNull()
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _twap_group,
        outputStructType=_TWAP_OUT_SCHEMA,
        stateStructType=_TWAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    t = _drain_to_memory(spark, out, query_name, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return final.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        "span_us",
        (
            F.col("num_cents_us").cast("double")
            / F.col("span_us").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
    )
