"""Structured Streaming re-expression of the reference's scheduled
batch (S8): each runner drains its source with
``trigger(availableNow=True)`` — process everything new, then stop;
re-running picks up only new files via checkpointing.

Also carries the streaming form of the tumbling-window aggregation
(E7): ``readStream → withWatermark → groupBy(window(...)) →
writeStream``.  For hermetic runs the sink is the in-memory table and
the trigger drains the source synchronously.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    query_name: str,
    output_mode: str,
) -> DataFrame:
    """Drain a bounded stream to the in-memory sink under
    ``trigger(availableNow)`` and return the sink table.

    Stateful stages (windowed aggs, dedup, stream-stream joins)
    materialize one state store per shuffle partition — per SIDE for
    joins — and for a bounded historical drain the store init
    dominates the micro-batch.  The drain runs at 8 shuffle partitions
    and the session conf is restored afterwards.  Measured: the
    interval join ran ~6 s warm at the session default of 32 against
    ~2.4 s at 8 (sf0.1), and the Python-stateful drains
    (applyInPandasWithState) are Arrow-worker-parallelism-bound, so at
    2 partitions ``sessionize_stateful`` regressed 2.1 → 4.3 s and
    ``twap_by_user`` 2.0 → 4.9 s warm.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            q = (
                df.writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(query_name)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events parquet with the same nano-ts
    handling as the batch catalog (schema must be declared up front
    for streaming sources).

    The ``ts`` conversion goes through ``catalog.normalize_ts_column``,
    which branches on the dtype the runtime actually inferred — under
    pyspark 4.1.2 the ``nanosAsLong`` flag is a no-op and the column
    arrives as TimestampNTZType; older runtimes surface INT64 nanos.
    """
    from ..catalog import normalize_ts_column

    # Best-effort for runtimes ≤4.0 (silent no-op on 4.1+).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ→TZ cast below is session-tz-sensitive; pin UTC like the
    # batch catalog so streaming and batch agree on instants.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Same scan-level TimestampType inference as the batch catalog
    # (pushdown-transparent; see catalog.load_table) — the declared
    # stream schema below inherits it via this probe read.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    src_path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(src_path).schema
    # The file-stream source wants a DIRECTORY.  events.parquet is a
    # directory of part files everywhere except the single-file test
    # corpus (a real table — and the scale-probe's replicated corpus —
    # is directory-form), so stream from it directly and fall back to
    # the whole-sf_dir + name-glob trick only for the single-file
    # layout.  The glob filters by LEAF file name, so pointing it at a
    # directory-form table would match nothing and silently drain an
    # empty stream — zero rows, green-looking run, wrong everything.
    # Layout dispatch resolves through the SAME Hadoop FileSystem the
    # read does (ADVICE r12: driver-local os.path.isfile returns False
    # for file://, s3a://, hdfs:// URIs, misrouting a remote
    # single-file table into the directory branch); driver-local
    # os.path.isfile is only the fallback for an unloadable scheme.
    def _is_single_file(p: str) -> bool:
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            return bool(fs.getFileStatus(hpath).isFile())
        except Exception:  # noqa: BLE001 — unloadable scheme
            import os

            return os.path.isfile(p)

    if _is_single_file(src_path):
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    else:
        stream = spark.readStream.schema(raw_schema).parquet(src_path)
    return normalize_ts_column(stream, "ts")


def run_streaming_hourly(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_hourly"
) -> DataFrame:
    """Windowed streaming aggregation drained to completion.

    complete output mode (windows never finalize under availableNow
    for a bounded historical file); watermark declared anyway — it is
    what bounds state at 100 TB with a live source.
    """
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    return _drain_to_memory(spark, agg, query_name, "complete").select(
        F.unix_micros(F.col("window.start")).alias("hour_us"),
        "event_type",
        "n_events",
        "total_value",
    )


def run_streaming_dedup(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """Streaming exact dedup under at-least-once delivery: the event
    stream unioned with itself (every record replayed once — the
    delivery duplicates an ingest pipeline actually sees) collapses
    back to exactly-once via ``dropDuplicates`` keyed on
    (event_id, ts).

    The event-time column in the dedup key plus the declared watermark
    is what BOUNDS the dedup state with a live source — state for keys
    older than the watermark is evicted, so memory tracks the horizon,
    not the stream's history.  Drained with availableNow; append mode
    (each surviving key emits exactly once).
    """
    src = _events_stream(spark, sf_dir)
    replayed = src.union(src)
    deduped = replayed.withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id", "ts"]
    )
    return _drain_to_memory(spark, deduped, query_name, "append").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def run_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup_wm"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: unlike
    plain ``dropDuplicates`` (which only bounds state when the
    event-time column is PART of the key), this dedups on the bare
    business key (event_id) while still evicting state once the
    watermark passes a record's event time — the right tool when the
    at-least-once replays of the same key can carry slightly different
    timestamps, which a (key, ts)-keyed dedup would wrongly keep.

    Same replayed-stream drain as run_streaming_dedup; the oracle is
    the batch identity (every original event exactly once).
    """
    src = _events_stream(spark, sf_dir)
    replayed = src.union(src)
    deduped = replayed.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _drain_to_memory(spark, deduped, query_name, "append").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_enrich"
) -> DataFrame:
    """Stream-static join: arriving purchase events enrich against a
    batch-computed per-user dimension (first-seen day + lifetime click
    count) — the canonical "enrich the stream with a dim table" shape.

    Unlike stream-stream joins this is STATELESS: the static side is
    (re)planned per micro-batch and broadcast when small, and no join
    state accumulates — at 100 TB the dim refresh cadence, not state
    size, is the operational knob.  Inner join, append mode, drained
    with availableNow; results must equal the identical batch join
    (the oracle SQL).
    """
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).cast("string").alias("first_seen"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_clicks"),
    )
    src = _events_stream(spark, sf_dir)
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    enriched = purchases.join(dim, "user_id")
    return _drain_to_memory(spark, enriched, query_name, "append").select(
        "event_id", "user_id", "first_seen", "n_clicks", "value"
    )


def run_streaming_session_window(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions"
) -> DataFrame:
    """Gap sessionization via the BUILT-IN ``session_window`` —
    Spark's native merging-session state operator, complementing the
    custom ``applyInPandasWithState`` twin (streaming/stateful.py).

    Semantics pinned by the oracle: a new session starts when the gap
    is ≥ the 30-minute duration (session_window merges on strict
    overlap — an event landing exactly at the previous window's end
    starts a NEW session).  ``window.end`` is last-event + gap, so the
    surfaced last_event_us subtracts the gap back out.  complete mode
    (bounded historical drain finalizes no watermark); with a live
    source this runs append + watermark and state is bounded by it.
    """
    gap_us = 30 * 60 * 1_000_000
    src = _events_stream(spark, sf_dir)
    agg = src.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return _drain_to_memory(spark, agg, query_name, "complete").select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        (F.unix_micros(F.col("session_window.end")) - F.lit(gap_us)).alias(
            "last_event_us"
        ),
        "n_events",
    )


def run_streaming_upsert_latest(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_upsert",
    src: DataFrame | None = None,
) -> DataFrame:
    """foreachBatch merge-upsert: each micro-batch merges into a
    keyed materialized view, keeping the latest event per user —
    union(state, batch) → argmax(ts, event_id) per key.

    This is the sink-side MERGE pattern for engines without a native
    one: the per-batch merge is idempotent (replaying a batch
    reproduces the same argmax), which is what makes checkpoint
    recovery exactly-once at the table level.  At 100 TB the view is
    a partitioned table and the merge rewrites only the partitions a
    batch touches (dynamic partition overwrite) — here the state is a
    view, the shape is the same.

    ``src`` overrides the corpus stream (tests drive multi-batch
    merges through it with ``maxFilesPerTrigger``); it must carry
    (user_id, ts, event_id, value).
    """
    if src is None:
        src = _events_stream(spark, sf_dir)
    state_name = f"{query_name}_state"
    empty = spark.createDataFrame(
        [], "user_id long, ts_us long, event_id long, value double"
    )
    empty.createOrReplaceGlobalTempView(state_name)

    sc = spark.sparkContext

    def _persistent_ids() -> set[int]:
        jmap = sc._jsc.sc().getPersistentRDDs()
        it, ids = jmap.iterator(), set()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    prev_ids: set[int] = set()

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        arriving = batch_df.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
        state = spark.table(f"global_temp.{state_name}")
        merged = (
            state.unionByName(arriving)
            .groupBy("user_id")
            .agg(F.max(F.struct("ts_us", "event_id", "value")).alias("m"))
            .select("user_id", "m.ts_us", "m.event_id", "m.value")
        )
        # Materialize (distributed, lineage cut) before swapping the
        # view it reads from — never a driver-side collect; on a real
        # cluster this is the partitioned-table overwrite.
        before = _persistent_ids()
        new_state = merged.localCheckpoint(eager=True)
        created = _persistent_ids() - before
        new_state.createOrReplaceGlobalTempView(state_name)
        # Release the PREVIOUS batch's checkpointed blocks explicitly.
        # DataFrame.unpersist() is a documented NO-OP here (it talks
        # to the CacheManager, which never registered a localCheckpoint
        # — verified on this Spark), so the superseded state must be
        # dropped at the RDD level by the ids the checkpoint created;
        # otherwise executor storage holds O(batches) state copies
        # until JVM GC gets around to the dereferenced plans.  The
        # before/after id diff assumes no CONCURRENT job in this
        # session checkpoints between the two snapshots (foreachBatch
        # is sequential; the engine's query surface is driver-run one
        # at a time) — a concurrent checkpointer would need tagged
        # RDD names instead.
        jmap = sc._jsc.sc().getPersistentRDDs()
        for rid in prev_ids:
            opt = jmap.get(rid)
            if opt.isDefined():
                opt.get().unpersist(False)
        prev_ids.clear()
        prev_ids.update(created)

    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            src.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(f"global_temp.{state_name}")


def run_streaming_interval_join(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_cp_join"
) -> DataFrame:
    """Stream-stream interval join with watermarks on BOTH sides: each
    click joins the purchases of the same user within the next 5
    minutes — the streaming twin of the batch banded interval join
    (operators/interval.py), and the construct whose dual watermark +
    time-range condition is what BOUNDS the join state at 100 TB: each
    side buffers only rows newer than (watermark - range), everything
    older is evicted.

    Drained with availableNow in append mode (a matched pair emits
    once its join window can no longer grow).  Results must equal the
    batch inequality join — the oracle is the same SQL.

    A LEFT OUTER variant was built and removed: under pyspark 4.1.2
    the null-row emission for an unmatched click is withheld whenever
    the FINAL watermark never passes that click's eviction bound
    (c_ts + range + delay) — availableNow consumes all data but does
    not flush terminal join state, so whether a given unmatched row
    emits depends on where stream-end lands relative to its bound.
    No portable batch oracle can model that, so the INNER form is the
    gate-checked surface.  The behavior is pinned as a deterministic
    bounded repro in tests/test_streaming_late_data.py::
    test_stream_stream_outer_join_withholds_terminal_unmatched_row —
    a Spark upgrade that starts flushing terminal state flips it
    loudly, signalling the outer variant can be promoted.
    """
    src = _events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 5 MINUTES"
        ),
    )
    return _drain_to_memory(spark, joined, query_name, "append").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))).alias(
            "latency_us"
        ),
    )



def run_streaming_wau_approx(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_wau"
) -> DataFrame:
    """Streaming sliding-window approximate distinct: trailing-7-day
    active users per day via ``window(ts, '7 days', '1 day')`` +
    ``approx_count_distinct`` — the streaming twin of the batch
    spread-and-count operator (operators/rolling.py), with the HLL
    sketch standing in for the exact distinct (sliding exact distinct
    would hold every user id in every open window's state; the sketch
    holds a fixed few KB per window).

    HLL++ is deterministic for fixed data (hash-based, merge
    commutative), but its estimate is NOT reproducible by another
    engine — so the gate surface is the EXACT batch WAU plus a
    within-tolerance flag, the same convention as
    hll_mergeable_distinct.  Each event lands in 7 windows (epoch- and
    midnight-UTC-aligned, so window membership ≡ date membership);
    complete-mode drain, edge windows beyond the observed day range
    dropped against the batch bounds.
    """
    from ..catalog import load_table
    from ..operators.rolling import rolling_distinct_count

    src = _events_stream(spark, sf_dir)
    # rsd pinned EXPLICITLY at 2%: the function default is 0.05, which
    # makes the 5% gate a ~1-sigma bet — it held at sf0.01 and failed
    # on one sf0.1 window (estimate 6.7% off).  Chosen by MEASUREMENT,
    # not sigma-math (HLL is deterministic for fixed data): max
    # observed error across every window at sf0.001/0.01/0.1 is 0.47%
    # at rsd=0.02 — a 10x margin under the gate — while rsd=0.01
    # tripled the query's runtime for margin nobody needs.
    agg = src.groupBy(F.window("ts", "7 days", "1 day")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("wau_approx")
    )
    t = _drain_to_memory(spark, agg, query_name, "complete")
    # day = last day the window covers; [start, start+7d) ≡ dates
    # start..start+6 because both are midnight-UTC aligned.
    approx = t.select(
        F.date_add(F.to_date(F.col("window.start")), 6).alias("day"),
        "wau_approx",
    )
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    exact = rolling_distinct_count(days, "user_id", "d", 7).select(
        "day", F.col("n_distinct").alias("wau_exact")
    )
    # Inner join clips the partial edge windows the stream emits past
    # the observed range; 5% = 3x the default HLL++ rsd (~1.6%).
    return approx.join(exact, "day").select(
        F.col("day").cast("string").alias("day"),
        "wau_exact",
        (
            F.abs(F.col("wau_approx") - F.col("wau_exact"))
            <= F.col("wau_exact") * 0.05
        ).alias("within_tol"),
    )


def run_streaming_cms(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_cms"
) -> DataFrame:
    """Streaming Count-Min sketch: the 4×64 counter grid of
    ``events_heavy_hitters_cms`` built INCREMENTALLY over the event
    stream — each micro-batch folds into the same 256 counters
    (complete-mode grouped count), which is the whole point of the
    sketch: per-batch partials merge by addition, so a live stream
    maintains exact-sketch state in O(1) memory and any moment's
    heavy-hitter estimates come from the current grid.

    The drained grid is then queried exactly like the batch query
    (exact top-10 users from the batch table, estimate = min over
    rows), so the SAME oracle checks that the incrementally-built
    sketch is bit-identical to the one-shot build.
    """
    from ..catalog import load_table
    from ..queries.quality import cms_estimate_topk, cms_grid

    # The SAME grid builder as the batch query — per-micro-batch
    # partials merge by addition under complete-mode aggregation, so
    # the drained grid is bit-identical to the one-shot build.
    grid = cms_grid(_events_stream(spark, sf_dir), "user_id")
    counters = _drain_to_memory(spark, grid, query_name, "complete")
    return cms_estimate_topk(load_table(spark, sf_dir, "events"), counters)
