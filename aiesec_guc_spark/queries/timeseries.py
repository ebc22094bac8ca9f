"""Time-series operators: hourly gap-fill with forward-fill carry —
the hypertable-style resample/interpolate surface a metrics user
expects from an analytics engine (SURVEY.md §2.5/§2.7 name only the
windowed aggregates; the reference has nothing here).

Scale notes (100 TB): the fact-side work is ONE grouped aggregation
(hour, event_type) with map-side combine — the spine (hours × types)
is tiny and derived from a 1-row bounds aggregate, so the left join
that materializes the gaps broadcasts the spine-side nothing-burger
against the already-aggregated hourly frame.  The forward-fill window
partitions by series key; with years-long series per key, swap to the
banded carry used by operators/asof.py (coarse time bands + per-band
carry of the last value) so no single task owns a whole series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query

_GAPFILL_ORACLE = """
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS mn,
           date_trunc('hour', max(ts)) AS mx
    FROM events
),
hours AS (
    SELECT unnest(range(mn, mx + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS hr
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
    SELECT date_trunc('hour', ts) AS hr,
           event_type,
           count(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS sv
    FROM events
    GROUP BY 1, 2
)
SELECT t.event_type,
       epoch_us(h.hr) AS hour_us,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
       CAST(a.sv AS DOUBLE) AS total_value,
       CAST(last_value(a.sv IGNORE NULLS) OVER (
            PARTITION BY t.event_type ORDER BY h.hr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS filled_value,
       CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
FROM hours h
CROSS JOIN types t
LEFT JOIN hourly a ON a.hr = h.hr AND a.event_type = t.event_type
"""


@query("events_gapfill_hourly", oracle=_GAPFILL_ORACLE)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with gap-fill + forward-fill (locf): a dense
    hour × event_type spine left-joins the hourly aggregate; missing
    hours surface with n_events=0 and carry the last observed hourly
    value forward (``F.last(ignorenulls=True)``).

    The only fact-sized shuffle is the grouped hourly aggregate; the
    spine is sequence()-generated from a 1-row min/max bounds frame
    crossed with the distinct type set (both broadcast-sized by
    construction — hours × types, never rows).  Sums go through
    decimal so the carried value hash-matches DuckDB bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(types)  # |hours| × |types| — deliberately tiny
    carry = Window.partitionBy("event_type").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(hourly, ["hr", "event_type"], "left")
        .select(
            "event_type",
            F.unix_micros(F.col("hr")).alias("hour_us"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.col("sv").cast("double").alias("total_value"),
            F.last(F.col("sv"), ignorenulls=True)
            .over(carry)
            .cast("double")
            .alias("filled_value"),
            F.when(F.col("n").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order clustering — multi-dimensional data layout for scan pruning.
# ---------------------------------------------------------------------------

_Z_BITS = 12
_Z_BUCKET_SHIFT = 18  # keep the top 6 interleaved bits → 64 buckets max


def _z_interleave(x: str, y: str) -> str:
    """Bit-interleave expression (Morton / Z-value), valid in both
    Spark SQL and DuckDB — generated from one loop so the engines
    compute identical values."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_Z_MASK = (1 << _Z_BITS) - 1

_ZORDER_ORACLE = f"""
WITH base AS (
  SELECT user_id,
         (epoch_us(ts) // 3600000000) & {_Z_MASK} AS hr_lo,
         user_id & {_Z_MASK} AS uid_lo
  FROM events
),
z AS (
  SELECT uid_lo, hr_lo, {_z_interleave("uid_lo", "hr_lo")} AS zval FROM base
)
SELECT zval >> {_Z_BUCKET_SHIFT} AS bucket,
       count(*) AS n_events,
       CAST(min(uid_lo) AS BIGINT) AS uid_min,
       CAST(max(uid_lo) AS BIGINT) AS uid_max,
       CAST(min(hr_lo) AS BIGINT) AS hr_min,
       CAST(max(hr_lo) AS BIGINT) AS hr_max
FROM z
GROUP BY 1
"""


@query("layout_zorder_stats", oracle=_ZORDER_ORACLE)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering of events on (user_id, hour):
    interleave the low 12 bits of both dimensions, bucket by the
    top interleaved bits, and report each bucket's per-dimension
    min/max span — the file-level statistics a Z-ordered layout gives
    a pruning scan.

    This is the data-layout operator behind multi-dimensional data
    skipping: writing one file per ALIGNED z block (partition by the
    high z bits, sort within by zval) makes every parquet file cover
    a small square of the (user, time) grid, so BOTH ``user_id = ?``
    and ``ts BETWEEN`` predicates prune files via footer min/max —
    a single-column sort layout can only prune one of them.
    Alignment is part of the contract: an arbitrary contiguous
    z range (e.g. from ``repartitionByRange``'s sampled boundaries)
    can straddle a high-bit flip and blow one dimension's span to
    full width — measured in tests/test_plans.py, which writes both
    layouts and checks the per-file spans.  The z-value is a pure
    codegen expression (bit ops, no UDF), and fixed-high-bit
    bucketing is deterministic and oracle-checkable (sampled splits
    are not).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.expr("unix_micros(ts) div 3600000000").bitwiseAND(F.lit(_Z_MASK))).alias(
            "hr_lo"
        ),
        F.col("user_id").bitwiseAND(F.lit(_Z_MASK)).alias("uid_lo"),
    )
    z = base.withColumn("zval", F.expr(_z_interleave("uid_lo", "hr_lo")))
    return (
        z.groupBy(F.shiftright("zval", _Z_BUCKET_SHIFT).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("uid_lo").cast("bigint").alias("uid_min"),
            F.max("uid_lo").cast("bigint").alias("uid_max"),
            F.min("hr_lo").cast("bigint").alias("hr_min"),
            F.max("hr_lo").cast("bigint").alias("hr_max"),
        )
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection — median/MAD outliers in EXACT integers.
# ---------------------------------------------------------------------------

# z-scores need stddev (whose accumulation order and sqrt are not
# cross-engine-exact); the robust median/MAD detector runs entirely in
# integers by carrying DOUBLED medians: med2 = 2·median is an integer
# for any integer series (odd n → 2·middle; even n → sum of the two
# middles), dev2 = |2n − med2| = 2·|n − med|, mad4 = 2·median(dev2) =
# 4·MAD, and the 3-sigma-analogue test |n−med| > 3·MAD becomes the
# pure-integer comparison 2·dev2 > 3·mad4.

_ANOMALY_ORACLE = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n, hr) AS rk,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM hourly
),
med AS (
    SELECT event_type, CAST(SUM(n) * (3 - count(*)) AS BIGINT) AS med2
    FROM ranked
    WHERE rk = (cnt + 1) // 2 OR rk = (cnt + 2) // 2
    GROUP BY event_type
),
devs AS (
    SELECT h.hr, h.event_type, h.n, m.med2,
           abs(2 * h.n - m.med2) AS dev2
    FROM hourly h JOIN med m ON h.event_type = m.event_type
),
dranked AS (
    SELECT *, row_number() OVER (
               PARTITION BY event_type ORDER BY dev2, hr
           ) AS rk,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM devs
),
mad AS (
    SELECT event_type, CAST(SUM(dev2) * (3 - count(*)) AS BIGINT) AS mad4
    FROM dranked
    WHERE rk = (cnt + 1) // 2 OR rk = (cnt + 2) // 2
    GROUP BY event_type
)
SELECT epoch_us(d.hr) AS hour_us,
       d.event_type,
       CAST(d.n AS BIGINT) AS n,
       CAST(d.med2 AS DOUBLE) / 2 AS median_n,
       CAST(m.mad4 AS DOUBLE) / 4 AS mad_n,
       (2 * d.dev2 > 3 * m.mad4) AS is_anomaly
FROM devs d JOIN mad m ON d.event_type = m.event_type
"""


@query("events_hourly_anomalies", oracle=_ANOMALY_ORACLE)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection over the hourly event-count series:
    flag hours whose count deviates from the per-type MEDIAN by more
    than 3 MADs — computed entirely in exact integer arithmetic via
    doubled medians (see the module comment), so no stddev/sqrt whose
    accumulation order could differ cross-engine ever runs.

    Scale: one fact-sized hourly count (map-side combined); both
    median passes are rank windows over the tiny (hour × type) frame
    partitioned by type; the MAD join keys on event_type (broadcast).
    """
    from ..session import materialize

    e = load_table(spark, sf_dir, "events")
    # hourly feeds the median rank pass AND the deviation join; devs
    # feeds the MAD pass AND the final join — both materialized so the
    # fact is scanned once (no cross-consumer plan CSE; verified: 8
    # scans without, 1 with).
    hourly = materialize(
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hr"), F.col("event_type")
        ).agg(F.count(F.lit(1)).alias("n"))
    )

    def _med2(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(val, "hr")
        wc = Window.partitionBy("event_type")
        ranked = df.withColumn("rk", F.row_number().over(w)).withColumn(
            "cnt", F.count(F.lit(1)).over(wc)
        )
        return (
            ranked.filter(
                (F.col("rk") == F.expr("(cnt + 1) div 2"))
                | (F.col("rk") == F.expr("(cnt + 2) div 2"))
            )
            .groupBy("event_type")
            .agg(
                (F.sum(val) * (F.lit(3) - F.count(F.lit(1))))
                .cast("bigint")
                .alias(out)
            )
        )

    med = _med2(hourly, "n", "med2")
    devs = materialize(
        hourly.join(med, "event_type").withColumn(
            "dev2", F.abs(2 * F.col("n") - F.col("med2"))
        )
    )
    mad = _med2(devs, "dev2", "mad4")
    return devs.join(F.broadcast(mad), "event_type").select(
        F.unix_micros("hr").alias("hour_us"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("med2").cast("double") / 2).alias("median_n"),
        (F.col("mad4").cast("double") / 4).alias("mad_n"),
        (2 * F.col("dev2") > 3 * F.col("mad4")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Aggregation lattice — day/week/month grains from ONE fact pass.
# ---------------------------------------------------------------------------

_MULTIGRAIN_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           count(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY 1
)
SELECT 'day' AS grain, CAST(d AS VARCHAR) AS period_start,
       CAST(n AS BIGINT) AS n_events, CAST(v AS DOUBLE) AS total_value
FROM daily
UNION ALL
SELECT 'week', CAST(CAST(date_trunc('week', d) AS DATE) AS VARCHAR),
       CAST(SUM(n) AS BIGINT), CAST(SUM(v) AS DOUBLE)
FROM daily GROUP BY 2
UNION ALL
SELECT 'month', CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR),
       CAST(SUM(n) AS BIGINT), CAST(SUM(v) AS DOUBLE)
FROM daily GROUP BY 2
"""


@query("events_multigrain_rollup", oracle=_MULTIGRAIN_ORACLE)
def events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation lattice: day, week, and month grains emitted from
    ONE pass over the fact — the daily frame is materialized and the
    coarser grains re-aggregate IT (exact decimal partials re-sum
    exactly, so week/month equal what a direct fact aggregation would
    produce — the property that makes pre-aggregated rollup tables
    trustworthy).

    Scale: one map-side-combined daily aggregate reads the fact; the
    week/month re-rolls and the 3-way union run over the #days-sized
    frame.  This is the build step for an aggregate-navigator layout
    (store all three grains, route queries to the coarsest usable).
    """
    from ..session import materialize

    e = load_table(spark, sf_dir, "events")
    daily = materialize(
        e.groupBy(F.to_date("ts").alias("d")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
    )

    def grain(name: str, period: F.Column, src: DataFrame) -> DataFrame:
        return (
            src.groupBy(period.alias("period_start"))
            .agg(
                F.sum("n").cast("bigint").alias("n_events"),
                F.sum("v").cast("double").alias("total_value"),
            )
            .select(
                F.lit(name).alias("grain"),
                "period_start",
                "n_events",
                "total_value",
            )
        )

    day = daily.select(
        F.lit("day").alias("grain"),
        F.col("d").cast("string").alias("period_start"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("v").cast("double").alias("total_value"),
    )
    week = grain("week", F.to_date(F.date_trunc("week", F.col("d"))).cast("string"), daily)
    month = grain("month", F.to_date(F.date_trunc("month", F.col("d"))).cast("string"), daily)
    return day.unionByName(week).unionByName(month)


# ---------------------------------------------------------------------------
# Seasonality heatmap — events by (day-of-week, hour), with PORTABLE
# weekday arithmetic (engines disagree on dayofweek numbering).
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH b AS (
    SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS dow,
           (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
           CAST(value AS DECIMAL(18,2)) AS v
    FROM events
),
tot AS (SELECT count(*) AS n FROM b)
SELECT CAST(dow AS INT) AS dow,
       CAST(hour AS INT) AS hour,
       count(*) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS total_value,
       CAST(count(*) * 10000 // max(t.n) AS DOUBLE) / 100 AS pct_of_total
FROM b CROSS JOIN tot t
GROUP BY dow, hour
"""


@query("events_seasonality_heatmap", oracle=_SEASONALITY_ORACLE)
def events_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the seasonality profile
    capacity planning and anomaly baselines start from.

    The weekday is computed as ``(epoch_days + 4) % 7`` (0=Sunday)
    straight from epoch microseconds rather than any dayofweek()
    builtin: engines disagree on weekday NUMBERING (Spark's
    dayofweek is 1=Sunday, DuckDB's dayofweek is 0=Sunday, ISO
    variants are 1=Monday), and integer epoch arithmetic sidesteps
    the whole family plus any session-timezone sensitivity.  Shares
    the same integer-division idiom as the hour bucket.

    Scale: single map-side-combined aggregate on a ≤168-key space;
    the 1-row total broadcasts for the share; percentage is
    basis-point integer truncation then one division.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.unix_micros("ts").alias("_us"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    ).select(
        F.expr("(_us div 86400000000 + 4) % 7").cast("int").alias("dow"),
        F.expr("(_us % 86400000000) div 3600000000").cast("int").alias("hour"),
        "v",
    )
    from ..session import materialize

    # aggregate FIRST, then derive the total from the ≤168 group rows —
    # the earlier shape folded the global count from the event-grain
    # frame, which re-ran the events scan on a second plan branch
    g = materialize(
        b.groupBy("dow", "hour").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )
    tot = g.agg(F.sum("n_events").alias("n"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n_events",
        "total_value",
        (
            F.expr("n_events * 10000 div n").cast("double") / 100
        ).alias("pct_of_total"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series — running-peak window
# composition in exact decimals.
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
),
runpeak AS (
    SELECT d, rev,
           MAX(rev) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS peak
    FROM daily
)
SELECT CAST(max(peak - rev) AS DOUBLE) AS max_drawdown,
       CAST(max(CASE WHEN peak = rev THEN rev END) AS DOUBLE) AS peak_revenue,
       count(*) AS n_days
FROM runpeak
"""


@query("revenue_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue (largest drop from a running
    peak) — the risk-metric window composition: running MAX over the
    ordered daily series, then a global max of (peak − value).  All
    comparisons and differences happen in EXACT decimals; the two
    output casts are display-only, so engines agree bit-for-bit.

    Scale shape: the fact collapses to the #days frame first (one
    map-side-combined shuffle); the running-peak window orders that
    tiny frame (a global window over #days rows).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runpeak = daily.select(
        "rev", F.max("rev").over(w).alias("peak")
    )
    return runpeak.agg(
        F.max(F.col("peak") - F.col("rev")).cast("double").alias("max_drawdown"),
        F.max(F.when(F.col("peak") == F.col("rev"), F.col("rev")))
        .cast("double")
        .alias("peak_revenue"),
        F.count(F.lit(1)).alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Open-order backlog — the sweep-line (+1/−1 delta + running sum)
# pattern for "how many intervals are open on day d".
# ---------------------------------------------------------------------------

_BACKLOG_ORACLE = """
WITH closes AS (
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS open_day,
           COALESCE(CAST(max(l.l_shipdate) AS DATE),
                    CAST(o.o_orderdate AS DATE)) AS close_day
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
    SELECT open_day AS d, 1 AS delta, 1 AS opened, 0 AS closed FROM closes
    UNION ALL
    SELECT close_day + INTERVAL 1 DAY, -1, 0, 1 FROM closes
),
daily AS (
    SELECT CAST(d AS DATE) AS d,
           SUM(delta) AS net,
           SUM(opened) AS n_opened,
           SUM(closed) AS n_closed
    FROM deltas GROUP BY 1
)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(SUM(net) OVER (
           ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS backlog
FROM daily
"""


@query("open_orders_backlog", oracle=_BACKLOG_ORACLE)
def open_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day via the sweep-line idiom: every
    order contributes +1 on its open day and −1 the day after it
    closes (last lineitem shipdate; lineitem-less orders close same-
    day), the deltas collapse to a daily net, and a running sum turns
    nets into the standing backlog — "how many intervals cover day d"
    computed WITHOUT expanding each order into its covered days (the
    expansion form is |orders|·avg_duration rows; the sweep-line is
    2·|orders|).

    Scale shape: one orderkey shuffle computes close days (map-side-
    combined max over the co-partitioned join); the delta union is
    map-side; the daily net collapses to the #days frame, and the
    running sum windows over that tiny frame.
    All counters integer-exact.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    closes = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.coalesce(
                F.to_date(F.max("l_shipdate")), F.to_date("o_orderdate")
            ).alias("close_day")
        )
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            "close_day",
        )
    )
    deltas = closes.select(
        F.col("open_day").alias("d"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionAll(
        closes.select(
            F.date_add("close_day", 1).alias("d"),
            F.lit(-1).alias("delta"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    daily = deltas.groupBy("d").agg(
        F.sum("delta").alias("net"),
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.col("n_opened").cast("bigint").alias("n_opened"),
        F.col("n_closed").cast("bigint").alias("n_closed"),
        F.sum("net").over(w).cast("bigint").alias("backlog"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — the irregular-sampling average where
# each observation counts for how LONG it held, not how often it was
# sampled.  Plain AVG over-weights chatty periods; TWAP weights each
# value by its holding interval (step-function / last-observation-
# carried-forward semantics), which is the correct average for
# sensor/price/gauge streams sampled on change.
# ---------------------------------------------------------------------------

_TWAP_ORACLE = """
WITH s AS (
  SELECT user_id,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents
  FROM events
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(dt_us) AS BIGINT) AS span_us,
         SUM(CAST(CAST(v_cents AS DECIMAL(19,0)) * dt_us AS DECIMAL(38,0)))
           AS num_cents_us
  FROM s GROUP BY 1
)
SELECT user_id, n_events, span_us,
       CAST(num_cents_us AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0 AS twap
FROM agg
WHERE span_us > 0
"""


@query("events_twap_by_user", oracle=_TWAP_ORACLE)
def events_twap_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, span_us, twap): per-user time-weighted
    average of ``value`` — each observation weighted by the
    microseconds until the user's next observation (the last sample
    carries no weight; users whose span is zero are dropped).

    Determinism: the weight fold is ALL-INTEGER — values pin to exact
    cents (the registry's DECIMAL(18,2) money convention), each
    cents×μs product is an exact DECIMAL(38,0), and the per-user sum
    stays decimal; doubles appear only in the final two fixed-order
    divisions.  Scale shape: one per-user window (``lead`` over the
    user's own rows — partitioned, never global) and one grouped
    aggregate, both map-side-combinable after the user shuffle; at
    100 TB this is a single exchange keyed by user_id.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("v_cents"),
    )
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("dt_us").cast("bigint").alias("span_us"),
        F.sum(
            (F.col("v_cents").cast("decimal(19,0)") * F.col("dt_us")).cast(
                "decimal(38,0)"
            )
        ).alias("num_cents_us"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        "span_us",
        (
            F.col("num_cents_us").cast("double")
            / F.col("span_us").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap self-join — for every order, how many OTHER orders
# of the same customer were open at the same time.  The interval-join
# operator Spark lacks natively, expressed as a key-partitioned
# overlap join (never all-pairs): pairs form only within a customer.
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH iv AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(o.o_orderdate AS DATE) AS s,
         COALESCE(c.e, CAST(o.o_orderdate AS DATE)) AS e
  FROM orders o
  LEFT JOIN (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS e
             FROM lineitem GROUP BY 1) c
    ON c.l_orderkey = o.o_orderkey
)
SELECT iv.o_orderkey,
       CAST(iv.s AS VARCHAR) AS open_day,
       CAST(iv.e AS VARCHAR) AS close_day,
       CAST(COALESCE(n.n_overlap, 0) AS BIGINT) AS n_overlap
FROM iv
LEFT JOIN (
  SELECT a.o_orderkey, count(*) AS n_overlap
  FROM iv a JOIN iv b
    ON a.o_custkey = b.o_custkey AND a.o_orderkey <> b.o_orderkey
   AND a.s <= b.e AND b.s <= a.e
  GROUP BY 1
) n ON n.o_orderkey = iv.o_orderkey
"""


@query("order_interval_overlaps", oracle=_OVERLAP_ORACLE)
def order_interval_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, open_day, close_day, n_overlap): each order's open
    interval runs from its order date to its last lineitem ship date
    (same-day for lineitem-less orders); n_overlap counts the SAME
    customer's other orders whose intervals intersect it (closed-
    interval day semantics).

    Scale shape: the interval join is partitioned by the natural
    blocking key — pairs can only form within one customer, so the
    self-join is an equi-join on o_custkey whose fan-out is bounded
    by per-customer order counts (~10 in TPC-H), never |orders|².
    Both join inputs come off the SAME custkey shuffle (co-
    partitioned), the close-day lookup is one orderkey-keyed
    map-side-combined max, and the zero-overlap rows return via a
    left join against the same co-partitioned frame.  A whale
    customer (millions of open intervals) would switch this to the
    month-bucket banding used by the dedup family — the predicate and
    outputs are unchanged, only the blocking key widens to
    (custkey, month).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("e")
    )
    iv = (
        o.join(closes, o.o_orderkey == closes.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("s"),
            F.coalesce(F.col("e"), F.to_date("o_orderdate")).alias("e"),
        )
    )
    a, b = iv.alias("a"), iv.alias("b")
    n = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") != F.col("b.o_orderkey"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .groupBy(F.col("a.o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        iv.join(n, iv.o_orderkey == n.k, "left")
        .select(
            "o_orderkey",
            F.col("s").cast("string").alias("open_day"),
            F.col("e").cast("string").alias("close_day"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point — per event type, the day where the cumulative
# deviation of the daily count from its overall mean peaks: the
# classic "when did the level shift?" detector over a metric series,
# kept ALL-INTEGER so both engines agree exactly.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, d, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prefix,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS idx,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM daily
),
g AS (
  SELECT event_type, d, n_days, total,
         abs(n_days * prefix - idx * total) AS abs_g
  FROM c
)
SELECT event_type,
       CAST(d AS VARCHAR) AS change_day,
       CAST(abs_g AS BIGINT) AS max_abs_g,
       n_days, CAST(total AS BIGINT) AS total
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs_g DESC, d) AS rk
  FROM g
) WHERE rk = 1
"""


@query("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the change-point day where the CUSUM statistic
    |sum_{i<=t}(x_i - mean)| peaks over the daily-count series, with
    the peak value and the series' shape constants.

    Integer-exactness: the mean is never materialized — the CUSUM is
    scaled by n_days (G_t = n_days·prefix_t − t·total, an exact
    BIGINT), which preserves the argmax and every comparison, so the
    detector is bit-identical across engines with zero float ops.
    Ties break to the earliest day.

    Scale shape: the raw stream collapses to (type, day) counts in
    one map-side-combinable aggregate; every window partitions by
    event_type over the per-type DAY frame (calendar-bounded, never
    corpus-sized); the argmax is one more per-type window.  At 100 TB
    this is one shuffle to (type, day) grain and windows over
    thousands of rows per type.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    word = Window.partitionBy("event_type").orderBy("d")
    wall = Window.partitionBy("event_type")
    c = daily.select(
        "event_type",
        "d",
        F.sum("n").over(
            word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("prefix"),
        F.row_number().over(word).cast("bigint").alias("idx"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_days"),
        F.sum("n").over(wall).alias("total"),
    )
    g = c.select(
        "event_type",
        "d",
        "n_days",
        "total",
        F.abs(
            F.col("n_days") * F.col("prefix") - F.col("idx") * F.col("total")
        ).alias("abs_g"),
    )
    wrk = Window.partitionBy("event_type").orderBy(F.desc("abs_g"), "d")
    return (
        g.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").cast("string").alias("change_day"),
            F.col("abs_g").cast("bigint").alias("max_abs_g"),
            "n_days",
            F.col("total").cast("bigint").alias("total"),
        )
    )


@query("streaming_twap_by_user", oracle=_TWAP_ORACLE)
def streaming_twap_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_twap_by_user``: the LOCF time-
    weighted average folded per user as events arrive, via
    ``applyInPandasWithState`` — O(1) integer state per key
    (last_ts, last_value, three accumulators), drained with
    availableNow.  The oracle is the SAME SQL as the batch query:
    streaming and batch must agree bit-for-bit, including the final
    fixed-order double divisions."""
    from ..streaming.stateful import run_streaming_twap

    return run_streaming_twap(spark, sf_dir)


# ---------------------------------------------------------------------------
# Watermark lateness audit — how out-of-order is the stream, really?
# Lateness of an event = (running max event-time seen so far in its
# user's arrival order) − (its own event time).  The distribution is
# what PICKS a streaming watermark: the 10-minute bound below is
# exactly `withWatermark("ts", "10 minutes")`'s drop line.
# ---------------------------------------------------------------------------

_LATENESS_ORACLE = """
WITH l AS (
  SELECT event_type,
         MAX(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - epoch_us(ts) AS late_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_beyond_10m,
       CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
            * 10000 // count(*) AS DOUBLE) / 100 AS pct_beyond_10m
FROM l GROUP BY 1
"""


@query("events_watermark_lateness_audit", oracle=_LATENESS_ORACLE)
def events_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the out-of-orderness profile — max lateness and
    the share of events a 10-minute watermark would drop, where
    lateness is measured against the running event-time high-water
    mark in the user's ARRIVAL order (event_id — the ingest
    sequence), exactly how Structured Streaming's watermark sees it.

    This is the query you run BEFORE choosing `withWatermark`: the
    10-minute fence here is the drop line of the registry's streaming
    dedup/join queries, so the audit and the operators it tunes share
    one constant.  All-integer: lateness in μs, the percentage via
    the ×10000-div-count fixed-point idiom (one exact integer
    division, then /100 — no float accumulation).

    Scale shape: one window partitioned by user_id in arrival order
    (the per-user inclusive running max — never a global window),
    then a map-side-combinable per-type aggregate.  At 100 TB this is
    one user-keyed exchange, same as the sessionizers.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    l = e.select(
        "event_type",
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("late_us"),
    )
    late = (F.col("late_us") > 600_000_000).cast("int")
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
        F.sum(late).cast("bigint").alias("n_beyond_10m"),
        (
            F.expr(
                "CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)"
                " * 10000 div count(1) AS DOUBLE)"
            )
            / 100
        ).alias("pct_beyond_10m"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonal index — classical ratio-to-moving-average
# decomposition at daily grain: detrend daily revenue with a centered
# 7-day moving average, then summarize each weekday's actual/trend
# ratio.  The capacity-planning readout ("Sundays run at 0.7× trend")
# that a raw dow groupBy conflates with long-run growth.
# ---------------------------------------------------------------------------

_DOW_SEASONALITY_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
ma AS (
  SELECT d, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS trend7,
         CAST(count(*) OVER w AS BIGINT) AS cnt7,
         date_diff('day', min(d) OVER w, max(d) OVER w) AS span7
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
ratios AS (
  SELECT dayofweek(d) AS dow, d,
         CAST(7 * cents AS DOUBLE) / CAST(trend7 AS DOUBLE) AS ratio
  FROM ma WHERE cnt7 = 7 AND span7 = 6
),
ranked AS (
  SELECT dow, ratio,
         row_number() OVER (PARTITION BY dow ORDER BY ratio, d) AS rn,
         count(*) OVER (PARTITION BY dow) AS n
  FROM ratios
)
SELECT CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n_days,
       ratio AS seasonal_index
FROM ranked WHERE rn = (n + 1) // 2
"""


@query("orders_dow_seasonality", oracle=_DOW_SEASONALITY_ORACLE)
def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per weekday (0=Sunday): the seasonal index — the lower-median
    ratio of daily revenue to its centered 7-day moving-average trend
    — classical ratio-to-MA decomposition, robust to the growth trend
    a plain dow groupBy would fold in.

    Determinism: daily revenue and the 7-day trend are exact cents
    BIGINTs; each ratio is ONE double division (7·cents/trendΣ — the
    /7 is cleared into the numerator); the per-dow summary is the
    LOWER median (a realized ratio, ties broken by date), never an
    interpolated midpoint.  Edge days and date gaps are excluded
    exactly (window must hold 7 rows spanning 6 days).

    Scale shape: the corpus collapses to DATE-grain first (map-side-
    combinable sum, one shuffle keyed on date); every window after
    that runs over the date-domain frame (~10³ rows regardless of
    corpus size — the gapfill/backlog posture) or partitions by dow.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("trend7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt7"),
        F.datediff(F.max("d").over(w), F.min("d").over(w)).alias("span7"),
    )
    ratios = ma.filter((F.col("cnt7") == 7) & (F.col("span7") == 6)).select(
        (F.dayofweek("d") - 1).cast("int").alias("dow"),
        "d",
        ((F.col("cents") * 7).cast("double") / F.col("trend7").cast("double")).alias(
            "ratio"
        ),
    )
    wd = Window.partitionBy("dow")
    ranked = ratios.select(
        "dow",
        "ratio",
        F.row_number().over(wd.orderBy("ratio", "d")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "dow",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("ratio").alias("seasonal_index"),
    )
