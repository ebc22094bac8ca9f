"""Data-quality constraint checks and mergeable-sketch aggregation —
the validation layer a 100 TB ingest runs before publishing a
snapshot, plus the persisted-sketch pattern that makes distinct
counts incremental.

The reference has no validation at all (SURVEY.md §5.1 — its only
"test" is whether the daily job crashes); these queries are the
engine-side re-expression of what its pipeline silently assumes
(unique keys, resolvable foreign keys, sane values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out_scan, load_table
from . import query

# ---------------------------------------------------------------------------
# DQ constraint suite — one row per named check, count of violations.
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
SELECT 'dup_orderkeys' AS check_name,
       CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_violations
FROM (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY 1) d
WHERE cnt > 1
UNION ALL
SELECT 'orphan_orders',
       CAST(count(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'orphan_lineitems',
       CAST(count(*) AS BIGINT)
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'shipped_before_ordered',
       CAST(count(*) AS BIGINT)
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < o.o_orderdate
UNION ALL
SELECT 'nonpositive_price',
       CAST(count(*) AS BIGINT)
FROM lineitem
WHERE l_extendedprice <= 0
"""


@query("dq_constraint_checks", oracle=_DQ_ORACLE)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check suite: key uniqueness, referential integrity
    (both fact→dim directions), cross-table temporal sanity, and a
    value-domain check — one row per check with its violation count.

    Every check is shuffle-minimal: uniqueness is a map-side-combined
    count per key; the orphan checks are anti joins (AQE broadcasts
    the key-pruned side when small); the temporal check rides the
    same orderkey co-partitioning as the rest of the suite.  At
    100 TB the whole suite is a handful of aggregates you run before
    publishing a snapshot partition — violations block the publish
    (the reference's count-guard S7, generalized).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def row(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
        )

    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n"))
    )
    orphan_o = (
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    orphan_li = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    early_ship = (
        li.select("l_orderkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bad_price = li.filter(F.col("l_extendedprice") <= 0).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        row("dup_orderkeys", dup)
        .unionByName(row("orphan_orders", orphan_o))
        .unionByName(row("orphan_lineitems", orphan_li))
        .unionByName(row("shipped_before_ordered", early_ship))
        .unionByName(row("nonpositive_price", bad_price))
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches — distinct counts that compose without a
# rescan (the incremental / rollup-friendly form of COUNT DISTINCT).
# ---------------------------------------------------------------------------

_HLL_TOL = 0.05  # default lgConfigK=12 → rsd ≈ 1.6%; 3σ ≈ 5%

_HLL_ORACLE = """
WITH per AS (
    SELECT n.n_name AS nation,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS exact_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
)
SELECT nation, exact_customers, TRUE AS sketch_ok FROM per
UNION ALL
SELECT 'ALL', CAST(SUM(exact_customers) AS BIGINT), TRUE FROM per
"""


@query("hll_mergeable_distinct", oracle=_HLL_ORACLE)
def hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL: per-nation customer sketches estimated AND
    merged into a global estimate via ``hll_union_agg`` — without
    rescanning the input.  This is the pattern that makes distinct
    counts incremental at 100 TB: persist one sketch per partition /
    day, merge to answer any rollup, never re-shuffle raw keys.

    Sketch binaries aren't portable across engines, so (like
    approx_distinct_customers) the surfaced value is the exact count
    plus a ``sketch_ok`` tolerance flag the oracle expects TRUE —
    a broken sketch or merge turns the row red.  Every customer has
    exactly one nation, so the global exact count is the sum of the
    per-nation ones (which is what lets one query check both levels).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.hll_sketch_agg("c_custkey").alias("sk"),
            F.countDistinct("c_custkey").alias("exact_customers"),
        )
    )
    tol = lambda exact: F.lit(_HLL_TOL) * exact  # noqa: E731
    per_rows = per.select(
        "nation",
        "exact_customers",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_customers"))
            <= tol(F.col("exact_customers"))
        ).alias("sketch_ok"),
    )
    merged = per.agg(
        F.hll_union_agg("sk").alias("sk"),
        F.sum("exact_customers").alias("exact_customers"),
    ).select(
        F.lit("ALL").alias("nation"),
        F.col("exact_customers").cast("bigint").alias("exact_customers"),
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_customers"))
            <= tol(F.col("exact_customers"))
        ).alias("sketch_ok"),
    )
    return per_rows.unionByName(merged)


# ---------------------------------------------------------------------------
# Key-skew profile — the pre-join diagnostic that decides whether a
# shuffle needs salting / AQE skew handling before it runs at scale.
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH per_key AS (
    SELECT user_id, count(*) AS n FROM events GROUP BY 1
)
SELECT count(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       max(n) AS max_rows,
       CAST(max(n) * count(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT)
           AS skew_ratio
FROM per_key
"""


@query("events_key_skew_profile", oracle=_SKEW_ORACLE)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew diagnostic: hottest-key row count vs the
    mean, as ``skew_ratio = max·n_keys / total`` — the number that
    says whether a planned shuffle on this key needs salting
    (operators/salt.py) or AQE skew splitting before it runs at
    100 TB.  A ratio near 1 is uniform; the salted-join docstring's
    hot-key scenario shows up here as a large multiple.

    Shape: one map-side-combined count per key, then a 1-row global
    fold; exact integer arithmetic until one final double division.
    """
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_rows"),
        (
            (F.max("n") * F.count(F.lit(1))).cast("double")
            / F.sum("n")
        ).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# One-pass column profiler — the ANALYZE-TABLE statistics surface.
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        if c == "o_totalprice":
            mn = f"CAST(CAST(min({c}) AS DECIMAL(12,2)) AS VARCHAR)"
            mx = f"CAST(CAST(max({c}) AS DECIMAL(12,2)) AS VARCHAR)"
        else:
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        parts.append(f"""
SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS ndv,
       {mn} AS min_val,
       {mx} AS max_val
FROM orders""")
    return "\nUNION ALL".join(parts)


@query("table_profile_orders", oracle=_profile_oracle())
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profile (rows / nulls / NDV / min / max per
    column in long format) — the statistics ANALYZE TABLE persists
    and a data catalog displays; also exactly the inputs the
    join-size estimator (join_size_estimate) consumes.

    One aggregation statement computes every column's stats: Spark
    plans the multi-column DISTINCT aggregate with a single Expand +
    partial-aggregate pass (rows × #profiled-columns map-side, one
    shuffle) — no per-column rescan of the fact.  At 100 TB swap the
    exact NDVs for approx_count_distinct / hll_sketch_agg
    (hll_mergeable_distinct shows the persisted-sketch form) and the
    Expand cost drops away; exact is kept here so the oracle pins the
    semantics.  Min/max surface as strings (decimal-pinned for the
    double column) so one schema carries every type.
    """
    # fan_out_scan: the corpus's single-row-group layout serializes the
    # Expand + partial-agg behind a ~2-task scan (measured 2.3 s vs
    # 0.9 s warm at sf0.1); no-op on a properly split 100 TB table.
    o = fan_out_scan(spark, load_table(spark, sf_dir, "orders"))
    aggs = []
    for c in _PROFILE_COLS:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn = F.min(F.col(c).cast("decimal(12,2)"))
            mx = F.max(F.col(c).cast("decimal(12,2)"))
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            mn.cast("string").alias(f"{c}__min"),
            mx.cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__ndv, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, ndv, min_val, max_val)"
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the OTHER mergeable sketch beside
# HLL: fixed-size frequency counters whose per-partition partials
# merge by plain addition, with the one-sided (never-under) error
# bound checked against exact counts.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_TOPK = 10

from ..functions.text import H32_SQL as _H32  # noqa: E402 — single-sourced idiom


def cms_grid(rows: DataFrame, key_col: str) -> DataFrame:
    """(r, bucket, cnt) Count-Min counter grid over ``rows``'
    key column — bucket = hash32("cms{r}:{key}") % CMS_WIDTH.

    One map-side explode plus a combinable count, valid on batch AND
    streaming frames: the streaming twin (streaming/incremental.py
    run_streaming_cms) folds micro-batches into this same grid, which
    is the sketch's whole point — per-batch partials merge by
    addition.  Single-sourced so the hash salt and width can never
    drift between the batch query and the streaming twin."""
    from ..functions.text import hash32

    return (
        rows.select(F.col(key_col).cast("string").alias("key"))
        .select(
            "key",
            F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias(
                "r"
            ),
        )
        .select(
            "r",
            (
                hash32(
                    F.concat(
                        F.lit("cms"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("key"),
                    )
                )
                % CMS_WIDTH
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate_topk(e: DataFrame, counters: DataFrame) -> DataFrame:
    """Exact top-``CMS_TOPK`` user_ids probed against a counter grid:
    (user_id, exact_n, cms_n, overestimate, bound_holds) — estimate =
    min over the grid's rows, the CMS never-underestimates bound
    surfaced as a checked column."""
    from ..functions.text import hash32

    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(CMS_TOPK)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias("r"),
    ).select(
        "user_id",
        "exact_n",
        "r",
        (
            hash32(
                F.concat(
                    F.lit("cms"),
                    F.col("r").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            )
            % CMS_WIDTH
        ).alias("bucket"),
    )
    return (
        F.broadcast(probes)
        .join(counters, on=["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overestimate"),
            (F.col("cms_n") >= F.col("exact_n")).alias("bound_holds"),
        )
    )


def _cms_oracle() -> str:
    key = "CAST(user_id AS VARCHAR)"
    rows = ", ".join(str(r) for r in range(CMS_DEPTH))
    bucket = _H32.format(x=f"'cms' || CAST(r AS VARCHAR) || ':' || {key}")
    return f"""
WITH hashed AS (
  SELECT user_id, r, ({bucket}) % {CMS_WIDTH} AS bucket
  FROM events CROSS JOIN (SELECT unnest([{rows}]) AS r)
),
counters AS (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events GROUP BY 1
  ORDER BY exact_n DESC, user_id LIMIT {CMS_TOPK}
),
est AS (
  SELECT e.user_id, e.exact_n, min(c.cnt) AS cms_n
  FROM exact e
  CROSS JOIN (SELECT unnest([{rows}]) AS rr)
  JOIN counters c
    ON c.r = rr
   AND c.bucket = ({_H32.format(x=f"'cms' || CAST(rr AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}) % {CMS_WIDTH}
  GROUP BY 1, 2
)
SELECT user_id, exact_n, cms_n, cms_n - exact_n AS overestimate,
       cms_n >= exact_n AS bound_holds
FROM est
"""


@query("events_heavy_hitters_cms", oracle=_cms_oracle())
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) heavy-hitter
    check: a depth-4 × width-64 counter grid over the event stream
    (buckets from the portable md5 hash, so the oracle rebuilds the
    identical sketch), queried for the exact top-10 users — estimate =
    min over the 4 rows, reported beside the exact count with the CMS
    guarantee (never underestimates) surfaced as a checked column.

    Scale shape: the sketch build is ONE map-side-combined aggregate
    into 256 counters regardless of input size — the fixed-size
    mergeable state that lets 1000 executors each fold their partition
    and combine by addition (the same persist-and-merge pattern as
    hll_mergeable_distinct, for frequencies instead of cardinality).
    The exact top-k (for the bound check) is a per-key count +
    TakeOrdered; estimation joins the 10-row top-k against the 256-row
    counter grid — both broadcast-trivial.
    """
    e = load_table(spark, sf_dir, "events")
    return cms_estimate_topk(e, cms_grid(e, "user_id"))


# ---------------------------------------------------------------------------
# Distribution drift (total variation distance) — the train/serve
# drift gate an ML pipeline runs between two populations, in exact
# integer arithmetic (TVD is linear in bucket counts, so the whole
# statistic folds exactly; PSI/chi-square need per-bucket logs or
# divisions that no cross-engine hash survives).
# ---------------------------------------------------------------------------

DRIFT_BAND_US = 86_400_000_000  # one epoch day in microseconds
DRIFT_VALUE_BAND = 50.0

_DRIFT_ORACLE = f"""
WITH bucketed AS (
  SELECT (epoch_us(ts) // {DRIFT_BAND_US}) % 2 AS parity,
         event_type,
         LEAST(CAST(floor(value / {DRIFT_VALUE_BAND}) AS INT), 9) AS band
  FROM events
),
cells AS (
  SELECT event_type, band,
         CAST(SUM(CASE WHEN parity = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_even,
         CAST(SUM(CASE WHEN parity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o_odd
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(o_even) AS BIGINT) AS n_even,
         CAST(SUM(o_odd) AS BIGINT) AS n_odd,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM cells
)
SELECT t.n_even, t.n_odd, t.n_buckets,
       CAST(SUM(abs(c.o_even * t.n_odd - c.o_odd * t.n_even)) AS BIGINT)
         AS sum_absdiff_scaled,
       CAST(SUM(abs(c.o_even * t.n_odd - c.o_odd * t.n_even)) AS DOUBLE)
         / (2.0 * t.n_even * t.n_odd) AS tvd
FROM cells c CROSS JOIN tot t
GROUP BY 1, 2, 3
"""


@query("table_drift_tvd", oracle=_DRIFT_ORACLE)
def table_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population drift between the even- and odd-day halves of the
    event stream, as exact total variation distance over
    (event_type × value-band) buckets: TVD = ½·Σ|p_even − p_odd|.
    The two populations stand in for any train-vs-serve or
    week-over-week drift pair; the statistic decides whether a model's
    input distribution moved.

    Exactness: each bucket's |o_e·n_o − o_o·n_e| is an integer (the
    common-denominator form of |p_e − p_o|), the Σ is an exact BIGINT
    fold, and the ONLY double is the final division by 2·n_e·n_o —
    bit-identical cross-engine where PSI's per-bucket ln() never is.
    Scale shape: one map-side-combined count into ≤50 cells, then a
    1-row fold — the fact is read once, nothing after scales with it.
    """
    e = load_table(spark, sf_dir, "events")
    bucketed = e.select(
        (F.expr(f"unix_micros(ts) div {DRIFT_BAND_US}") % 2).alias("parity"),
        "event_type",
        F.least(
            F.floor(F.col("value") / DRIFT_VALUE_BAND).cast("int"), F.lit(9)
        ).alias("band"),
    )
    from ..session import materialize

    # cells feeds both the 1-row totals and the per-cell diff
    cells = materialize(
        bucketed.groupBy("event_type", "band").agg(
            F.sum(F.when(F.col("parity") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("o_even"),
            F.sum(F.when(F.col("parity") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("o_odd"),
        )
    )
    tot = cells.agg(
        F.sum("o_even").cast("bigint").alias("n_even"),
        F.sum("o_odd").cast("bigint").alias("n_odd"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n_even", "n_odd", "n_buckets")
        .agg(
            F.sum(
                F.abs(
                    F.col("o_even") * F.col("n_odd")
                    - F.col("o_odd") * F.col("n_even")
                )
            )
            .cast("bigint")
            .alias("sum_absdiff_scaled")
        )
        .select(
            "n_even",
            "n_odd",
            "n_buckets",
            "sum_absdiff_scaled",
            # try_divide: a window with only one parity populated
            # (n_even or n_odd = 0 — legal on a sparse stream) must
            # yield NULL like DuckDB's x/0, not throw under ANSI
            F.try_divide(
                F.col("sum_absdiff_scaled").cast("double"),
                F.lit(2.0) * F.col("n_even") * F.col("n_odd"),
            ).alias("tvd"),
        )
    )


@query("streaming_heavy_hitters_cms", oracle=_cms_oracle())
def streaming_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_heavy_hitters_cms``: the counter
    grid accumulates micro-batch by micro-batch (complete-mode grouped
    count over the event stream) — the mergeable-sketch property under
    live ingest — and the SAME oracle verifies the incrementally-built
    grid produces bit-identical heavy-hitter estimates."""
    from ..streaming.incremental import run_streaming_cms

    return run_streaming_cms(spark, sf_dir)


# ---------------------------------------------------------------------------
# Sketch-algebra set intersection — |clickers ∩ purchasers| WITHOUT
# re-shuffling raw keys, via inclusion-exclusion over mergeable HLL
# sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B).  The audience-overlap
# primitive at 100 TB: per-segment sketches persist once, any pairwise
# overlap is then three sketch reads and two unions.
# ---------------------------------------------------------------------------

_HLL_INTER_TOL = 0.15  # IE compounds three ±5% estimates on an overlap ~half their size

_HLL_INTER_ORACLE = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
       CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
       CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT)
         AS exact_both,
       TRUE AS sketch_ok
"""


@query("hll_intersection_users", oracle=_HLL_INTER_ORACLE)
def hll_intersection_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap by sketch algebra: the clicker and purchaser
    HLL sketches are built in ONE pass (conditional sketch_agg per
    segment), the union sketch is their merge (no rescan), and the
    intersection estimate is inclusion-exclusion.  Like the other
    sketch queries, the surfaced values are the exact counts plus a
    ``sketch_ok`` flag the oracle expects TRUE — binaries aren't
    portable across engines, so the gate checks the estimate landed
    inside tolerance (IE on an overlap this size compounds to ~3σ ≈
    15%) rather than sketch bytes.

    Scale shape: one scan, two conditional sketch_aggs (map-side
    combinable — each executor folds its partition into one sketch),
    a driver-side merge of two 4 KB sketches, zero shuffles of raw
    user ids.  The exact-count twin here costs two distincts and a
    join; at 100 TB only the sketch path is run (the exact columns
    exist for the gate) and extending to k segments is k sketches +
    O(k²) pairwise merges of kilobyte blobs.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sk = e.agg(
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("sk_a"),
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sk_b"),
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).cast("bigint").alias("exact_a"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).cast("bigint").alias("exact_b"),
    )
    both = (
        e.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("ca"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("cb"),
        )
        .filter((F.col("ca") == 1) & (F.col("cb") == 1))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_both"))
    )
    est_inter = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    return (
        sk.crossJoin(F.broadcast(both))
        .select(
            "exact_a",
            "exact_b",
            "exact_both",
            (
                F.abs(est_inter - F.col("exact_both"))
                <= F.lit(_HLL_INTER_TOL) * F.col("exact_both")
            ).alias("sketch_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Robust outlier screen — median/MAD per event type, computed by
# HISTOGRAM MEDIAN: the scale shape for exact medians over a bounded
# integer domain.  Mean/stddev outlier rules break under the very
# outliers they hunt; median ± k·MAD does not.
# ---------------------------------------------------------------------------

_MAD_K = 3  # the classic 3-MAD fence

_MAD_ORACLE = """
WITH h AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, SUM(cnt) AS n FROM h GROUP BY 1),
cum AS (
  SELECT h.event_type, h.c, t.n,
         SUM(h.cnt) OVER (PARTITION BY h.event_type ORDER BY h.c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM h JOIN tot t ON t.event_type = h.event_type
),
med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN c END)
           + MIN(CASE WHEN cum >= (n + 2) // 2 THEN c END) AS m2
  FROM cum GROUP BY event_type
),
dh AS (
  SELECT h.event_type, abs(2 * h.c - m.m2) AS dev, SUM(h.cnt) AS cnt
  FROM h JOIN med m ON m.event_type = h.event_type
  GROUP BY 1, 2
),
dcum AS (
  SELECT d.event_type, d.dev, t.n,
         SUM(d.cnt) OVER (PARTITION BY d.event_type ORDER BY d.dev
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM dh d JOIN tot t ON t.event_type = d.event_type
),
mad AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev END)
           + MIN(CASE WHEN cum >= (n + 2) // 2 THEN dev END) AS mad2
  FROM dcum GROUP BY event_type
)
SELECT t.event_type,
       CAST(t.n AS BIGINT) AS n_events,
       m.m2 AS median_x2_cents,
       a.mad2 AS mad_x4_cents,
       CAST(COALESCE(SUM(CASE WHEN 2 * d.dev > {k} * a.mad2
                              THEN d.cnt END), 0) AS BIGINT) AS n_outliers
FROM tot t
JOIN med m ON m.event_type = t.event_type
JOIN mad a ON a.event_type = t.event_type
LEFT JOIN dh d ON d.event_type = t.event_type
GROUP BY 1, 2, 3, 4
""".replace("{k}", str(_MAD_K))


@query("events_value_mad_outliers", oracle=_MAD_ORACLE)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exact median, exact MAD, and the count of
    values outside the 3·MAD fence — the robust screen a metrics
    pipeline runs where mean/stddev would be poisoned by the outliers
    themselves.

    Integer-exact throughout: values pin to cents; the median is kept
    DOUBLED (sum of the two middle ranks — no /2, so even-count
    interpolation never touches a float) and the MAD quadrupled, with
    the fence 2·dev > 3·mad2 an all-BIGINT comparison.  Zero float
    ops anywhere.

    Scale shape — histogram median: the corpus collapses FIRST to a
    (type, cents) histogram (map-side-combinable; its size is bounded
    by the VALUE DOMAIN, not the corpus — ~56k cells/type here, same
    at 100 TB), so the rank-hunting windows run over bounded frames.
    The per-type window partitions are histogram cells, never raw
    events — this is how an exact median survives a type with 10^12
    rows without a corpus-sized sort.  The deviation
    pass reuses the same histogram (re-keyed, not re-scanned).
    """
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = h.groupBy("event_type").agg(F.sum("cnt").alias("n"))

    from pyspark.sql import Window as W

    def _hist_median2(hist: DataFrame, val: str) -> DataFrame:
        """(event_type, m2): doubled median of `val` weighted by cnt,
        via cumulative counts over the bounded per-type histogram."""
        w = W.partitionBy("event_type").orderBy(val).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        cum = hist.join(F.broadcast(tot), "event_type").withColumn(
            "cum", F.sum("cnt").over(w)
        )
        return (
            cum.groupBy("event_type")
            .agg(
                (
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr("(n + 1) div 2"), F.col(val)
                        )
                    )
                    + F.min(
                        F.when(
                            F.col("cum") >= F.expr("(n + 2) div 2"), F.col(val)
                        )
                    )
                ).alias("m2")
            )
        )

    med = _hist_median2(h, "c")
    dh = (
        h.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            F.abs(2 * F.col("c") - F.col("m2")).alias("dev"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _hist_median2(dh, "dev").withColumnRenamed("m2", "mad2")
    out = (
        dh.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        2 * F.col("dev") > _MAD_K * F.col("mad2"), F.col("cnt")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return (
        tot.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .join(F.broadcast(out), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("m2").alias("median_x2_cents"),
            F.col("mad2").alias("mad_x4_cents"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — do order totals follow Benford's law?
# The classic fabricated-data screen: organic multiplicative amounts
# put digit d first with probability log10(1 + 1/d); injected or
# templated values don't.  Expected shares are compile-time literals,
# so the only floats are literal constants and one final division.
# ---------------------------------------------------------------------------

# log10(1 + 1/d) as fixed literals — identical text in both engines.
_BENFORD = {
    1: "0.301029995663981",
    2: "0.176091259055681",
    3: "0.124938736608300",
    4: "0.096910013008056",
    5: "0.079181246047625",
    6: "0.066946789630613",
    7: "0.057991946977687",
    8: "0.051152522447381",
    9: "0.045757490560675",
}

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders
  WHERE CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) > 0
),
c AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(count(*)) OVER () AS BIGINT) AS total
  FROM digits GROUP BY 1
)
SELECT d, n,
       CAST(n AS DOUBLE) / total AS share,
       CAST(CASE d {_BENFORD_CASE} END AS DOUBLE) AS expected,
       abs(CAST(n AS DOUBLE) / total
           - CAST(CASE d {_BENFORD_CASE} END AS DOUBLE)) AS abs_dev
FROM c
"""


@query("orders_benford_first_digit", oracle=_BENFORD_ORACLE)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per leading digit of the order total (in cents): observed
    count, observed share, Benford-expected share, absolute
    deviation — the data-forensics screen that catches fabricated or
    template-generated amounts (which flunk the log-uniform first-
    digit law organic totals follow).

    Determinism: the digit comes from the exact cents BIGINT's string
    form (no float formatting); expected shares are literal constants
    with identical text in both engines; observed share is one double
    division and the deviation one subtraction — fixed order, no
    accumulation.  (The 1-row total via SUM OVER () / broadcast is
    the same 1-row-constant idiom as BM25's corpus stats.)

    Scale shape: a pure projection to d ∈ {1..9}, one
    map-side-combinable 9-cell count, one broadcast total.  At 100 TB
    the audit costs the scan and nothing else.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint")
    digits = o.select(cents.alias("c")).filter(F.col("c") > 0).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d")
    )
    from ..session import materialize

    # the 9-cell count feeds both the total fold and the share select —
    # checkpoint it so the orders scan runs once, not per branch
    c = materialize(
        digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = c.agg(F.sum("n").cast("bigint").alias("total"))
    expected = F.expr(f"CAST(CASE d {_BENFORD_CASE} END AS DOUBLE)")
    share = F.col("n").cast("double") / F.col("total")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            share.alias("share"),
            expected.alias("expected"),
            F.abs(share - expected).alias("abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# Arrival overdispersion — is the event stream Poisson-like, or bursty?
# The index of dispersion (variance/mean of per-hour counts) is the
# one-number answer; ≈1 is Poisson, >1 is bursty (retry storms,
# batch-replays), <1 is throttled.  Variance comes from the same
# exact sufficient statistics as the OLS fold.
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM hourly GROUP BY 1
)
SELECT event_type, n, sc AS total_events,
       CAST(n * scc - sc * sc AS DOUBLE)
         / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)
         / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) AS dispersion
FROM s
WHERE n > 1 AND sc > 0
"""


@query("events_arrival_dispersion", oracle=_DISPERSION_ORACLE)
def events_arrival_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the index of dispersion of hourly arrival
    counts (sample variance / mean) — the burstiness one-liner that
    tells a capacity planner whether arrivals are Poisson (≈1),
    bursty (>1: retry storms, replays), or throttled (<1).

    The variance numerator n·Σc² − (Σc)² is exact BIGINT (same
    sufficient-statistics fold as the OLS query); doubles appear only
    in the final fixed-order division chain, so both engines agree
    bit-for-bit.

    Scale shape: collapse to (type, hour) grain map-side, then each
    type folds to three integers.  Same two-aggregate shape as OLS —
    one exchange at hour grain, one at type grain, nothing else.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    num = (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc")).cast("double")
    mean = F.col("sc").cast("double") / F.col("n").cast("double")
    return s.filter((F.col("n") > 1) & (F.col("sc") > 0)).select(
        "event_type",
        "n",
        F.col("sc").alias("total_events"),
        (
            num / (F.col("n") - 1).cast("double") / F.col("n").cast("double")
            / mean
        ).alias("dispersion"),
    )


# ---------------------------------------------------------------------------
# Per-source quality with empirical-Bayes shrinkage — the domain-level
# filtering signal (keep/downsample whole sources) that small sources
# can't game: a 3-doc source with a lucky alpha ratio is pulled toward
# the corpus mean, while a 10k-doc source speaks for itself.
# ---------------------------------------------------------------------------

_SHRUNK_PSEUDO_CHARS = 500  # prior weight, in characters

_SHRUNK_ORACLE = f"""
WITH perdoc AS (
  SELECT source,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS BIGINT) AS a,
         CAST(length(text) AS BIGINT) AS t
  FROM documents
),
per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(t) AS BIGINT) AS st
  FROM perdoc GROUP BY 1
),
g AS (
  SELECT CAST(SUM(sa) AS BIGINT) AS ga, CAST(SUM(st) AS BIGINT) AS gt
  FROM per_source
)
SELECT s.source, s.n_docs, s.sa AS alpha_chars, s.st AS total_chars,
       CAST(s.sa AS DOUBLE) / CAST(s.st AS DOUBLE) AS raw_ratio,
       CAST(s.sa * g.gt + {_SHRUNK_PSEUDO_CHARS} * g.ga AS DOUBLE)
         / CAST((s.st + {_SHRUNK_PSEUDO_CHARS}) * g.gt AS DOUBLE)
         AS shrunk_ratio
FROM per_source s CROSS JOIN g
"""


@query("source_quality_shrunk", oracle=_SHRUNK_ORACLE)
def source_quality_shrunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: alphabetic-character ratio, raw and shrunk toward
    the corpus mean with a {pseudo}-character prior — the
    domain-level keep/downsample score used when filtering whole
    sources rather than single documents.

    Exactness: the per-source and global character sums are BIGINT;
    the shrunk ratio (Σa_s + m·A/T)/(Σt_s + m) is cleared of its
    inner fraction by multiplying through by T, so each output is ONE
    double division of two exact integer products (DECIMAL(38,0)
    widening at 100 TB, same as the BM25 idf products — the division
    stays single and deterministic).

    Scale shape: one map-side-combinable aggregate to source grain
    (the per-doc a/t are projections), one 1-row global fold
    broadcast back via cross join.  Source cardinality ≪ corpus, so
    the final frame is dimension-sized; no window, no skew-sensitive
    join anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    perdoc = d.select(
        "source",
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
        .cast("bigint")
        .alias("a"),
        F.length("text").cast("bigint").alias("t"),
    )
    per_source = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("t").cast("bigint").alias("st"),
    )
    from ..session import materialize

    # per_source feeds both the global fold and the output select —
    # checkpoint it so the regex strip over every document runs once
    per_source = materialize(per_source)
    g = per_source.agg(
        F.sum("sa").cast("bigint").alias("ga"),
        F.sum("st").cast("bigint").alias("gt"),
    )
    m = F.lit(_SHRUNK_PSEUDO_CHARS)
    return per_source.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        F.col("sa").alias("alpha_chars"),
        F.col("st").alias("total_chars"),
        (F.col("sa").cast("double") / F.col("st").cast("double")).alias(
            "raw_ratio"
        ),
        (
            (F.col("sa") * F.col("gt") + m * F.col("ga")).cast("double")
            / ((F.col("st") + m) * F.col("gt")).cast("double")
        ).alias("shrunk_ratio"),
    )


# Interpolate build-time constants into docstrings (see events.py).
source_quality_shrunk.__doc__ = source_quality_shrunk.__doc__.format(
    pseudo=_SHRUNK_PSEUDO_CHARS
)
