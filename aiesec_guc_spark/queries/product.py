"""Product-analytics operators: exact grouped median, histogram
binning, rolling 7-day actives (WAU), and cohort retention — the
engagement-metrics surface a product team runs daily on an event
warehouse.  The reference has nothing here (SURVEY.md §2.4: its only
aggregate is a count guard); these fill the family out with the same
exact-arithmetic determinism conventions as the rest of the registry.

Scale notes (100 TB): every query reduces the fact to a per-key /
per-day frame FIRST (map-side-combined distinct or aggregate), and
all later windows/joins run on that reduced frame.  The one
deliberate exception is the grouped-median window (few huge groups
per segment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query


# ---------------------------------------------------------------------------
# Exact grouped median — rank-pair average, no percentile_cont.
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
WITH ranked AS (
    SELECT c_mktsegment AS segment,
           CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
           row_number() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
           ) AS rk,
           count(*) OVER (PARTITION BY c_mktsegment) AS n
    FROM customer
)
SELECT segment,
       max(n) AS n_customers,
       CAST(SUM(bal) AS DOUBLE) / count(*) AS median_bal
FROM ranked
WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
GROUP BY segment
"""


@query("median_acctbal_by_segment", oracle=_MEDIAN_ORACLE)
def median_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median balance per market segment WITHOUT
    percentile_cont: rank each segment, keep the middle row (odd n)
    or middle pair (even n), average as exact-decimal-sum ÷ count —
    one double division, so both engines agree bit-for-bit where
    interpolation arithmetic could differ.

    Scale caveat (deliberate): the rank window partitions by segment
    — 5 huge partitions at 100 TB.  That is acceptable for this
    moderate-cardinality corpus — this query exists to pin the
    rank-pair median SEMANTICS against the oracle.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    ranked = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.filter(
            (F.col("rk") == F.expr("(n + 1) div 2"))
            | (F.col("rk") == F.expr("(n + 2) div 2"))
        )
        .groupBy("segment")
        .agg(
            F.max("n").alias("n_customers"),
            (F.sum("bal").cast("double") / F.count(F.lit(1))).alias("median_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram binning — integer-exact width_bucket over order totals.
# ---------------------------------------------------------------------------

_BIN_CENTS = 50_000 * 100  # $50k buckets, in cents

_HISTOGRAM_ORACLE = f"""
WITH cents AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
    FROM orders
)
SELECT c // {_BIN_CENTS} AS bin,
       (c // {_BIN_CENTS}) * 50000 AS bin_lo_dollars,
       count(*) AS n_orders,
       CAST(SUM(c) AS DOUBLE) / 100.0 / count(*) AS avg_price
FROM cents
GROUP BY 1
"""


@query("orders_price_histogram", oracle=_HISTOGRAM_ORACLE)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals with INTEGER-exact
    bucketing: price → exact decimal → cents (BIGINT) → integer
    division by the bucket width.  No floor() over a double ratio —
    a boundary value lands in the same bin on every engine.

    Scale: a single map-side-combined aggregate on a derived integer
    key; shuffle rows = #bins.  This is the plan shape `width_bucket`
    should produce, written with portable arithmetic.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c")
    )
    return (
        o.select(cents)
        .groupBy(F.expr(f"c div {_BIN_CENTS}").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("c").cast("double") / 100.0 / F.count(F.lit(1))).alias(
                "avg_price"
            ),
        )
        .select(
            "bin",
            (F.col("bin") * 50000).alias("bin_lo_dollars"),
            "n_orders",
            "avg_price",
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day actives (WAU per day) — spread-and-count, not a
# sliding distinct window.
# ---------------------------------------------------------------------------

_WAU_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
bounds AS (
    SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
),
spread AS (
    SELECT user_id,
           CAST(unnest(range(d, d + INTERVAL 7 DAY, INTERVAL 1 DAY)) AS DATE)
               AS target
    FROM days
)
SELECT CAST(s.target AS VARCHAR) AS day,
       count(DISTINCT s.user_id) AS wau
FROM spread s, bounds b
WHERE s.target BETWEEN b.mn AND b.mx
GROUP BY 1
"""


@query("weekly_active_users", oracle=_WAU_ORACLE)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU per day: distinct users active in the trailing 7-day
    window ending each day.

    Sliding COUNT DISTINCT has no window-function form; the
    distributed shape is spread-and-count: dedup the fact to (user,
    active-day) FIRST (map-side combine, the only fact-sized
    shuffle), then each pair fans out to the ≤7 target days it makes
    active, and a distinct count per target day finishes.  Work after
    the dedup is |users × days| × 7, independent of event volume —
    the property that survives 100 TB.  Day bounds come from a 1-row
    broadcast aggregate.
    """
    from ..operators.rolling import rolling_distinct_count

    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return rolling_distinct_count(days, "user_id", "d", 7).select(
        F.col("day").cast("string").alias("day"),
        F.col("n_distinct").alias("wau"),
    )


# ---------------------------------------------------------------------------
# Cohort retention — first-seen cohorts × day-k activity.
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
coh AS (
    SELECT user_id, min(d) AS cohort_day FROM days GROUP BY 1
)
SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
       CAST(date_diff('day', c.cohort_day, d.d) AS INT) AS day_k,
       count(*) AS n_users
FROM days d
JOIN coh c ON d.user_id = c.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_RETENTION_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day;
    for each cohort, how many were active k days later.  n_users is
    a plain count because the frame is already distinct (user, day).

    Scale: the fact reduces to distinct (user, active-day) in one
    map-side-combined pass; the cohort table is a grouped min over
    that frame; the join back is user-keyed (AQE broadcasts the
    cohort side when it fits, else both sides are already skinny).
    Everything after the first pass is |users × days|-sized.
    """
    from ..session import materialize

    e = load_table(spark, sf_dir, "events")
    # Two consumers (cohort min + activity join) — materialized so the
    # fact-sized dedup runs once (no cross-consumer plan CSE).
    days = materialize(
        e.select("user_id", F.to_date("ts").alias("d")).distinct()
    )
    coh = days.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        days.join(coh, "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("d", "cohort_day").cast("int").alias("day_k"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Array-aggregation profile — collect_set + array_sort per key.
# ---------------------------------------------------------------------------

_TYPE_PROFILE_ORACLE = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), '|')
           AS types_str,
       CAST(len(list(DISTINCT event_type)) AS INT) AS n_types
FROM events
GROUP BY user_id
"""


@query("user_event_type_profile", oracle=_TYPE_PROFILE_ORACLE)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral profile via array aggregation: the sorted
    distinct set of event types each user has produced, surfaced as a
    '|'-joined string (deterministic scalar for the cross-engine
    hash) plus its cardinality.

    collect_set is map-side-combinable (partial sets merge in the
    combiner), array_sort pins the element order both engines agree
    on, and the joined-string surface sidesteps any engine-specific
    array serialization in the comparison layer.
    """
    e = load_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return e.groupBy("user_id").agg(
        F.concat_ws("|", types).alias("types_str"),
        F.size(types).cast("int").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Stickiness (DAU / trailing-28-day MAU) — two rolling windows, one ratio.
# ---------------------------------------------------------------------------

_STICKINESS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
bounds AS (
    SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
),
dau AS (
    SELECT d AS day, count(DISTINCT user_id) AS n_dau FROM days GROUP BY 1
),
mau AS (
    SELECT CAST(unnest(range(d, d + INTERVAL 28 DAY, INTERVAL 1 DAY)) AS DATE)
               AS day,
           user_id
    FROM days
)
SELECT CAST(m.day AS VARCHAR) AS day,
       CAST(COALESCE(a.n_dau, 0) AS BIGINT) AS dau,
       count(DISTINCT m.user_id) AS mau,
       CAST(COALESCE(a.n_dau, 0) AS DOUBLE) / count(DISTINCT m.user_id)
           AS stickiness
FROM mau m
CROSS JOIN bounds b
LEFT JOIN dau a ON a.day = m.day
WHERE m.day BETWEEN b.mn AND b.mx
GROUP BY m.day, a.n_dau
"""


@query("dau_mau_stickiness", oracle=_STICKINESS_ORACLE)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness = DAU / trailing-28-day MAU per day — the composed
    form of :func:`aiesec_guc_spark.operators.rolling.
    rolling_distinct_count` at two window widths, joined on the day
    and divided ONCE (exact integers until the final double ratio).

    Scale: both windows share the same distinct (user, day) reduction
    — computed once and reused — so the fact is scanned and shuffled
    a single time; everything after is |users × days|-sized.  The
    day-keyed join of the two tiny rolling frames broadcasts.
    """
    from ..session import materialize
    from ..operators.rolling import rolling_distinct_count

    e = load_table(spark, sf_dir, "events")
    # Materialized: both rolling widths (and their bounds aggregates)
    # read this frame — without it Catalyst re-plans the events scan +
    # dedup once per consumer (verified: 8 parquet scans, zero
    # ReusedExchange), and the fact would be read 4x at 100 TB.
    days = materialize(
        e.select("user_id", F.to_date("ts").alias("d")).distinct()
    )
    dau = rolling_distinct_count(days, "user_id", "d", 1).select(
        F.col("day"), F.col("n_distinct").alias("dau")
    )
    mau = rolling_distinct_count(days, "user_id", "d", 28).select(
        F.col("day"), F.col("n_distinct").alias("mau")
    )
    return (
        mau.join(dau, "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            "mau",
            (
                F.coalesce(F.col("dau"), F.lit(0)).cast("double") / F.col("mau")
            ).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# User-LTV deciles — the exact-ntile operator over a DERIVED frame.
# ---------------------------------------------------------------------------

_LTV_DECILES_ORACLE = """
WITH ltv AS (
    SELECT user_id,
           SUM(CAST(value AS DECIMAL(18,2))) AS total_value
    FROM events GROUP BY user_id
),
t AS (
    SELECT user_id, total_value,
           ntile(10) OVER (ORDER BY total_value, user_id) AS decile
    FROM ltv
)
SELECT CAST(decile AS INT) AS decile,
       count(*) AS n_users,
       CAST(min(total_value) AS DOUBLE) AS min_ltv,
       CAST(max(total_value) AS DOUBLE) AS max_ltv,
       CAST(SUM(total_value) AS DOUBLE) AS total_ltv
FROM t GROUP BY decile
"""


@query("user_ltv_deciles", oracle=_LTV_DECILES_ORACLE)
def user_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifetime-value deciles: per-user exact-decimal value sums
    bucketed by :func:`aiesec_guc_spark.operators.quantiles.
    exact_ntile` — equal-frequency bucketing over a DERIVED frame
    (the same operator as the customer-balance deciles).

    Scale: one map-side-combined per-user aggregate reads the fact;
    the ntile runs over the #users-sized frame in one window.
    """
    from ..operators.quantiles import exact_ntile

    e = load_table(spark, sf_dir, "events")
    ltv = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value")
    )
    return (
        exact_ntile(ltv, ["total_value", "user_id"], 10)
        .groupBy(F.col("bucket").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("total_value").cast("double").alias("min_ltv"),
            F.max("total_value").cast("double").alias("max_ltv"),
            F.sum("total_value").cast("double").alias("total_ltv"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket pair affinity — support + lift over co-ordered brands.
# ---------------------------------------------------------------------------

_BASKET_TOPK = 20


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(okey, bs): each order's SORTED distinct-brand array — the
    shared first stage of the basket family (pair lift, triangles,
    PageRank).

    ONE fact-sized shuffle total: the part dim broadcasts into the
    lineitem scan, and ``collect_set`` groups by orderkey with
    map-side partial sets (each partial is ≤ #brands entries).  The
    earlier shape — DISTINCT (order, brand) then an orderkey
    self-join — paid a second fact-sized shuffle for the join;
    enumerating pairs from the basket array is pure map-side work on
    top of this single exchange.  (At sf0.1 wall-clock is flat —
    local-mode stage overhead dominates these tiny frames — but the
    eliminated shuffle is the one that grows with the fact at 100 TB.)
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
    )


def _baskets_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The basket frame, built ONCE per query: every basket-family
    query consumes it from 2-3 plan branches (pair counts + marginals
    + order total, or edge build + order total), and Catalyst does no
    cross-branch CSE — without the cut each branch re-runs the fact
    scan + basket shuffle.  At 100 TB this is "materialize the basket table", the
    layout every market-basket pipeline uses anyway.  The pure builder
    stays separate so the single-fact-exchange plan assertion
    (tests/test_plans.py) can inspect the un-truncated plan."""
    from ..session import materialize

    return materialize(_brand_baskets(spark, sf_dir))


def _brand_pair_counts(baskets: DataFrame) -> DataFrame:
    """(brand_a < brand_b, n_ab) co-occurrence counts.

    The ordered pairs of each basket are enumerated MAP-SIDE by an
    indexed transform over the sorted array (x paired with every
    later element) — ≤ |basket|² structs per order, no join — and the
    two-phase count shuffles only the ≤ brands² key space.
    """
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) -> "
                "transform(slice(bs, i + 2, size(bs)), "
                "y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("pr")
    ).select("pr.brand_a", "pr.brand_b")
    return pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )


def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) brand pairs in >= 2% of orders — the graph-edge build
    shared by the triangle and PageRank queries.  Integer-exact
    threshold; the 1-row order total broadcasts.

    MATERIALIZED before return: both downstream queries consume the edge
    frame from several plan branches (two-path joins + degree /
    per-iteration rank joins), and Catalyst does no cross-branch CSE
    — without the cut, each branch re-runs the whole fact scan +
    basket shuffle (measured sf0.1: pagerank cold 10.5 s → 3.6 s).
    The frame is ≤ brands² rows, so the checkpoint is pennies.  The
    basket input comes through _baskets_shared for the same reason
    (two consumers here: order total + pair counts).
    """
    from ..session import materialize

    baskets = _baskets_shared(spark, sf_dir)
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    return materialize(
        _brand_pair_counts(baskets)
        .crossJoin(F.broadcast(tot))
        .filter(F.lit(100) * F.col("n_ab") >= F.lit(2) * F.col("n_orders"))
        .select(F.col("brand_a").alias("a"), F.col("brand_b").alias("b"))
    )


_BASKET_ORACLE = f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
cnt AS (SELECT brand, count(*) AS n FROM ob GROUP BY brand),
pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
    FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab, n_a, n_b,
       CAST(n_ab * n_orders AS DOUBLE) / (n_a * n_b) AS lift
FROM (
    SELECT p.brand_a, p.brand_b, p.n_ab,
           ca.n AS n_a, cb.n AS n_b, t.n_orders,
           row_number() OVER (
               ORDER BY p.n_ab DESC, p.brand_a, p.brand_b
           ) AS rk
    FROM pairs p
    JOIN cnt ca ON ca.brand = p.brand_a
    JOIN cnt cb ON cb.brand = p.brand_b
    CROSS JOIN tot t
)
WHERE rk <= {_BASKET_TOPK}
"""


@query("basket_pair_lift", oracle=_BASKET_ORACLE)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: brand pairs co-occurring in an order,
    with support counts and lift = P(a,b)/(P(a)·P(b)) — the
    co-occurrence statistic behind recommenders ("bought together").

    Scale shape (100 TB): one fact-sized shuffle builds the sorted
    basket arrays (_brand_baskets); ordered pairs explode MAP-SIDE
    from the arrays (≤ |basket|² per order) and two-phase-count on
    the ≤ brands² key space.  Brand marginals (≤ #brands rows) and
    the 1-row order total broadcast into the scoring join.  Lift is
    exact-integer products (n_ab·N and n_a·n_b both fit BIGINT
    comfortably below ~3e9 orders) with ONE double division; top-k
    ties break on the pair itself.  The part dimension broadcasts
    into the fact scan.
    """
    baskets = _baskets_shared(spark, sf_dir)
    n_ab = _brand_pair_counts(baskets)
    cnt = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    scored = (
        n_ab.join(
            F.broadcast(cnt.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))),
            on="brand_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))),
            on="brand_b",
        )
        .crossJoin(F.broadcast(tot))
    )
    w = Window.orderBy(F.desc("n_ab"), F.asc("brand_a"), F.asc("brand_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BASKET_TOPK)
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b",
            ((F.col("n_ab") * F.col("n_orders")).cast("double") / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting — graph-structure statistics over the co-purchase
# brand graph (edges = pairs with >= 2% order support).
# ---------------------------------------------------------------------------

_TRI_ORACLE = """
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
edges AS (
    SELECT a.brand AS a, b.brand AS b
    FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    CROSS JOIN tot t
    GROUP BY a.brand, b.brand, t.n_orders
    HAVING 100 * count(*) >= 2 * t.n_orders
),
tris AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
    SELECT a AS brand FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
),
deg AS (
    SELECT brand, count(*) AS degree FROM (
        SELECT a AS brand FROM edges UNION ALL SELECT b FROM edges
    ) GROUP BY brand
)
SELECT d.brand, d.degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles
FROM deg d
LEFT JOIN (SELECT brand, count(*) AS n_tri FROM pernode GROUP BY brand) t
  ON t.brand = d.brand
"""


@query("basket_brand_triangles", oracle=_TRI_ORACLE)
def basket_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase brand graph
    (edges = brand pairs in >= 2% of orders) — the local clustering
    signal community-detection and spam-graph pipelines start from.

    Enumeration uses the ordered orientation a < b < c: each triangle
    is produced exactly once by joining two ordered two-paths and
    checking the closing edge.  Scale shape: the expensive part is
    building the EDGE list, which is the shared basket machinery
    (_brand_baskets: ONE fact shuffle, map-side pair explode,
    integer-exact 2% support threshold); the triangle joins run on
    the post-aggregation edge frame, tiny here and broadcast by AQE.
    On graphs where edges don't collapse this far, the same
    ordered-join plan holds with degree-based orientation (orient
    each edge low-degree → high-degree) bounding the two-path
    fan-out — the standard distributed triangle recipe.
    """
    edges = _support_edges(spark, sf_dir)
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        e1.join(e2, on="b")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    pernode = (
        tris.select(F.col("a").alias("brand"))
        .unionAll(tris.select(F.col("b").alias("brand")))
        .unionAll(tris.select(F.col("c").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.col("a").alias("brand"))
        .unionAll(edges.select(F.col("b").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(pernode, on="brand", how="left").select(
        "brand",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
    )


@query("basket_brand_triangles_degree", oracle=_TRI_ORACLE)
def basket_brand_triangles_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts via DEGREE orientation
    (operators/graph.triangle_counts_degree_oriented) — identical
    output to ``basket_brand_triangles`` (same oracle), different
    physical recipe: edges orient low→high (degree, id), every
    triangle is counted at its unique minimum pivot, and a node's
    wedge fan-out is bounded by its OUT-degree ≤ O(sqrt(m)) instead
    of its full degree.  On this support-thresholded brand graph both
    shapes are tiny; on a power-law graph that doesn't collapse, the
    ordered-by-id plan melts at the hubs and THIS is the 100 TB shape
    (property-tested against the ordered plan on a skewed synthetic
    graph in tests/test_plans.py)."""
    from ..operators.graph import triangle_counts_degree_oriented

    edges = _support_edges(spark, sf_dir)
    tri = triangle_counts_degree_oriented(edges, "a", "b").withColumnRenamed(
        "node", "brand"
    )
    deg = (
        edges.select(F.col("a").alias("brand"))
        .unionAll(edges.select(F.col("b").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(tri, on="brand", how="left").select(
        "brand",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# PageRank in exact integer arithmetic — 2 unrolled power iterations
# over the co-purchase brand graph.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12  # fixed-point: 1.0 == 10^12

_PAGERANK_ORACLE = f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
und AS (
    SELECT a.brand AS a, b.brand AS b
    FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    CROSS JOIN tot t
    GROUP BY a.brand, b.brand, t.n_orders
    HAVING 100 * count(*) >= 2 * t.n_orders
),
edges AS (
    SELECT a AS src, b AS dst FROM und
    UNION ALL
    SELECT b AS src, a AS dst FROM und
),
deg AS (SELECT src AS brand, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT brand, d, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg),
c1 AS (
    SELECT e.dst AS brand, SUM(r0.r // r0.d) AS contrib
    FROM edges e JOIN r0 ON r0.brand = e.src GROUP BY e.dst
),
r1 AS (
    SELECT r0.brand, r0.d,
           (85 * COALESCE(c1.contrib, 0)) // 100
         + (15 * {_PR_SCALE}) // 100 AS r
    FROM r0 LEFT JOIN c1 ON c1.brand = r0.brand
),
c2 AS (
    SELECT e.dst AS brand, SUM(r1.r // r1.d) AS contrib
    FROM edges e JOIN r1 ON r1.brand = e.src GROUP BY e.dst
),
r2 AS (
    SELECT r1.brand, r1.d,
           (85 * COALESCE(c2.contrib, 0)) // 100
         + (15 * {_PR_SCALE}) // 100 AS r
    FROM r1 LEFT JOIN c2 ON c2.brand = r1.brand
)
SELECT r2.brand, r2.d AS degree,
       CAST(r1.r AS BIGINT) AS rank_iter1, CAST(r2.r AS BIGINT) AS rank_iter2
FROM r2 JOIN r1 ON r1.brand = r2.brand
"""


@query("brand_pagerank", oracle=_PAGERANK_ORACLE)
def brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, two power iterations) over the
    co-purchase brand graph, in FIXED-POINT INTEGER arithmetic: ranks
    are BIGINTs scaled by 10^12, contributions are floor-divided by
    degree, and the damping mix is integer 85/100 + 15/100 — so both
    engines produce bit-identical ranks where a double implementation
    would drift with summation order.

    Scale shape: each iteration is the canonical distributed PageRank
    step — join ranks to edges on src (rank frame keyed by node,
    edges pre-partitioned by src reuse the exchange across
    iterations), grouped integer sum on dst with map-side combine.
    Two iterations are unrolled declaratively (Catalyst sees one
    plan); a convergence-driven variant would loop with
    checkpointing every few rounds exactly like operators/graph.py's
    connected components.  The edge build reuses the shared
    2%-support basket graph (_support_edges — one fact shuffle).
    """
    und = _support_edges(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("brand")).agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.withColumn("r", F.lit(_PR_SCALE).cast("long"))

    def step(r: DataFrame) -> DataFrame:
        contrib = (
            edges.join(r.withColumnRenamed("brand", "src"), on="src")
            .groupBy(F.col("dst").alias("brand"))
            .agg(F.sum(F.expr("r div d")).alias("contrib"))
        )
        return (
            r.select("brand", "d")
            .join(contrib, on="brand", how="left")
            .select(
                "brand",
                "d",
                (
                    F.expr(f"(85 * coalesce(contrib, 0)) div 100")
                    + F.lit(15 * _PR_SCALE // 100)
                ).alias("r"),
            )
        )

    r1 = step(ranks)
    r2 = step(r1)
    return (
        r2.select("brand", F.col("d").alias("degree"), F.col("r").alias("rank_iter2"))
        .join(r1.select("brand", F.col("r").alias("rank_iter1")), on="brand")
        .select("brand", "degree", "rank_iter1", "rank_iter2")
    )


# ---------------------------------------------------------------------------
# Funnel conversion latency — exact median / p90 time from first
# click to the first purchase after it.
# ---------------------------------------------------------------------------

_FUNNEL_LAT_ORACLE = """
WITH first_click AS (
    SELECT user_id, min(ts) AS c_ts
    FROM events WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
    SELECT f.user_id,
           epoch_us(min(e.ts)) - epoch_us(f.c_ts) AS latency_us
    FROM first_click f
    JOIN events e
      ON e.user_id = f.user_id
     AND e.event_type = 'purchase'
     AND e.ts >= f.c_ts
    GROUP BY f.user_id, f.c_ts
),
ranked AS (
    SELECT latency_us,
           row_number() OVER (ORDER BY latency_us, user_id) AS rk,
           count(*) OVER () AS n
    FROM conv
)
SELECT max(n) AS n_converted,
       CAST(SUM(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2)
                     THEN latency_us END) AS DOUBLE)
         / count(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2)
                      THEN 1 END) AS median_latency_us,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN latency_us END)
            AS BIGINT) AS p90_latency_us
FROM ranked
"""


@query("funnel_conversion_latency", oracle=_FUNNEL_LAT_ORACLE)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the latency from the
    FIRST click to the FIRST purchase at-or-after it, summarized as
    exact median (rank-pair, no interpolation) and exact p90 (rank
    ceil(0.9·n) via integer (9n+9)//10) — the funnel-health numbers
    a growth team watches, with percentiles that reproduce
    bit-for-bit cross-engine.

    Scale shape: the fact collapses to the per-user first-click frame
    (conditional min, map-side combined, one shuffle), purchases
    join it user-keyed with the >= residual inside the probe, and a
    second grouped min lands the per-user latency.  The global rank
    over the #converted-users frame comes from the exact rank
    (operators/quantiles.py), and the frame's total count lands as a
    literal instead of a count-over-all-rows window.  Latencies are
    exact integer microseconds.
    """
    e = load_table(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    conv = (
        purchases.join(first_click, on="user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id", "c_ts")
        .agg(
            (F.unix_micros(F.min("ts")) - F.unix_micros(F.col("c_ts").cast("timestamp"))).alias("latency_us")
        )
    )
    from ..operators.quantiles import exact_global_rank

    ranked, n, _ = exact_global_rank(
        conv.select("latency_us", "user_id"), ["latency_us", "user_id"]
    )
    rk = F.col("_grank")
    mid = (rk == F.lit((n + 1) // 2)) | (rk == F.lit((n + 2) // 2))
    return ranked.agg(
        F.max(F.lit(n)).cast("long").alias("n_converted"),
        (
            F.sum(F.when(mid, F.col("latency_us"))).cast("double")
            / F.count(F.when(mid, F.lit(1)))
        ).alias("median_latency_us"),
        F.max(
            F.when(rk == F.lit((9 * n + 9) // 10), F.col("latency_us"))
        ).alias("p90_latency_us"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration — the Pareto (80/20) curve in exact integers.
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH percust AS (
    SELECT o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, rev,
           row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
           SUM(rev) OVER (
               ORDER BY rev DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum_rev,
           SUM(rev) OVER () AS total_rev,
           count(*) OVER () AS n_cust
    FROM percust
)
SELECT CAST(p AS BIGINT) AS pct_revenue,
       CAST(min(rk) AS BIGINT) AS n_customers,
       CAST(max(n_cust) AS BIGINT) AS n_customers_total,
       CAST(CAST(min(rk) * 10000 // max(n_cust) AS BIGINT) AS DOUBLE) / 100
           AS pct_customers
FROM ranked
CROSS JOIN (SELECT unnest([50, 80, 90, 99]) AS p)
WHERE 100 * cum_rev >= p * total_rev
GROUP BY p
"""


@query("pareto_revenue_concentration", oracle=_PARETO_ORACLE)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the minimum number of top customers
    covering 50/80/90/99% of total revenue — the Pareto curve behind
    "how concentrated is our business?" (and, for a training corpus,
    "how few sources dominate the tokens?").

    The threshold test is exact: 100·cum_rev >= p·total_rev in
    DECIMAL, so no floating cumulative sum decides a boundary
    customer; the reported customer-percentage does its one division
    after integer basis-point truncation.  Scale shape: the fact
    collapses to per-customer exact-decimal revenue first; the global
    rank AND exact running sum over the #customers frame come from
    the exact rank (operators/quantiles.py), and the grand totals
    land as literals; the four thresholds fan out from
    ONE ranked frame via a literal spine, grouped min per threshold.
    """
    from ..operators.quantiles import exact_global_rank

    o = load_table(spark, sf_dir, "orders")
    percust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev")
    )
    ranked, n_cust, total_rev = exact_global_rank(
        percust, [F.desc("rev"), F.asc("o_custkey")], sum_col="rev"
    )
    spine = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (50, 80, 90, 99)])).alias("p")
    )
    return (
        ranked.crossJoin(F.broadcast(spine))
        .filter(
            F.lit(100) * F.col("_gcumsum")
            >= F.col("p") * F.lit(total_rev).cast("decimal(34,2)")
        )
        .groupBy("p")
        .agg(
            F.min("_grank").alias("n_customers"),
            F.max(F.lit(n_cust)).cast("long").alias("n_customers_total"),
            (
                F.expr(f"min(_grank) * 10000 div {n_cust}").cast("double") / 100
            ).alias("pct_customers"),
        )
        .select(
            F.col("p").cast("long").alias("pct_revenue"),
            "n_customers",
            "n_customers_total",
            "pct_customers",
        )
    )


# ---------------------------------------------------------------------------
# Exact percentile bands per group — p50/p90/p99 picked by integer
# rank, one ranked frame fanned out to all percentiles.
# ---------------------------------------------------------------------------

_BANDS = (50, 90, 99)

_BANDS_ORACLE = f"""
WITH ranked AS (
    SELECT event_type,
           value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       CAST(p AS INT) AS pct,
       max(n) AS n_rows,
       max(value) AS band_value
FROM ranked
CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _BANDS)}]) AS p)
WHERE rk = (p * n + 99) // 100
GROUP BY event_type, p
"""


@query("value_percentile_bands", oracle=_BANDS_ORACLE)
def value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per event type — the latency-
    band style summary, computed by INTEGER rank selection (rank
    ceil(p·n/100) via (p·n+99)//100) rather than percentile_cont,
    so both engines pick the identical row; ties pinned by event_id.

    Scale shape: ONE rank window per type feeds every percentile —
    the literal band spine cross-joins (broadcast, 3 rows) and each
    band selects its row by rank equality, grouped max to collapse.
    Few-huge-group caveat as median_acctbal_by_segment: one
    per-type sort owns a whole group.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    spine = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _BANDS])).alias("p")
    )
    return (
        ranked.crossJoin(F.broadcast(spine))
        .filter(F.col("rk") == F.expr("(p * n + 99) div 100"))
        .groupBy("event_type", F.col("p").cast("int").alias("pct"))
        .agg(
            F.max("n").alias("n_rows"),
            F.max("value").alias("band_value"),
        )
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue — exact rank-sum formula.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH percust AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT rev,
           row_number() OVER (ORDER BY rev, o_custkey) AS i,
           count(*) OVER () AS n,
           SUM(rev) OVER () AS s
    FROM percust
)
SELECT max(n) AS n_customers,
       CAST(max(s) AS DOUBLE) AS total_revenue,
       CAST(2 * SUM(i * rev) AS DOUBLE) / (max(n) * CAST(max(s) AS DOUBLE))
         - CAST(max(n) + 1 AS DOUBLE) / max(n) AS gini
FROM ranked
"""


@query("revenue_gini", oracle=_GINI_ORACLE)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality
    scalar beside the Pareto curve (pareto_revenue_concentration),
    via the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-ranked values.  Σ(i·xᵢ) is an EXACT decimal sum
    (rank·decimal), so the only doubles are the two final divisions —
    deterministic cross-engine; rank ties pin on custkey.

    Scale shape: per-customer exact revenue first (one fact shuffle);
    the global rank comes from the exact rank
    (operators/quantiles.py), and n / Σx land as driver literals;
    ONE final 1-row fold computes the exact rank-sum.
    """
    from ..operators.quantiles import exact_global_rank

    o = load_table(spark, sf_dir, "orders")
    percust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev")
    )
    ranked, n, s = exact_global_rank(percust, ["rev", "o_custkey"])
    if n == 0:
        # Empty corpus (a legitimately empty daily partition): n is a
        # driver literal, so the (n+1)/n term would constant-fold to a
        # DIVIDE_BY_ZERO at PLAN time under ANSI mode.  Emit the same
        # one-row-of-NULLs shape DuckDB's aggregate-over-empty returns.
        return ranked.agg(
            F.max(F.lit(None).cast("long")).alias("n_customers"),
            F.max(F.lit(None).cast("double")).alias("total_revenue"),
            F.max(F.lit(None).cast("double")).alias("gini"),
        )
    total = F.sum("rev")
    return ranked.agg(
        F.max(F.lit(n)).cast("long").alias("n_customers"),
        total.cast("double").alias("total_revenue"),
        (
            (F.lit(2) * F.sum(F.col("_grank") * F.col("rev"))).cast("double")
            / (F.lit(n) * total.cast("double"))
            - F.lit(n + 1).cast("double") / F.lit(n)
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Repurchase cadence — exact median days between consecutive
# purchases, per-user lag + global rank-pair composition.
# ---------------------------------------------------------------------------

_REPURCHASE_ORACLE = """
WITH p AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_ts
    FROM events WHERE event_type = 'purchase'
),
gaps AS (
    SELECT user_id, event_id,
           epoch_us(ts) - epoch_us(prev_ts) AS gap_us
    FROM p WHERE prev_ts IS NOT NULL
),
ranked AS (
    SELECT gap_us,
           row_number() OVER (ORDER BY gap_us, user_id, event_id) AS rk,
           count(*) OVER () AS n
    FROM gaps
)
SELECT max(n) AS n_gaps,
       CAST(SUM(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2)
                     THEN gap_us END) AS DOUBLE)
         / count(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2)
                      THEN 1 END) AS median_gap_us,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM ranked
"""


@query("repurchase_interval_median", oracle=_REPURCHASE_ORACLE)
def repurchase_interval_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase cadence: the exact median (rank-pair), min, and max
    of the gap between a user's consecutive purchases — the
    replenishment-cycle number a retention model calibrates against.

    Composition: per-user lag (ONE user-keyed sort shared with the
    session family's windows) → integer-µs gaps → global rank-pair
    median over the #gaps frame (tie-pinned by user_id, event_id) via
    the exact rank (operators/quantiles.py), #gaps embedded as a
    literal.  All extremes integer-exact; the
    median's single division is the only double.
    """
    from ..operators.quantiles import exact_global_rank

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    ).filter(F.col("prev_us").isNotNull())
    gaps = p.select(
        "user_id", "event_id", (F.col("us") - F.col("prev_us")).alias("gap_us")
    )
    ranked, n, _ = exact_global_rank(gaps, ["gap_us", "user_id", "event_id"])
    rk = F.col("_grank")
    mid = (rk == F.lit((n + 1) // 2)) | (rk == F.lit((n + 2) // 2))
    return ranked.agg(
        F.max(F.lit(n)).cast("long").alias("n_gaps"),
        (
            F.sum(F.when(mid, F.col("gap_us"))).cast("double")
            / F.count(F.when(mid, F.lit(1)))
        ).alias("median_gap_us"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# Conversion-latency CDF — share converting within fixed thresholds.
# ---------------------------------------------------------------------------

_CDF_THRESHOLDS_US = (
    60 * 1_000_000,          # 1 minute
    300 * 1_000_000,         # 5 minutes
    3_600 * 1_000_000,       # 1 hour
    86_400 * 1_000_000,      # 1 day
)

_CDF_ORACLE = f"""
WITH first_click AS (
    SELECT user_id, min(ts) AS c_ts
    FROM events WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
    SELECT f.user_id,
           epoch_us(min(e.ts)) - epoch_us(f.c_ts) AS latency_us
    FROM first_click f
    JOIN events e
      ON e.user_id = f.user_id
     AND e.event_type = 'purchase'
     AND e.ts >= f.c_ts
    GROUP BY f.user_id, f.c_ts
)
SELECT CAST(t AS BIGINT) AS threshold_us,
       count(*) AS n_converted,
       CAST(SUM(CASE WHEN latency_us <= t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_within,
       CAST(SUM(CASE WHEN latency_us <= t THEN 1 ELSE 0 END) * 10000
            // count(*) AS DOUBLE) / 100 AS pct_within
FROM conv
CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _CDF_THRESHOLDS_US)}]) AS t)
GROUP BY t
"""


@query("conversion_latency_cdf", oracle=_CDF_ORACLE)
def conversion_latency_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative view beside funnel_conversion_latency's
    median/p90: what share of conversions complete within 1 min /
    5 min / 1 h / 1 d of the first click — the SLA-style thresholds a
    dashboard alert keys on.  Same per-user conditional-min frames;
    the 4-row threshold spine broadcasts and each threshold's count
    is a conditional sum over ONE pass of the tiny #converted frame;
    shares are basis-point integer truncation.
    """
    e = load_table(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(first_click, on="user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id", "c_ts")
        .agg(
            (
                F.unix_micros(F.min("ts"))
                - F.unix_micros(F.col("c_ts").cast("timestamp"))
            ).alias("latency_us")
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in _CDF_THRESHOLDS_US])
        ).alias("t")
    )
    return (
        conv.crossJoin(F.broadcast(spine))
        .groupBy(F.col("t").alias("threshold_us"))
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.sum(F.when(F.col("latency_us") <= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_within"),
            (
                F.expr(
                    "sum(CASE WHEN latency_us <= t THEN 1 ELSE 0 END)"
                    " * 10000 div count(1)"
                ).cast("double")
                / 100
            ).alias("pct_within"),
        )
    )


# ---------------------------------------------------------------------------
# Trimmed mean — robust location estimate with integer-exact trim
# bounds (complements the median/MAD family).
# ---------------------------------------------------------------------------

_TRIM_PCT = 5

_TRIMMED_ORACLE = f"""
WITH ranked AS (
    SELECT event_type,
           CAST(value AS DECIMAL(18,2)) AS v,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       max(n) AS n_rows,
       CAST(n * {_TRIM_PCT} // 100 AS BIGINT) AS n_trimmed_each_side,
       CAST(SUM(CASE WHEN rk > n * {_TRIM_PCT} // 100
                      AND rk <= n - n * {_TRIM_PCT} // 100
                     THEN v END) AS DOUBLE)
         / SUM(CASE WHEN rk > n * {_TRIM_PCT} // 100
                     AND rk <= n - n * {_TRIM_PCT} // 100
                    THEN 1 ELSE 0 END) AS trimmed_mean
FROM ranked
GROUP BY event_type, n * {_TRIM_PCT} // 100
"""


@query("trimmed_mean_value", oracle=_TRIMMED_ORACLE)
def trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of event value per type: drop the lowest and
    highest floor(5%·n) ranked rows, exact-decimal-sum ÷ count the
    middle — the robust location estimate between the raw mean
    (outlier-hostage) and the median (throws information away), with
    INTEGER trim bounds (n·5//100) so both engines trim identical
    rows; rank ties pin on event_id.

    Scale: one rank window per type over the fact (few-huge-group
    caveat as elsewhere);
    the trimmed aggregation is conditional sums on the same pass, and
    the single division is the only double.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.expr(f"n * {_TRIM_PCT} div 100")
    keep = (F.col("rk") > lo) & (F.col("rk") <= F.col("n") - lo)
    return (
        ranked.groupBy("event_type", lo.alias("n_trimmed_each_side"))
        .agg(
            F.max("n").alias("n_rows"),
            (
                F.sum(F.when(keep, F.col("v"))).cast("double")
                / F.sum(F.when(keep, 1).otherwise(0))
            ).alias("trimmed_mean"),
        )
        .select(
            "event_type",
            "n_rows",
            F.col("n_trimmed_each_side").cast("bigint").alias("n_trimmed_each_side"),
            "trimmed_mean",
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quintiles per
# purchasing user, the classic CRM partitioning of a customer base.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH p AS (
  SELECT user_id,
         max(epoch_us(ts)) AS last_us,
         count(*) AS n_purchases,
         SUM(CAST(value AS DECIMAL(18,2))) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
scored AS (
  SELECT user_id, last_us, n_purchases, monetary,
         ntile(5) OVER (ORDER BY last_us DESC, user_id)    AS r_score,
         ntile(5) OVER (ORDER BY n_purchases DESC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, user_id)    AS m_score
  FROM p
)
SELECT user_id,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment,
       CAST(n_purchases AS BIGINT) AS n_purchases,
       CAST(monetary AS DOUBLE) AS monetary
FROM scored
"""


@query("user_rfm_segments", oracle=_RFM_ORACLE)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each purchasing user scored 1-5 on Recency
    (1 = most recent), Frequency, and Monetary (exact-decimal spend),
    concatenated into the classic 125-cell segment code.

    Scale shape: ONE pass over the fact reduces to a per-user triple
    (max ts / count / decimal sum — map-side combined); the three
    quintile assignments run on the REDUCED frame through
    exact_ntile (the oracle's bare ``ntile OVER (ORDER BY ...)``
    semantics).  Descending metrics enter as negated sort keys, which
    is what keeps exact_ntile's strict-ascending contract while
    matching the oracle's DESC ordering exactly.
    """
    from ..operators.quantiles import exact_ntile

    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    from ..session import materialize

    p = materialize(p)  # feeds three ntile passes + the final join

    def quintile(metric_neg, name):
        t = p.select(
            "user_id", metric_neg.alias("_neg")
        )
        return (
            exact_ntile(t, ["_neg", "user_id"], 5)
            .select("user_id", F.col("bucket").cast("int").alias(name))
        )

    r = quintile(-F.col("last_us"), "r_score")
    f = quintile(-F.col("n_purchases"), "f_score")
    m = quintile(-F.col("monetary"), "m_score")
    return (
        p.join(r, "user_id").join(f, "user_id").join(m, "user_id")
        .select(
            "user_id",
            "r_score",
            "f_score",
            "m_score",
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment"),
            F.col("n_purchases").cast("bigint"),
            F.col("monetary").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — customers not dominated on the
# (order count, account balance) plane.  The classic multi-objective
# "best tradeoff" set: a customer is ON the frontier iff no other
# customer is >= on both axes and > on at least one.
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT c.c_custkey,
         CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders,
         c.c_acctbal AS acctbal
  FROM customer c
  LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) cnt
    ON cnt.o_custkey = c.c_custkey
)
SELECT p.c_custkey, p.n_orders, p.acctbal
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.n_orders >= p.n_orders AND q.acctbal >= p.acctbal
    AND (q.n_orders > p.n_orders OR q.acctbal > p.acctbal)
)
"""


@query("pareto_frontier_customers", oracle=_SKYLINE_ORACLE)
def pareto_frontier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D skyline: customers where no other customer has both
    more orders and a higher balance (ties: strict dominance only, so
    coincident points survive together).

    The oracle states dominance as the O(n²) NOT EXISTS; the Spark
    plan is the O(n log n) sweep — dominated(p) ⇔
    ``max{y : x > x_p} ≥ y_p  OR  max{y : x = x_p} > y_p`` — built
    from a per-x grouped max (one map-side-combinable shuffle) and an
    EXCLUSIVE global prefix max over the distinct-x frame in
    x-descending order, via ``exact_global_cummax``
    (operators/quantiles.py), one window over the distinct-x frame.
    The comparisons are pure (no arithmetic on the double
    column), so the frontier is engine-exact.
    """
    from ..operators.quantiles import exact_global_cummax

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    pts = (
        c.join(cnt, c.c_custkey == cnt.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    gx = pts.groupBy("n_orders").agg(F.max("acctbal").alias("gy"))
    swept = exact_global_cummax(gx, [F.desc("n_orders")], "gy").select(
        F.col("n_orders").alias("_x"), "gy", "_gcummax_excl"
    )
    return (
        # no forced broadcast: the swept frame is |distinct x| rows —
        # tiny here, but a corpus-sized x-domain must stay joinable
        # (AQE broadcasts it at runtime whenever it actually is small)
        pts.join(swept, pts.n_orders == F.col("_x"))
        .filter(
            ~(
                (
                    F.col("_gcummax_excl").isNotNull()
                    & (F.col("_gcummax_excl") >= F.col("acctbal"))
                )
                | (F.col("gy") > F.col("acctbal"))
            )
        )
        .select("c_custkey", "n_orders", "acctbal")
    )


# ---------------------------------------------------------------------------
# Behavioral diversity (Gini–Simpson) per user — how spread is each
# user's activity across event types?  The engagement-breadth signal
# (bots hammer one type → diversity ~0; organic users mix) computed
# WITHOUT logs: 1 − Σp² is a ratio of exact integers, so unlike a
# Shannon-entropy fold it hash-matches across engines bit-for-bit.
# ---------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
WITH bytype AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM bytype GROUP BY 1
)
SELECT user_id, n_events, n_types,
       CAST(n_events * n_events - sum_sq AS DOUBLE)
         / CAST(n_events * n_events AS DOUBLE) AS diversity
FROM s
"""


@query("user_behavior_diversity", oracle=_DIVERSITY_ORACLE)
def user_behavior_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: (n_events, n_types, Gini–Simpson diversity 1 − Σp²)
    over event types — the behavioral-breadth score that separates
    single-action bots (≈0) from organic mixed activity (→ 1 − 1/k).

    Gini–Simpson instead of Shannon entropy is a determinism choice,
    not a shortcut: 1 − Σ(cᵢ/n)² = (n² − Σcᵢ²)/n² is ONE double
    division of two exact BIGINTs, so Spark and DuckDB agree
    bit-for-bit, while a Σp·log p fold would sum doubles in
    engine-dependent order.  (At 100 TB n² widens to DECIMAL(38,0)
    before the division — still exact.)

    Scale shape: two map-side-combinable aggregates — collapse to
    (user, type) grain, then fold each user's counts to three
    integers.  Both exchanges hash-partition on the grain key; no
    window, no join, no skew (per-user type cardinality is bounded
    by the type vocabulary).
    """
    e = load_table(spark, sf_dir, "events")
    bytype = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = bytype.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    nsq = F.col("n_events") * F.col("n_events")
    return s.select(
        "user_id",
        "n_events",
        "n_types",
        ((nsq - F.col("sum_sq")).cast("double") / nsq.cast("double")).alias(
            "diversity"
        ),
    )
