"""The remaining TPC-H query shapes (9, 11, 12, 13, 15, 16, 20, 21),
adapted to the corpus's columns — with these the registry covers all
22 TPC-H shapes (the others live in star.py / relational.py /
analytics.py).

"Adapted" means: the corpus has no partsupp table and no
shipmode/commitdate/receiptdate columns, so each query keeps the
ORIGINAL's plan-defining structure (the join/subquery/aggregation
shape the benchmark exists to exercise) over the columns that do
exist; every adaptation is stated in the docstring.  All follow the
registry's exact-arithmetic determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query


def _dec(col: str, prec: int = 12) -> F.Column:
    return F.col(col).cast(f"decimal({prec},2)")


# ---------------------------------------------------------------------------
# Q13 — customer distribution: how many customers placed k orders
# (INCLUDING k = 0).  Left join + two-level aggregation.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
"""


@query("customer_order_distribution", oracle=_Q13_ORACLE)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts,
    including zero-order customers — the LEFT-join-then-double-
    aggregate shape (count(col) over the null-extended side is what
    keeps the zeros).  Adaptation: the original excludes orders by a
    comment pattern; this corpus has no comment column, so the
    exclusion predicate is a priority class (same plan: the filter
    rides the join condition, not a WHERE, or zero-order customers
    would vanish).

    Scale: customer⋈orders shuffles on custkey (both fact-sized —
    never broadcast); the first aggregate reuses the join exchange,
    and the distribution aggregate runs on the #customers frame with
    a tiny key space.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q12 — shipping lateness vs priority: conditional aggregation over a
# joined fact pair.
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
            THEN 'late' ELSE 'ontime' END AS ship_class,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("shipping_lateness_priority", oracle=_Q12_ORACLE)
def shipping_lateness_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape: lineitems bucketed by shipping lateness,
    counting high- vs low-priority orders per bucket with conditional
    sums — ONE pass over the joined pair, no per-priority rescan.
    Adaptation: the original buckets by l_shipmode and compares
    commit/receipt dates (absent here); lateness is ship − order
    date > 60 days, priorities keep the original URGENT/HIGH split.

    Scale: one orderkey shuffle joins the two facts (co-partitioned;
    neither broadcasts); the aggregate has a 2-row key space with
    full map-side combine — the canonical "pivot by CASE" plan.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, "late"
            ).otherwise("ontime"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by revenue: per-key aggregate compared to the
# aggregate's own global max (the "view + scalar subquery" shape).
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2))) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
"""


@query("top_supplier_revenue", oracle=_Q15_ORACLE)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) achieving the maximum quarterly
    revenue — the revenue "view" compared against its own 1-row MAX
    (ties all surface, exactly like the spec's = subquery; no
    LIMIT-1 tie-break lottery).  The quarter filter now reaches the
    parquet scan (TimestampType-at-scan inference).

    Scale: one suppkey shuffle builds the revenue frame; the 1-row
    max broadcasts back into the filter (Catalyst reuses the
    aggregate, no second fact pass); the supplier dim joins the
    surviving ≤ #ties rows.  Comparison happens on the EXACT decimal
    revenue, cast to double only for display.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
        ).alias("total_rev")
    )
    from ..session import materialize

    # two consumers (max fold + the tie filter) — checkpoint so the
    # fact scan + supplier-grain shuffle run once, not per branch
    revenue = materialize(revenue)
    mx = revenue.agg(F.max("total_rev").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — important stock: per-part value share vs a global scalar
# threshold derived from the SAME aggregate.
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
WITH asian AS (
    SELECT s.s_suppkey
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
),
value_by_part AS (
    SELECT l.l_partkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS val
    FROM lineitem l
    JOIN asian a ON a.s_suppkey = l.l_suppkey
    GROUP BY l.l_partkey
),
total AS (SELECT SUM(val) AS tv FROM value_by_part)
SELECT v.l_partkey AS partkey,
       CAST(v.val AS DOUBLE) AS part_value
FROM value_by_part v, total t
WHERE v.val * 1000 > t.tv
"""


@query("important_stock_parts", oracle=_Q11_ORACLE)
def important_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts representing more than 0.1% of the total
    value shipped by one region's suppliers — the GROUP BY + HAVING
    against a scalar derived from the same aggregation.  Adaptation:
    no partsupp table, so "stock value" is lineitem extendedprice
    through region-filtered suppliers (same two-level plan: per-key
    aggregate, 1-row total of it, threshold join).

    Scale: the supplier pruning broadcasts into the fact scan; ONE
    partkey shuffle builds the per-part frame, and Catalyst reuses it
    for the 1-row total (broadcast back into the filter — no second
    fact pass).  The threshold compares EXACT decimals scaled by an
    integer (val·1000 > total), never a float fraction.
    """
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    value_by_part = (
        li.join(F.broadcast(asian), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice", 14)).alias("val"))
    )
    from ..session import materialize

    # two consumers (global total + the threshold filter) — checkpoint
    # so the fact join + part-grain shuffle run once, not per branch
    value_by_part = materialize(value_by_part)
    total = value_by_part.agg(F.sum("val").alias("tv"))
    return (
        value_by_part.crossJoin(F.broadcast(total))
        .filter(F.col("val") * 1000 > F.col("tv"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("val").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by nation and year.
# ---------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                  * CAST(1 - l.l_discount AS DECIMAL(14,2))
                - CAST(p.p_retailprice AS DECIMAL(14,2))
                  * CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE)
           AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""


@query("product_profit_by_nation_year", oracle=_Q9_ORACLE)
def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on a product line by supplier nation and
    order year.  Adaptation: no partsupp, so unit cost is the part's
    retail price (profit = revenue − retailprice·quantity); the
    product line is the '%widget%' name pattern, kept as a
    dim-side filter exactly like the original.

    Scale: the name-filtered part dim prunes the fact FIRST
    (broadcast into the lineitem scan — only widget lineitems
    survive to later joins); supplier/nation broadcast; the only
    fact-fact shuffle is lineitem⋈orders on orderkey.  The profit
    expression is a single exact-decimal sum per group (one
    shuffle, map-side combined), cast to double at the end.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        _dec("l_extendedprice", 14)
        * (F.lit(1) - F.col("l_discount")).cast("decimal(14,2)")
        - _dec("p_retailprice", 14) * F.col("l_quantity").cast("decimal(14,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q16 — supplier diversity per part class, with a NOT-IN supplier
# exclusion.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
"""


@query("part_supplier_diversity", oracle=_Q16_ORACLE)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: how many distinct suppliers serve each (brand,
    type, size) part class, excluding a denylisted supplier set via
    NOT IN — the anti-join + multi-key COUNT DISTINCT shape.
    Adaptations: supplier relationships come from lineitem (no
    partsupp), and the denylist is negative-balance suppliers (no
    comment column to pattern-match; the set is empty at tiny SFs and
    non-empty from sf0.01 up — the anti join is exercised either way).

    Scale: the size/brand filter prunes the part dim BEFORE its
    broadcast into the fact; the denylist is a LEFT ANTI broadcast
    join (NOT IN with a provably non-null subquery = anti join);
    count(DISTINCT suppkey) two-phases through an Expand on the
    (class, suppkey) key.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    deny = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(deny), li.l_suppkey == deny.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 — dominant suppliers of a product line: nested-IN semi-join
# chain.
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
WITH widget_parts AS (
    SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'
),
part_totals AS (
    SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(14,2))) AS total_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM widget_parts)
    GROUP BY l_partkey
),
dominant AS (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part_totals t ON t.l_partkey = l.l_partkey
    GROUP BY l.l_suppkey, l.l_partkey, t.total_qty
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(14,2))) * 10 > t.total_qty
)
SELECT s.s_name, s.s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


@query("dominant_part_suppliers", oracle=_Q20_ORACLE)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape: suppliers who shipped more than 10% of
    some widget part's total volume — the nested-IN semi-join chain
    (parts → per-part threshold → qualifying suppliers → supplier
    rows).  Adaptation: no partsupp availqty, so the threshold is
    "this supplier's shipped qty > 10% of the part's total shipped
    qty" (same correlated-threshold structure; exact-decimal
    comparison via qty·10 > total, no float fraction — 50% selects
    nobody on this corpus's ~100-supplier spread).

    Scale: the name-filtered part keys broadcast into the fact scan
    (only widget lineitems continue); ONE partkey shuffle computes
    both per-part totals and per-(supplier, part) sums (the second
    grouping reuses the first's exchange via the join); the final
    supplier membership is a LEFT SEMI broadcast join on the
    distinct qualifying suppkeys.
    """
    wp = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(wp), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", F.col("l_quantity").cast("decimal(14,2)").alias("qty"))
    )
    part_totals = li.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = (
        li.join(part_totals, on="l_partkey")
        .groupBy("l_suppkey", "l_partkey", "total_qty")
        .agg(F.sum("qty").alias("supp_qty"))
        .filter(F.col("supp_qty") * 10 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(dominant), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_name", "s_acctbal")


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept multi-supplier orders waiting (the
# EXISTS / NOT-EXISTS pair).
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
WITH lates AS (
    SELECT l.l_orderkey, l.l_suppkey,
           CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                THEN 1 ELSE 0 END AS is_late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
),
per_order AS (
    SELECT l_orderkey,
           count(DISTINCT l_suppkey) AS n_supps,
           count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
               AS n_late_supps
    FROM lates GROUP BY l_orderkey
),
waiters AS (
    SELECT DISTINCT l.l_suppkey, l.l_orderkey
    FROM lates l
    JOIN per_order p ON p.l_orderkey = l.l_orderkey
    WHERE l.is_late = 1
      AND p.n_supps > 1
      AND p.n_late_supps = 1
)
SELECT s.s_name, count(*) AS numwait
FROM waiters w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
GROUP BY s.s_name
"""


@query("suppliers_kept_orders_waiting", oracle=_Q21_ORACLE)
def suppliers_kept_orders_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the ONLY late supplier on a
    multi-supplier order — the spec's EXISTS (another supplier on the
    order) AND NOT EXISTS (another LATE supplier) pair, decorrelated
    into ONE per-order aggregate carrying both distinct counts (the
    plan the correlated form optimizes to anyway; at 100 TB the
    aggregate form does one orderkey pass where naive EXISTS pairs
    would self-join lineitem twice).  Adaptation: "late" is
    ship − order date > 60 days (no receipt/commit columns), same
    definition as shipping_lateness_priority.

    Scale (r15): lineitem⋈orders on orderkey (one fact-fact shuffle);
    the per-order distinct pair is a WINDOW over that same orderkey
    partitioning — ``size(collect_set(...) over (partition by
    l_orderkey))`` ≡ the decorrelated ``countDistinct`` aggregate, but
    it rides the join's exchange (guide §2.4: a window partitioned
    like the preceding join adds no shuffle) where the old
    aggregate-then-join-back shape recomputed the entire fact join a
    second time for the join-back side.  Orders qualify with exactly
    ONE late supplier, so the per-(order, supplier) dedup collapses to
    a grouped pick on l_orderkey — again exchange-free on the same
    key; the supplier dim broadcasts for the final name roll-up.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lates = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, 1
        ).otherwise(0).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    # collect_set skips NULLs, exactly like COUNT(DISTINCT CASE ...).
    enriched = lates.withColumn(
        "n_supps", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_supps",
        F.size(
            F.collect_set(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).over(w)
        ),
    )
    # n_late_supps == 1 ⇒ every late row of the order names the SAME
    # supplier, so one row per qualifying order ≡ DISTINCT (supp, ord).
    waiters = (
        enriched.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .groupBy("l_orderkey")
        .agg(F.max("l_suppkey").alias("l_suppkey"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiters.join(F.broadcast(s), waiters.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Per-supplier lead-time percentiles — exact p50/p90 over the
# (supplier, lead-days) HISTOGRAM: the per-KEY form of the bounded-
# domain histogram median (events_value_mad_outliers is the per-type
# form).  Lead time is an SLA metric; percentiles, not means, are
# what contracts specify.
# ---------------------------------------------------------------------------

_LEADTIME_ORACLE = """
WITH h AS (
  SELECT l.l_suppkey AS suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
tot AS (SELECT suppkey, SUM(cnt) AS n FROM h GROUP BY 1),
cum AS (
  SELECT h.suppkey, h.days, t.n,
         SUM(h.cnt) OVER (PARTITION BY h.suppkey ORDER BY h.days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM h JOIN tot t ON t.suppkey = h.suppkey
)
SELECT suppkey,
       CAST(MAX(n) AS BIGINT) AS n_shipments,
       CAST(MIN(CASE WHEN cum * 2 >= n THEN days END) AS BIGINT) AS p50_days,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN days END) AS BIGINT)
         AS p90_days
FROM cum GROUP BY suppkey
"""


@query("shipping_leadtime_percentiles", oracle=_LEADTIME_ORACLE)
def shipping_leadtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: exact p50/p90 of order→ship lead time in days —
    the SLA readout, computed on the (supplier, lead-days) histogram
    so the rank hunt never touches raw lineitems.

    Percentile definition: the smallest day value whose cumulative
    count reaches ⌈q·n⌉ — stated as the all-integer cross-multiplied
    comparisons cum·2 ≥ n and cum·10 ≥ 9·n (no float quantile
    arithmetic anywhere, so both engines agree exactly).

    Scale shape: the lineitem⋈orders join rides the orderkey
    co-partitioning, collapses immediately to the histogram (bounded
    by #suppliers × the lead-time day domain — ~122 distinct values
    regardless of corpus size), and the cumulative window partitions
    by supplier over those bounded frames.  Same histogram discipline
    as the MAD screen, generalized to per-key percentiles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    h = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("days"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # r15: per-supplier total as a WINDOW over the histogram instead of
    # a separate aggregate joined back — the old shape recomputed the
    # fact join + histogram once per consumer (h fed both `tot` and the
    # join), and paid two extra exchanges; both windows and the final
    # roll-up share the suppkey partitioning established once
    # (guide §2.4).
    w = (
        Window.partitionBy("suppkey")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("suppkey"))
    ).withColumn("cum", F.sum("cnt").over(w))
    return cum.groupBy("suppkey").agg(
        F.max("n").cast("bigint").alias("n_shipments"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("days")))
        .cast("bigint")
        .alias("p50_days"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("days")))
        .cast("bigint")
        .alias("p90_days"),
    )
