"""Relational coverage: semi-join (EXISTS), correlated scalar
subquery, and explicit salted skew mitigation — the join/subquery
shapes SURVEY.md §2.3 marks ABSENT in the reference but a user of a
general engine reaches for daily.

The reference's only join is the left-anti snapshot delta
(aiesec.py:143); these queries supply the neighboring shapes —
LEFT SEMI (EXISTS), the per-group-average correlated comparison
(TPC-H Q17's idiom), and the hot-key salted join from
operators/salt.py surfaced as an oracle-checked query instead of
pytest-only evidence.

Scale notes (100 TB): the semi join co-partitions orders/lineitem on
orderkey (one shuffle each side, never a fact broadcast); the Q17
shape shuffles lineitem on l_partkey exactly once, reusing that
partitioning for both the per-part aggregate and the join back; the
salted join turns one hot hash bucket into n_salts even ones at the
cost of replicating a small dim 8x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.salt import salted_join
from . import query


def _dec(col: str, prec: int = 9) -> F.Column:
    return F.col(col).cast(f"decimal({prec},2)")


# ---------------------------------------------------------------------------
# Semi join — EXISTS (TPC-H Q4-shaped order-priority checking).
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
)
GROUP BY o_orderpriority
"""


@query("order_priority_semi", oracle=_SEMI_ORACLE)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via LEFT SEMI join: orders with any lineitem shipped
    more than 30 days after the order date, counted per priority
    (TPC-H Q4's shape on the columns this corpus has).

    The semi join carries an equi key (orderkey) plus a residual
    inequality on both sides' columns — Catalyst plans a hash/SMJ
    semi join on the key with the residual as a post-probe filter,
    never a per-key cross product.  Each order emits at most once no
    matter how many lineitems match (EXISTS semantics, not a count).
    At 100 TB both sides shuffle once on orderkey; a bucketed layout
    on orderkey would remove even that.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery — TPC-H Q17-shaped small-quantity revenue.
# ---------------------------------------------------------------------------

# Determinism: the correlated comparison l_quantity < 0.2 * avg(qty)
# is rewritten to exact integer/decimal arithmetic —
# 5 * qty * cnt < sum(qty) — so no engine-specific double averaging
# can flip rows at the threshold.
_SMALLQTY_ORACLE = """
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sum_qty,
           count(*) AS cnt
    FROM lineitem
    GROUP BY l_partkey
)
SELECT count(*) AS n_small_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem l
JOIN per_part pp ON l.l_partkey = pp.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#4'
WHERE CAST(l.l_quantity AS DECIMAL(9,2)) * 5 * pp.cnt < pp.sum_qty
"""


@query("small_qty_order_revenue", oracle=_SMALLQTY_ORACLE)
def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17): revenue from lineitems
    whose quantity is below 20% of the average quantity for their
    part, restricted to one brand.

    The correlated AVG decorrelates into a per-part aggregate joined
    back to the fact — lineitem shuffles on l_partkey exactly once
    and that partitioning serves both the aggregate and the join
    (Catalyst reuses the exchange); the brand dimension broadcasts.
    The threshold test uses exact decimal arithmetic (5·qty·cnt <
    Σqty) so Spark and DuckDB agree bit-for-bit at the boundary.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    brand = part.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    return (
        li.join(per_part, "l_partkey")
        .join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .filter(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lineitems"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Salted join — hot-key skew mitigation with plain-join semantics.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT n.n_name AS nation,
       count(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation  n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("salted_revenue_by_nation", oracle=_SALTED_ORACLE)
def salted_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation through :func:`salted_join` — the
    explicit skew-mitigation path, oracle-checked to produce exactly
    the plain join's answer.

    The fact side is sprayed across 8 deterministic content-derived
    salts (xxhash64 over the unique (l_orderkey, l_linenumber) pair —
    named explicitly so the salt never forces extra scan columns and
    column pruning survives); the 8x-replicated supplier-nation dim
    stays tiny.  A hot l_suppkey that would pin one reducer now
    spreads over 8 even buckets.  This is the manual fallback for the
    shapes AQE's skew split can't fix (single hot hash bucket feeding
    a map-side aggregate); semantics stay identical because every
    fact row meets exactly the one dim replica sharing its salt.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    joined = salted_join(
        li, dim, ["l_suppkey"], n_salts=8, spread_cols=["l_orderkey", "l_linenumber"]
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# SQL front door — ONE ANSI string executed by BOTH engines.
# ---------------------------------------------------------------------------

_FRONTDOOR_SQL = """
SELECT r.r_name AS region,
       count(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation  n ON s.s_nationkey = n.n_nationkey
JOIN region  r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("sql_frontdoor_revenue", oracle=_FRONTDOOR_SQL)
def sql_frontdoor_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the SAME ANSI string is handed verbatim to
    ``spark.sql`` here and to DuckDB as the oracle — one text, two
    engines, hash-identical answers.  Proves a SQL-only user gets the
    full engine (catalog views over the corpus tables + Catalyst
    planning the identical broadcast-join/partial-agg shape the
    DataFrame twin star_revenue_by_nation gets).
    """
    for t in ("lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_FRONTDOOR_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q18-shaped: large-volume orders (HAVING + semi join back).
# ---------------------------------------------------------------------------

_BIGORDER_QTY = 250

_BIGORDER_ORACLE = f"""
WITH big AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(9,2))) > {_BIGORDER_QTY}
)
SELECT c.c_name,
       o.o_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(t.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
) t ON t.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
"""


@query("large_volume_orders", oracle=_BIGORDER_ORACLE)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold (HAVING over an exact-decimal sum), joined back to the
    order and customer rows.

    The per-order aggregate shuffles lineitem on l_orderkey once; the
    HAVING filter prunes before the join back, so the join carries
    only qualifying orders (AQE broadcasts that side when small); the
    customer dim is a hash join on custkey.  The IN-subquery of the
    SQL twin is the same aggregate reused — Catalyst deduplicates it.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty")
    )
    big = per_order.filter(F.col("sum_qty") > _BIGORDER_QTY)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22-shaped: wealthy inactive customers (scalar-average
# subquery + anti join).
# ---------------------------------------------------------------------------

_GLOBAL_SALES_ORACLE = """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
               AS a
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
"""


@query("wealthy_inactive_customers", oracle=_GLOBAL_SALES_ORACLE)
def wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    URGENT orders, summarized per market segment.  (Every customer in
    this corpus has SOME order, so the anti-join side is the urgent
    subset — the plan shape is identical to Q22's no-orders test and
    the result is non-trivially non-empty at every SF.)

    The scalar average is a 1-row aggregate cross-joined (broadcast)
    into the filter — never a driver collect; the no-orders test is a
    left-anti join on custkey whose key-pruned right side AQE
    broadcasts.  The average divides an exact decimal sum by the
    count once, so both engines compare against the identical double.
    """
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal", 12)).cast("double") / F.count(F.lit(1))).alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal", 12)).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# SQL front door #2 — LATERAL correlated top-N, one text, two engines.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n.n_name AS nation,
       t.c_name,
       CAST(t.c_acctbal AS DOUBLE) AS acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal
    FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT 2
) t
"""


@query("sql_frontdoor_lateral_topn", oracle=_LATERAL_SQL)
def sql_frontdoor_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated top-N through the SQL front door: the SAME
    ANSI text runs verbatim in ``spark.sql`` and as the DuckDB
    oracle.  Catalyst decorrelates the per-nation ORDER BY/LIMIT
    subquery into the ranking-window plan the DataFrame twin
    (topk_customers_per_nation) builds by hand — proving the
    correlated-subquery surface, not just the window API, is covered.
    Deterministic via the (acctbal DESC, name) tie-break.
    """
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# SQL front door #3 — WITH RECURSIVE (Spark 4), one text, two engines.
# ---------------------------------------------------------------------------

# Dialect-neutral subset: DATE + INTEGER arithmetic (both engines add
# days), STRING casts (alias in both), UNION ALL recursion (Spark 4
# does not yet accept UNION-distinct in recursive CTEs).
_RECURSIVE_SQL = """
WITH RECURSIVE
bounds AS (
    SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
    FROM events
),
spine(d, mx) AS (
    SELECT mn, mx FROM bounds
    UNION ALL
    SELECT CAST(d + 1 AS DATE), mx FROM spine WHERE d < mx
),
daily AS (
    SELECT CAST(ts AS DATE) AS d, count(*) AS n
    FROM events GROUP BY 1
)
SELECT CAST(s.d AS STRING) AS day,
       CAST(COALESCE(dl.n, 0) AS BIGINT) AS n_events
FROM spine s
LEFT JOIN daily dl ON dl.d = s.d
"""


@query("sql_frontdoor_recursive_spine", oracle=_RECURSIVE_SQL)
def sql_frontdoor_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL front door (new in Spark 4): a
    calendar spine generated by linear recursion, left-joined to
    daily event counts so silent gap days surface as zeros — the SAME
    text runs in ``spark.sql`` and DuckDB.

    The recursion is driver-bounded (one row per day, linear depth),
    not data-bounded — the fact table is touched exactly once by the
    grouped count; at 100 TB the recursive part stays a few-KB spine
    while the one fact-sized aggregate does all the heavy lifting.
    The recursion END BOUND rides along in the spine rows (d, mx) so
    each iteration references only the previous step — written as
    ``FROM spine, bounds`` each of the ~30 steps re-scanned the fact
    for min/max (measured: warm 7.6 s → 1.2 s at sf0.1 after the
    carry).
    ``sequence()`` (events_gapfill_hourly) is the non-recursive twin;
    this query exists to pin the recursive-CTE surface itself.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_RECURSIVE_SQL)


# ---------------------------------------------------------------------------
# Join-size estimation — the cost-based-optimizer statistic computed
# exactly from per-key histograms, next to the textbook NDV estimate.
# ---------------------------------------------------------------------------

_JOINEST_ORACLE = """
WITH la AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
ob AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
stats AS (
    SELECT (SELECT count(*) FROM lineitem) AS n_left,
           (SELECT count(*) FROM orders) AS n_right,
           (SELECT count(*) FROM la) AS ndv_left,
           (SELECT count(*) FROM ob) AS ndv_right,
           (SELECT COALESCE(SUM(ca * cb), 0) FROM la JOIN ob USING (k))
               AS exact_join_rows
)
SELECT CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(ndv_left AS BIGINT) AS ndv_left,
       CAST(ndv_right AS BIGINT) AS ndv_right,
       CAST(n_left * n_right // GREATEST(ndv_left, ndv_right) AS BIGINT)
           AS est_textbook,
       CAST(exact_join_rows AS BIGINT) AS exact_join_rows
FROM stats
"""


@query("join_size_estimate", oracle=_JOINEST_ORACLE)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join cardinality estimation for lineitem⋈orders on orderkey:
    the textbook CBO formula |A|·|B| / max(ndv_A, ndv_B) next to the
    EXACT join size Σ_k cnt_A(k)·cnt_B(k) — computed from per-key
    count frames WITHOUT executing the join.  This is the statistic a
    cost-based planner (or a pre-flight "will this join explode?"
    guard in a pipeline) needs before committing to a shuffle.

    Scale shape: each side collapses to its per-key count first
    (map-side combined, shuffle rows = #keys); the count frames join
    on the key and fold to one row.  All arithmetic is exact BIGINT —
    products of per-key counts, integer division for the estimate —
    so the comparison is reproducible cross-engine.  At 100 TB the
    same frames feed the key-skew profile (events_key_skew_profile);
    a planner keeps them as table statistics rather than recomputing.
    """
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    from ..session import materialize

    # each per-key count frame feeds two branches (its marginal fold +
    # the exact-join product) — checkpoint both so each fact is scanned
    # and shuffled once; a real planner would keep these as statistics
    la = materialize(li.groupBy("k").agg(F.count(F.lit(1)).alias("ca")))
    ob = materialize(o.groupBy("k").agg(F.count(F.lit(1)).alias("cb")))
    sa = la.agg(
        F.sum("ca").alias("n_left"), F.count(F.lit(1)).alias("ndv_left")
    )
    sb = ob.agg(
        F.sum("cb").alias("n_right"), F.count(F.lit(1)).alias("ndv_right")
    )
    exact = (
        la.join(ob, on="k")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("exact_join_rows"))
    )
    return (
        sa.crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_left",
            "n_right",
            "ndv_left",
            "ndv_right",
            F.expr("n_left * n_right div greatest(ndv_left, ndv_right)").alias("est_textbook"),
            "exact_join_rows",
        )
    )


# ---------------------------------------------------------------------------
# Null-semantics pins — the cross-engine traps (null ordering,
# null-safe equality, all-null aggregates) pinned by one query.
# ---------------------------------------------------------------------------

_NULLS_ORACLE = """
WITH v AS (
    SELECT o_orderkey, o_orderpriority AS prio,
           NULLIF(o_orderstatus, 'O') AS status,
           CASE WHEN o_orderstatus = 'O' THEN NULL
                ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS price_nn
    FROM orders
),
dim(s) AS (SELECT 'F' UNION ALL SELECT NULL),
first_nn AS (
    SELECT prio, status
    FROM (
        SELECT prio, status,
               row_number() OVER (
                   PARTITION BY prio
                   ORDER BY status ASC NULLS LAST, o_orderkey
               ) AS rk
        FROM v
    ) WHERE rk = 1
),
nullsafe AS (
    SELECT prio, count(*) AS n_nullsafe_matches
    FROM v JOIN dim d ON v.status IS NOT DISTINCT FROM d.s
    GROUP BY prio
),
aggs AS (
    SELECT prio,
           count(*) AS n_rows,
           count(*) - count(status) AS n_null_status,
           CAST(SUM(price_nn) AS DOUBLE) AS sum_nonopen_price,
           CAST(SUM(CASE WHEN status IS NULL THEN price_nn END) AS DOUBLE)
               AS sum_allnull_group
    FROM v GROUP BY prio
)
SELECT a.prio, a.n_rows, a.n_null_status,
       f.status AS first_nonnull_status,
       n.n_nullsafe_matches,
       a.sum_nonopen_price,
       a.sum_allnull_group
FROM aggs a
JOIN first_nn f ON f.prio = a.prio
JOIN nullsafe n ON n.prio = a.prio
"""


@query("null_semantics_pins", oracle=_NULLS_ORACLE)
def null_semantics_pins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query pinning the null behaviors that silently differ
    between engines unless spelled out: sort-order placement of
    nulls (made EXPLICIT with NULLS LAST — Spark defaults nulls
    first ascending, many engines default last), null-safe equality
    (Spark ``<=>`` ≡ ANSI IS NOT DISTINCT FROM, here matching an
    intentionally-NULL dim row), aggregate null-skipping (count(col)
    vs count(*)), and a SUM over an all-null group surfacing as NULL
    (never 0).  Nulls are manufactured deterministically with NULLIF
    since the corpus has none.

    Scale shape: one fact aggregate + one per-priority rank window on
    the fact (5 partitions — acceptable at this cardinality, same
    caveat as median_acctbal_by_segment) + a 2-row broadcast dim for
    the null-safe join.  Exact-decimal sum convention throughout.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.expr("NULLIF(o_orderstatus, 'O')").alias("status"),
        F.when(
            F.col("o_orderstatus") != "O",
            F.col("o_totalprice").cast("decimal(14,2)"),
        ).alias("price_nn"),
    )
    dim = spark.createDataFrame([("F",), (None,)], "s string")
    w = Window.partitionBy("prio").orderBy(
        F.col("status").asc_nulls_last(), F.col("o_orderkey")
    )
    first_nn = (
        v.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("prio", F.col("status").alias("first_nonnull_status"))
    )
    nullsafe = (
        v.join(F.broadcast(dim), v.status.eqNullSafe(dim.s))
        .groupBy("prio")
        .agg(F.count(F.lit(1)).alias("n_nullsafe_matches"))
    )
    aggs = v.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("status")).alias("n_null_status"),
        F.sum("price_nn").cast("double").alias("sum_nonopen_price"),
        F.sum(F.when(F.col("status").isNull(), F.col("price_nn")))
        .cast("double")
        .alias("sum_allnull_group"),
    )
    return aggs.join(first_nn, on="prio").join(nullsafe, on="prio")


# ---------------------------------------------------------------------------
# Relational division — customers whose purchases cover ALL brands in
# a target set (the FOR-ALL quantifier).
# ---------------------------------------------------------------------------

_DIVISION_BRANDS = ("Brand#1", "Brand#2", "Brand#3")

_DIVISION_ORACLE = f"""
WITH wanted(b) AS (
    SELECT unnest(['{_DIVISION_BRANDS[0]}', '{_DIVISION_BRANDS[1]}', '{_DIVISION_BRANDS[2]}'])
),
cov AS (
    SELECT o.o_custkey AS custkey, p.p_brand AS b
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN (SELECT b FROM wanted)
    GROUP BY 1, 2
)
SELECT c.custkey, cu.c_mktsegment AS segment
FROM (
    SELECT custkey FROM cov
    GROUP BY custkey
    HAVING count(*) = (SELECT count(*) FROM wanted)
) c
JOIN customer cu ON cu.c_custkey = c.custkey
"""


@query("customers_bought_all_brands", oracle=_DIVISION_ORACLE)
def customers_bought_all_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR-ALL quantifier): customers whose
    purchase history covers EVERY brand in a target set — the classic
    "suppliers who supply all parts" shape, absent from both the
    reference and the TPC-H suite.

    The scalable encoding is coverage-counting, not nested NOT
    EXISTS: filter the fact to the wanted set (broadcast IN-list
    prunes at the scan), reduce to DISTINCT (customer, brand) — the
    only fact-sized shuffle, map-side combined — and keep customers
    whose distinct coverage equals |set|.  The double-NOT-EXISTS
    form Catalyst would otherwise nest becomes two correlated anti
    joins over the fact; the counting form touches it once.  The
    customer dim joins only the qualifying keys (AQE broadcasts).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*_DIVISION_BRANDS))
        .select("p_partkey", "p_brand")
    )
    cov = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("p_brand").alias("b"))
        .distinct()
    )
    qualifying = (
        cov.groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == len(_DIVISION_BRANDS))
        .select("custkey")
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return qualifying.join(cu, qualifying.custkey == cu.c_custkey).select(
        "custkey", F.col("c_mktsegment").alias("segment")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the materialized-view update
# pattern: merge(old partials, delta partials) MUST equal a full
# recompute, which is exactly what the oracle checks.
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
         AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1
"""


@query("incremental_agg_maintenance", oracle=_IVM_ORACLE)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly revenue
    aggregate is built as merge(OLD partials, DELTA partials) — a
    deterministic md5 split plays yesterday's materialization vs
    today's ingest batch — and the oracle is the FULL recompute, so a
    green row proves the additive merge is lossless.  This is the
    pattern that turns a 100 TB nightly re-aggregation into a
    delta-sized job: counts and decimal sums are self-mergeable
    partials (avg/stddev would be maintained as (sum, count) /
    (sum, sum², count) the same way).

    Shapes: each side is a map-side-combined grouped agg over its
    slice; the merge is a full outer join on the tiny month key with
    coalesce(0) on both sides (a month can exist in only one side);
    final revenue casts to double AFTER the exact decimal merge.
    """
    from ..functions.text import hash32

    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("month"),
        F.col("o_totalprice").cast("decimal(14,2)").alias("price"),
        (hash32(F.col("o_orderkey").cast("string")) % 10 == 0).alias("is_delta"),
    )

    def partials(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias(n), F.sum("price").alias(s)
        )

    old = partials(o.filter(~F.col("is_delta")), "n_old", "s_old")
    delta = partials(o.filter(F.col("is_delta")), "n_new", "s_new")
    merged = old.join(delta, on="month", how="full_outer")
    zero = F.lit(0).cast("decimal(24,2)")
    return merged.select(
        "month",
        (F.coalesce("n_old", F.lit(0)) + F.coalesce("n_new", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce(F.col("s_old"), zero) + F.coalesce(F.col("s_new"), zero))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance — the delta algebra for a
# materialized join: with appends ΔA and ΔB,
#   ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB
# and merge(V_old, ΔV) must equal the full recompute — which is
# exactly what the oracle checks.
# ---------------------------------------------------------------------------

_JOIN_IVM_ORACLE = """
SELECT c.c_nationkey AS nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


@query("incremental_join_maintenance", oracle=_JOIN_IVM_ORACLE)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view (orders ⋈
    customer, aggregated to nation grain) under appends on BOTH
    sides: deterministic md5 splits play yesterday's tables
    (A_old, B_old) vs today's ingest (ΔA = 1/10 of orders, ΔB = 1/20
    of customers), and the returned view is

        merge(V_old,  ΔA⋈B_old,  A_old⋈ΔB,  ΔA⋈ΔB)

    — the inner-join delta algebra.  The oracle is the FULL
    recompute, so a green row proves the three delta terms cover
    exactly the new join pairs (no loss, no double count — the
    classic mistake, ΔA⋈B_new, double-counts ΔA⋈ΔB).

    Scale shape: in production V_old is the already-materialized
    view (here recomputed only because the testdata persists no
    state), so the maintenance cost is the DELTA joins — each has a
    delta-sized side that AQE broadcasts, so a 100 TB view updates
    for the price of today's ingest, never a full re-join.  All four
    terms produce mergeable partials (count + exact decimal sum)
    unioned and re-aggregated map-side; revenue casts to double only
    after the exact merge.
    """
    from ..functions.text import hash32

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(14,2)").alias("price"),
        (hash32(F.col("o_orderkey").cast("string")) % 10 == 0).alias("da"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (hash32(F.col("c_custkey").cast("string")) % 20 == 0).alias("db"),
    )
    a_old, a_new = o.filter(~F.col("da")), o.filter(F.col("da"))
    b_old, b_new = c.filter(~F.col("db")), c.filter(F.col("db"))

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_custkey == b.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("price").alias("s"),
            )
        )

    v_old = term(a_old, b_old)  # stands in for reading the materialized view
    parts = (
        v_old.unionByName(term(a_new, b_old))
        .unionByName(term(a_old, b_new))
        .unionByName(term(a_new, b_new))
    )
    return parts.groupBy("nationkey").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.sum("s").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Row-generating expansion — each order explodes into its 3-part
# installment schedule.  This is the UDTF-shaped operation (one row
# in, N rows out) kept on the JVM fast path: explode(sequence())
# inside codegen, never a Python row loop (the actual Python UDTF API
# is pinned separately in tests/test_pandas_apis.py).
# ---------------------------------------------------------------------------

_INSTALLMENTS = 3

_INSTALL_ORACLE = f"""
SELECT o.o_orderkey,
       CAST(g.i AS INT) AS installment_no,
       CAST(CAST(o.o_orderdate AS DATE) + CAST((g.i - 1) * 30 AS INTEGER)
            AS VARCHAR) AS due_day,
       CAST(CASE WHEN g.i = 1
                 THEN c - ({_INSTALLMENTS - 1}) * (c // {_INSTALLMENTS})
                 ELSE c // {_INSTALLMENTS} END AS BIGINT) AS amount_cents
FROM (SELECT o_orderkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders) o
CROSS JOIN generate_series(1, {_INSTALLMENTS}) AS g(i)
"""


@query("order_installment_schedule", oracle=_INSTALL_ORACLE)
def order_installment_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order expanded into its 3 monthly installments — equal
    thirds in exact cents with the division remainder folded into the
    FIRST installment (so the schedule always sums back to the order
    total: the reconciliation invariant billing pipelines audit).

    Scale shape: the 1→N expansion is ``explode(sequence(...))``
    inside whole-stage codegen — a pure row generator with zero
    shuffle and no Python (this is what a row-per-output UDTF would
    express; the engine keeps the hot path JVM-side and pins the
    actual ``@udtf`` API in tests).  Output is 3× the scan, streamed
    straight to the sink — at 100 TB the expansion never
    materializes driver-side.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    n = _INSTALLMENTS
    per = F.expr(f"c div {n}")
    return o.select(
        "o_orderkey",
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("installment_no"),
        "d",
        "c",
    ).select(
        "o_orderkey",
        F.col("installment_no").cast("int").alias("installment_no"),
        F.date_add(F.col("d"), (F.col("installment_no") - 1) * 30)
        .cast("string")
        .alias("due_day"),
        F.when(F.col("installment_no") == 1, F.col("c") - (n - 1) * per)
        .otherwise(per)
        .cast("bigint")
        .alias("amount_cents"),
    )
