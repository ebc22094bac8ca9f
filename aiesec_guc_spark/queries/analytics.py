"""Analytics coverage widening (round 6): multi-nation trade joins
(TPC-H Q7/Q8 shapes), argmin-per-group, CDC latest-row compaction,
exact time-decay scoring, week-over-week deltas, SCD2 history
building, and df-weighted discriminative terms.

The reference computes none of these (its analytics surface is one
anti-join, aiesec.py:143); they are the everyday shapes a user of a
general engine expects, each expressed as stock DataFrame ops so
Catalyst owns the physical strategy.

Scale notes (100 TB) are per-query in the docstrings; the common
theme: every aggregate is two-phase (map-side partial), every dim
join broadcasts, every window partitions on a bounded key (user,
part, lang) — no global single-partition window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query
from .text import STOPWORDS


def _dec(col: str, prec: int = 9) -> F.Column:
    return F.col(col).cast(f"decimal({prec},2)")


def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral trade volume between two nations by year.
# ---------------------------------------------------------------------------

_TRADE_ORACLE = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       count(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
GROUP BY 1, 2, 3
"""


@query("nation_trade_volume", oracle=_TRADE_ORACLE)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between two specific nations in
    both directions, by ship year.

    Physical shape: lineitem↔orders is the only fact-fact join (both
    shuffle once on orderkey); supplier/customer key into broadcast
    nation dims, and the nation-name disjunction prunes BEFORE the
    fact join (only suppliers/customers of the two nations survive,
    so AQE broadcasts both pruned sides).  At 100 TB the orderkey
    shuffle dominates and a bucketed layout on orderkey removes it.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("n_name").isin("NATION_18", "NATION_19")
    supp = s.join(F.broadcast(n.filter(pair)), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust = c.join(F.broadcast(n.filter(pair)), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(_revenue()).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: one nation's market share within a region's demand.
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH base AS (
    SELECT year(o.o_orderdate) AS o_year,
           n1.n_name AS supp_nation,
           CAST(l.l_extendedprice AS DECIMAL(9,2))
               * (1 - CAST(l.l_discount AS DECIMAL(9,2))) AS rev
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    JOIN region r   ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
)
SELECT CAST(o_year AS INT) AS o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                     ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE) AS nation_revenue,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                     ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE)
           / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM base
GROUP BY 1
"""


@query("regional_market_share", oracle=_SHARE_ORACLE)
def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's yearly share of STANDARD-part
    revenue ordered by ASIA customers.

    The share is computed in ONE aggregation pass — conditional sum
    over the already-joined rows, not two scans joined back — so the
    fact is read once.  Both sums are exact decimals; the share is a
    single double division at the end (deterministic cross-engine).
    The part-type and region filters reach the dims before their
    joins (broadcast both); lineitem↔orders shuffles on orderkey.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    asia_cust = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                    n.n_regionkey == r.r_regionkey,
                ).select("n_nationkey")
            ),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    rev = _revenue().alias("rev")
    nation_rev = F.when(
        F.col("supp_nation") == "NATION_3", F.col("rev")
    ).otherwise(F.lit(0).cast("decimal(9,2)"))
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(asia_cust, o.o_custkey == asia_cust.c_custkey, "left_semi")
        .select(F.year("o_orderdate").cast("int").alias("o_year"), "supp_nation", rev)
    )
    return base.groupBy("o_year").agg(
        F.sum(nation_rev).cast("double").alias("nation_revenue"),
        F.sum("rev").cast("double").alias("total_revenue"),
        (
            F.sum(nation_rev).cast("double") / F.sum("rev").cast("double")
        ).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# Argmin-per-group (TPC-H Q2's idiom): cheapest recorded offer per part.
# ---------------------------------------------------------------------------

_CHEAPEST_ORACLE = """
WITH offers AS (
    SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice,
           row_number() OVER (
               PARTITION BY l.l_partkey
               ORDER BY l.l_extendedprice, l.l_suppkey,
                        l.l_orderkey, l.l_linenumber
           ) AS rk
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
)
SELECT o.l_partkey AS p_partkey,
       s.s_name,
       CAST(o.l_extendedprice AS DOUBLE) AS best_price
FROM offers o
JOIN supplier s ON s.s_suppkey = o.l_suppkey
WHERE o.rk = 1
"""


@query("cheapest_offer_per_part", oracle=_CHEAPEST_ORACLE)
def cheapest_offer_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group (TPC-H Q2's min-cost-supplier idiom on the
    columns this corpus has): for every Brand#1 part, the supplier of
    the cheapest recorded lineitem, ties broken deterministically on
    (suppkey, orderkey, linenumber).

    The brand dim broadcasts and prunes the fact map-side; the argmin
    is a row_number window partitioned by partkey — shuffle carries
    only the pruned brand's rows, and each partition's top-1 is found
    without a global sort.  The supplier name join happens AFTER the
    rk=1 filter, so it joins #parts rows, not #lineitems.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    best = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_name",
        F.col("l_extendedprice").cast("double").alias("best_price"),
    )


# ---------------------------------------------------------------------------
# CDC compaction: latest row per key via a single max(struct) aggregate.
# ---------------------------------------------------------------------------

_LATEST_ORACLE = """
WITH ranked AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rk
    FROM events
)
SELECT user_id, ts_us, event_id, event_type, value
FROM ranked WHERE rk = 1
"""


@query("latest_event_per_user", oracle=_LATEST_ORACLE)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: the latest event per user, computed as ONE
    ``max(struct(ts_us, event_id, ...))`` aggregate rather than a
    row_number window — the aggregate form gets map-side partial
    combine (each input partition contributes one candidate per key
    to the shuffle), which at 100 TB moves #keys rows instead of the
    window form's #events rows.  (ts_us, event_id) leads the struct
    and is unique, so the lexicographic max never compares the
    payload fields — same rows as the windowed oracle.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id"),
                    F.col("event_type"),
                    F.col("value"),
                )
            ).alias("m")
        )
        .select("user_id", "m.ts_us", "m.event_id", "m.event_type", "m.value")
    )


# ---------------------------------------------------------------------------
# Exact time-decay scoring: half-life-weighted engagement per user.
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
WITH bounds AS (
    SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
    FROM events
)
SELECT e.user_id,
       count(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))
                * CAST((CAST(1 AS BIGINT)
                        << date_diff('day', b.mn, CAST(e.ts AS DATE)))
                       AS DECIMAL(10,0))) AS DOUBLE)
           / CAST((CAST(1 AS BIGINT) << date_diff('day', b.mn, b.mx)) AS DOUBLE)
           AS decay_score
FROM events e CROSS JOIN bounds b
GROUP BY e.user_id, b.mn, b.mx
"""


@query("decayed_user_engagement", oracle=_DECAY_ORACLE)
def decayed_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with 1-day-half-life exponential
    decay — and EXACT cross-engine arithmetic: the weight for an
    event aged ``a`` days is ``2^(spread-a)``, an INTEGER (bit
    shift), so the weighted sum is an exact decimal; one double
    division by ``2^spread`` at the end normalizes so the newest day
    has weight 1.  No transcendental exp() whose last-ulp behavior
    differs between libm and the JVM ever touches the data.

    Scale: the date bounds are a 1-row aggregate broadcast into the
    scan (never a driver collect); the weighted sum is a plain
    grouped aggregate with map-side combine — one shuffle of #users
    rows.  Decimal(29,2) intermediates hold value·2^30 with room.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min(F.to_date("ts")).alias("mn"), F.max(F.to_date("ts")).alias("mx")
    )
    weight = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), datediff(to_date(ts), mn)) AS DECIMAL(10,0))"
    )
    g = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id", "mn", "mx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)") * weight).alias("wsum"),
        )
    )
    return g.select(
        "user_id",
        "n_events",
        (
            F.col("wsum").cast("double")
            / F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), datediff(mx, mn)) AS DOUBLE)"
            )
        ).alias("decay_score"),
    )


# ---------------------------------------------------------------------------
# Week-over-week deltas: weekly series + lag + one-division pct change.
# ---------------------------------------------------------------------------

_WOW_ORACLE = """
WITH weekly AS (
    SELECT event_type,
           CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week_start,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n_events,
       n_events - lag(n_events) OVER (
           PARTITION BY event_type ORDER BY week_start
       ) AS wow_diff,
       CAST(n_events - lag(n_events) OVER (
           PARTITION BY event_type ORDER BY week_start) AS DOUBLE)
       / CAST(lag(n_events) OVER (
           PARTITION BY event_type ORDER BY week_start) AS DOUBLE) AS wow_pct
FROM weekly
"""


@query("events_wow_change", oracle=_WOW_ORACLE)
def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type: Monday-truncated weekly
    counts, absolute and relative deltas via lag.  First week's
    deltas are NULL by design (no fabricated zero baseline).

    The window runs over the ALREADY-AGGREGATED weekly frame
    (#types × #weeks rows), partitioned by event_type — never a
    window over raw events.  The pct change is integer arithmetic
    until one final double division, so both engines agree exactly.
    """
    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("week", F.col("ts"))).cast("string").alias(
            "week_start"
        ),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    lagged = F.lag("n_events").over(w)
    return weekly.select(
        "event_type",
        "week_start",
        "n_events",
        (F.col("n_events") - lagged).alias("wow_diff"),
        (
            (F.col("n_events") - lagged).cast("double") / lagged.cast("double")
        ).alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# SCD2 history build: dominant daily status → contiguous validity runs.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d, event_type, count(*) AS n
    FROM events GROUP BY 1, 2, 3
),
dominant AS (
    SELECT user_id, d, event_type AS status,
           row_number() OVER (
               PARTITION BY user_id, d ORDER BY n DESC, event_type
           ) AS rk
    FROM daily
),
runs AS (
    SELECT user_id, d, status,
           row_number() OVER (PARTITION BY user_id ORDER BY d)
         - row_number() OVER (PARTITION BY user_id, status ORDER BY d) AS island
    FROM dominant WHERE rk = 1
)
SELECT user_id, status,
       CAST(min(d) AS VARCHAR) AS valid_from,
       CAST(max(d) AS VARCHAR) AS valid_to,
       count(*) AS n_days
FROM runs GROUP BY user_id, status, island
"""


@query("scd2_user_status_history", oracle=_SCD2_ORACLE)
def scd2_user_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event log:
    each user's dominant daily event type (ties broken by count desc,
    then name) collapsed into contiguous [valid_from, valid_to] runs
    via the gaps-and-islands double-row_number idiom.

    Scale: the only pass over raw events is the (user, day, type)
    count — map-side combined, one shuffle.  Every window after that
    partitions by user (or user+status) over the tiny daily frame;
    the island grouping is a plain aggregate.  This is how a 100 TB
    event log becomes a dimension table without a stateful scan.
    """
    from ..operators.scd import collapse_runs

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("d"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_dom = Window.partitionBy("user_id", "d").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    dominant = (
        daily.withColumn("rk", F.row_number().over(w_dom))
        .filter(F.col("rk") == 1)
        .select("user_id", "d", F.col("event_type").alias("status"))
    )
    return collapse_runs(dominant, "user_id", "d", "status").select(
        "user_id",
        "status",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        F.col("n_steps").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Discriminative terms: tf × (N − df) — tf-idf's shape in exact integers.
# ---------------------------------------------------------------------------

_DISCRIM_TOPK = 5

_DISCRIM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
    FROM documents
),
filt AS (
    SELECT * FROM toks
    WHERE length(term) > 2
      AND term NOT IN ({{stopwords}})
),
tf AS (SELECT lang, term, count(*) AS tf FROM filt GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM filt GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT lang, term, tf, df, score, rk
FROM (
    SELECT t.lang, t.term, t.tf, d.df,
           t.tf * (n.n_docs - d.df) AS score,
           CAST(row_number() OVER (
               PARTITION BY t.lang
               ORDER BY t.tf * (n.n_docs - d.df) DESC, t.term
           ) AS INT) AS rk
    FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
) x
WHERE rk <= {_DISCRIM_TOPK}
"""


def _discrim_oracle() -> str:
    quoted = ", ".join(f"'{s}'" for s in sorted(STOPWORDS))
    return _DISCRIM_ORACLE.format(stopwords=quoted)


@query("text_discriminative_terms", oracle=_discrim_oracle())
def text_discriminative_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top discriminative terms per language, scored tf·(N−df) —
    tf-idf's monotone shape in EXACT integer arithmetic (a log-based
    idf would hang cross-engine determinism on libm-vs-JVM last-ulp
    agreement; tf·(N−df) ranks the same way for a fixed corpus and
    hashes identically everywhere).

    Scale: tokenization explodes map-side; tf is a two-phase count on
    (lang, term); df is a count-distinct on term (Spark plans the
    standard two-shuffle expand); the scoring join moves |vocabulary|
    rows, and the final window partitions by lang over an
    already-tiny frame.  Raw tokens never cross a shuffle un-counted.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term"),
    ).filter((F.length("term") > 2) & ~F.col("term").isin(list(STOPWORDS)))
    from ..session import materialize

    # reduce the token instances to (lang, term, doc) grain ONCE (one
    # combinable shuffle of the instance stream), then derive tf and df
    # from the checkpointed doc-grain frame — the earlier shape ran the
    # regex explode twice, once per aggregate
    per_doc = materialize(
        toks.groupBy("lang", "term", "doc_id").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    tf = per_doc.groupBy("lang", "term").agg(F.sum("c").alias("tf"))
    df = per_doc.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _DISCRIM_TOPK)
        .select("lang", "term", "tf", "df", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Point-in-time dimension join: fact rows joined to the SCD2 status
# run valid AT the fact's time — the lookup every SCD2 history exists
# to serve (scd2_user_status_history builds the dimension; this query
# consumes it).
# ---------------------------------------------------------------------------

_PIT_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d, event_type, count(*) AS n
    FROM events GROUP BY 1, 2, 3
),
dominant AS (
    SELECT user_id, d, event_type AS status,
           row_number() OVER (
               PARTITION BY user_id, d ORDER BY n DESC, event_type
           ) AS rk
    FROM daily
),
runs AS (
    SELECT user_id, d, status,
           row_number() OVER (PARTITION BY user_id ORDER BY d)
         - row_number() OVER (PARTITION BY user_id, status ORDER BY d) AS island
    FROM dominant WHERE rk = 1
),
scd AS (
    SELECT user_id, status,
           min(d) AS valid_from, max(d) AS valid_to
    FROM runs GROUP BY user_id, status, island
),
purchases AS (
    SELECT user_id, CAST(ts AS DATE) AS d, value
    FROM events WHERE event_type = 'purchase'
)
SELECT s.status,
       count(*) AS n_purchases,
       CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
       CAST(SUM(date_diff('day', s.valid_from, p.d)) AS BIGINT) AS run_age_days
FROM purchases p
JOIN scd s
  ON s.user_id = p.user_id
 AND p.d BETWEEN s.valid_from AND s.valid_to
GROUP BY s.status
"""


@query("pit_purchase_status", oracle=_PIT_ORACLE)
def pit_purchase_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every purchase matched to the SCD2 status
    run valid ON the purchase day, then revenue/age rolled up per
    status — "what state was this user in when they converted?".

    The oracle expresses the lookup as an interval join (BETWEEN
    valid_from AND valid_to); the Spark plan deliberately does NOT —
    SCD2 runs are non-overlapping and ordered per user, so the
    containing run is exactly the latest run with valid_from <= day:
    a backward as-of join (operators/asof.py union+window carry, ONE
    user-keyed shuffle, no range cross-product).  That as-of rewrite
    is the scale story: at 100 TB the interval form would need a
    banded join, while the as-of carry rides the same exchange the
    per-user windows already use.  Purchase days are observed days,
    so every purchase lands inside a run (inclusive-at-equality: a
    run starting on the purchase day matches — the carry sorts the
    dimension row first at ties).

    Fact work: one (user, day, type) count over raw events + one
    purchase projection; everything after runs on the tiny daily/run
    frames.  Sums are exact-decimal, ages exact integers.
    """
    from ..operators.asof import asof_join
    from ..operators.scd import collapse_runs

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("d"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_dom = Window.partitionBy("user_id", "d").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    dominant = (
        daily.withColumn("rk", F.row_number().over(w_dom))
        .filter(F.col("rk") == 1)
        .select("user_id", "d", F.col("event_type").alias("status"))
    )
    scd = collapse_runs(dominant, "user_id", "d", "status").select(
        "user_id", "status", F.col("valid_from").alias("d")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d"), "value"
    )
    matched = asof_join(
        purchases, scd, keys=["user_id"], ts_col="d",
        right_value_cols=["status"], direction="backward",
    )
    return matched.groupBy(F.col("asof_status").alias("status")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("purchase_value"),
        F.sum(F.datediff(F.col("d"), F.col("asof_ts"))).alias("run_age_days"),
    )


# ---------------------------------------------------------------------------
# A/B test readout — two-proportion z statistic from exact counts,
# arms assigned by portable hash (the experiment-analysis staple).
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH assign AS (
    SELECT user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
               AS arm,
           CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                THEN 1 ELSE 0 END AS converted
    FROM events
    GROUP BY user_id
),
arms AS (
    SELECT arm,
           count(*) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted
    FROM assign GROUP BY arm
),
wide AS (
    SELECT
        max(CASE WHEN arm = 0 THEN n_users END) AS n0,
        max(CASE WHEN arm = 0 THEN n_converted END) AS c0,
        max(CASE WHEN arm = 1 THEN n_users END) AS n1,
        max(CASE WHEN arm = 1 THEN n_converted END) AS c1
    FROM arms
)
SELECT n0, c0, n1, c1,
       CAST(c0 AS DOUBLE) / n0 AS rate0,
       CAST(c1 AS DOUBLE) / n1 AS rate1,
       (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
         / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))
           AS z_stat
FROM wide
"""


@query("ab_test_proportions", oracle=_AB_ORACLE)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout for a hash-assigned experiment:
    users split 50/50 by portable md5 parity (deterministic,
    retry-stable — the same no-rand() convention as shard
    assignment), conversion = a heavy-buyer threshold (>= 14 purchases — "any
    purchase" saturates this corpus at 100%, degenerating the pooled
    variance to zero), and the z statistic
    computed from EXACT integer counts with only IEEE-deterministic
    double ops at the end (divisions and one correctly-rounded sqrt
    — no order-dependent float accumulation anywhere).

    Scale shape: ONE user-keyed aggregate reduces the fact to
    (user, arm, converted); the arm roll-up is a 2-key map-side
    combine; the final fold is 1 row.  This is the readout an
    experimentation platform recomputes per metric per day.
    """
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 14
        ).cast("int").alias("converted")
    ).select(
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 2
        ).alias("arm"),
        "converted",
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    return wide.select(
        "n0", "c0", "n1", "c1",
        r0.alias("rate0"),
        r1.alias("rate1"),
        # try_divide: pooled rate 0 or 1 (zero or universal conversion
        # — a legal day) zeroes the denominator; DuckDB's x/0 is NULL,
        # and ANSI Spark would throw instead
        F.try_divide(
            r0 - r1,
            F.sqrt(
                pool * (F.lit(1) - pool)
                * (F.lit(1).cast("double") / F.col("n0") + F.lit(1).cast("double") / F.col("n1"))
            ),
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Dispersion from exact sufficient statistics — variance / CV per
# event type without the built-in stddev's accumulation-order drift.
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH s AS (
    SELECT event_type,
           count(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS s1,
           SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
               AS s2
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       CAST(s1 AS DOUBLE) / n AS mean_value,
       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n
           AS var_pop,
       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n)
         / (CAST(s1 AS DOUBLE) / n) AS cv
FROM s
"""


@query("value_dispersion_by_type", oracle=_DISPERSION_ORACLE)
def value_dispersion_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance and coefficient of variation per event
    type from EXACT sufficient statistics (n, Σv, Σv² as decimals —
    the same mergeable-moments form as the Pearson query), with the
    closed-form final arithmetic in deterministic double ops —
    the built-in stddev's float accumulation is order-dependent and
    would never hash-match cross-engine.  The sufficient statistics
    are also the INCREMENTAL form: per-partition moments merge by
    addition, so a daily rollup maintains variance without rescans.

    Scale: one map-side-combined aggregate, key space = #types.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var = (s2d - s1d * s1d / F.col("n")) / F.col("n")
    return s.select(
        "event_type",
        "n",
        (s1d / F.col("n")).alias("mean_value"),
        var.alias("var_pop"),
        (F.sqrt(var) / (s1d / F.col("n"))).alias("cv"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS trend via exact sufficient statistics — the regression
# shape that scales: each group folds to five integers (n, Σx, Σy,
# Σxy, Σx²) in ONE map-side-combinable aggregate, and slope/intercept
# are closed-form divisions at the end.  No iterative fitting, no
# float accumulation, no per-group data movement beyond the agg.
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH daily AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE))
              AS BIGINT) AS x,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
           AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
s AS (
  SELECT nationkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         SUM(CAST(x AS DECIMAL(19,0)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(19,0)) * x) AS sxx
  FROM daily GROUP BY 1
)
SELECT nationkey, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day,
       (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents
FROM s
WHERE n * sxx - sx * sx <> 0
"""


@query("nation_revenue_trend_ols", oracle=_OLS_ORACLE)
def nation_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of daily revenue: slope (cents/day) and
    intercept from the closed-form normal equations over exact
    integer sufficient statistics — x is the day index, y the day's
    revenue in cents, and (n, Σx, Σy, Σxy, Σx²) accumulate as
    DECIMAL(38,0)/BIGINT so the fit is engine-exact; doubles appear
    only in the two final fixed-order division expressions.

    Scale shape: the corpus collapses to (nation, day) grain in one
    map-side-combinable aggregate (the join's customer side is
    dim-sized, AQE broadcasts), then each nation folds to FIVE
    NUMBERS in a second map-combinable agg — the sufficient-
    statistics pattern that fits a trend per key across 100 TB
    without any per-group sort, window, or iterative pass.  Degenerate
    groups (a single day: zero x-variance) are excluded exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            )
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast(
                    "bigint"
                )
            ).alias("y")
        )
    )
    s = daily.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return s.filter(den != 0).select(
        "nationkey",
        "n",
        slope.alias("slope_cents_per_day"),
        (
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
    )
