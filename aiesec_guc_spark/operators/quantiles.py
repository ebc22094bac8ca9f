"""Exact global ranks / equal-frequency buckets WITHOUT a global
single-task sort — the offset-merge global rank.

The naive ``Window.orderBy`` with no partitionBy ships every row
through ONE window task — a driver-adjacent bottleneck at 100 TB.
This operator instead:

1. ``repartitionByRange`` on the strict total order — partitions hold
   disjoint, globally ordered key ranges; each ranks independently.
2. Per-partition ``row_number`` (window partitioned by the range
   partition id — every window task handles one partition's rows).
3. Per-partition counts are collected — O(#partitions) rows on the
   driver, scale-free — prefix-summed into offsets, and broadcast
   back; offset + local rank IS the exact global rank.
4. (``exact_ntile``) the standard ntile formula (first ``N mod k``
   buckets get one extra row) maps rank → bucket, matching native
   ``ntile(k)`` bit-for-bit.

``exact_global_rank`` is the general form: exact ``row_number`` and
(optionally) an exact inclusive running sum over any strict total
order, plus the scale-free global count/sum as Python scalars so
callers never need a ``Window.partitionBy()`` (single-partition)
count-over-all-rows either.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize

#: Target bytes per offset-merge range partition (``_range_partitions``).
RANGE_PART_BYTES = 64 << 20
#: Input-size cap under which the offset merge is skipped for one
#: partitioned-by-nothing window (``_fits_single_partition``): one
#: range partition's budget.  <= 0 disables that path.
RANK_SMALL_BYTES = 64 << 20


def _range_partitions(df: DataFrame) -> int:
    """Scale-adaptive range-partition count for the offset-merge
    operators (optimization guide §2: derive partitioning from input
    size, never from a constant tuned for one deployment).

    The old constant — ``defaultParallelism`` — under-partitions as the
    input grows: on a 100 TB cluster it makes each range partition hold
    rows/total-cores (tens of GB per sort task — spill, then OOM).
    Instead, take the MAX of the session's parallelism and the count
    that sizes partitions to ``RANGE_PART_BYTES`` (64 MB) from
    Catalyst's plan-size estimate.  Never go BELOW the session's
    parallelism: the estimate is of (compressed, projected) plan
    bytes, and shrinking the count serializes the CPU-bound
    sort+window that follows — measured this round: lineitem's ~11 MB
    parquet estimate mapped to 2 range partitions and quadrupled
    ``weighted_median_price``.  The upper clamp (16×parallelism) keeps
    a garbage estimate (LogicalRDD inputs default to
    ``spark.sql.defaultSizeInBytes``) from exploding the task count;
    the driver-side offset merge stays O(#partitions) either way.
    """
    spark = df.sparkSession
    fallback = max(spark.sparkContext.defaultParallelism, 2)
    # r16 fix: the original inline int(...sizeInBytes().toString())
    # raised AttributeError on runtimes where py4j auto-converts the
    # scala BigInt to a plain int, silently disabling the size-derived
    # count — the shared accessor handles both surfaces.
    from ..plans.stats import plan_size_bytes

    size = plan_size_bytes(df)
    if size is None:  # absent/garbage estimate
        return fallback
    target = RANGE_PART_BYTES
    return max(fallback, min((size + target - 1) // target, 16 * fallback))


def _fits_single_partition(df: DataFrame, est_bytes: int | None) -> bool:
    """True when ``df`` is estimated to fit in a single range
    partition's byte budget (``RANK_SMALL_BYTES``), so the operators
    below may plan ONE partitioned-by-nothing window instead of the
    offset merge: splitting such an input across ``defaultParallelism``
    range partitions buys no parallelism the task size needed, while
    paying a range-sampling pass, a checkpoint, a driver offset
    collect and a broadcast join per call (r16, guide §1.2: choose the
    algorithm by input size).  The plan-shape tests set the cap to 0
    to pin the scale plan.

    ``est_bytes`` lets a caller supply its own upper bound for inputs
    whose Catalyst estimate is absent (None falls back to the plan
    estimate; unknown estimates pick the scale-safe offset path).
    The estimate is of the operator's INPUT plan — at production scan
    sizes it is orders of magnitude above the cap, so the offset
    merge is untouched exactly where it matters.
    """
    if RANK_SMALL_BYTES <= 0:
        return False
    from ..plans.stats import plan_size_bytes

    size = est_bytes if est_bytes is not None else plan_size_bytes(df)
    return size is not None and size <= RANK_SMALL_BYTES


def exact_global_rank(
    df: DataFrame,
    order_exprs: list[str | Column],
    sum_col: str | None = None,
    est_bytes: int | None = None,
) -> tuple[DataFrame, int, object]:
    """Append an exact global ``_grank`` (= ``row_number`` over
    ``order_exprs``) — and, when ``sum_col`` is given, an exact
    inclusive running sum ``_gcumsum`` — with NO single-partition
    window.  Returns ``(ranked_df, total_count, total_sum)`` where the
    totals are driver-side scalars (``total_sum`` is ``None`` without
    ``sum_col``; exact ``Decimal`` for decimal columns), so callers
    can embed them as literals instead of a global count window.

    ``order_exprs`` must be a STRICT total order (include a unique
    tie-break key) — equal keys across a partition boundary would
    otherwise make the range partitioning's split nondeterministic.
    Descending orders are fine (pass ``F.desc("c")``).

    The returned frame is materialized (lineage-truncated), so
    self-joins on it compute the ranking once.

    Size gate (r16, guide §1.2): when the input plan's byte estimate
    fits one range partition's budget (``_fits_single_partition``),
    the offset-merge machinery cannot add parallelism the task size
    needed and its fixed costs (range-sampling pass, checkpoint,
    driver collect, broadcast join) dominate — so the operator plans
    the direct one-partition window instead.  Both paths produce
    IDENTICAL ranks/cumsums: same strict total order, same
    ``row_number``/running-sum semantics, exact decimal arithmetic in
    both (float ``sum_col`` totals could differ in last-bit rounding
    between the two fold orders; every registry caller sums decimals).
    Unknown estimates take the offset path — the scale-safe side.
    """
    spark = df.sparkSession
    exprs_gate = [F.col(c) if isinstance(c, str) else c for c in order_exprs]
    if _fits_single_partition(df, est_bytes):
        w = Window.orderBy(*exprs_gate)
        out = df.withColumn("_grank", F.row_number().over(w).cast("long"))
        if sum_col is not None:
            out = out.withColumn(
                "_gcumsum",
                F.sum(sum_col).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
        out = materialize(out)
        aggs = [F.count(F.lit(1)).alias("_n")]
        if sum_col is not None:
            aggs.append(F.sum(sum_col).alias("_s"))
        trow = out.agg(*aggs).collect()[0]
        total = trow["_n"]
        tsum = None
        if sum_col is not None:
            sum_type = dict(out.dtypes)["_gcumsum"]
            tsum = trow["_s"]
            if tsum is None:  # empty input — match the offset path's seed
                tsum = Decimal(0) if sum_type.startswith("decimal") else 0
        return out, total, tsum
    nparts = _range_partitions(df)
    exprs = exprs_gate
    ranged = materialize(
        df.repartitionByRange(nparts, *exprs).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    aggs = [F.count(F.lit(1)).alias("_pn")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("_ps"))
    per = ranged.groupBy("_pid").agg(*aggs)
    sum_type = dict(per.dtypes).get("_ps")
    rows = sorted(per.collect(), key=lambda r: r["_pid"])

    offsets: list[tuple] = []
    racc = 0
    sacc = (Decimal(0) if (sum_type or "").startswith("decimal") else 0) if sum_col else None
    for r in rows:
        offsets.append((r["_pid"], racc, sacc) if sum_col else (r["_pid"], racc))
        racc += r["_pn"]
        if sum_col is not None and r["_ps"] is not None:
            sacc += r["_ps"]
    schema = "_pid int, _roff long" + (f", _soff {sum_type}" if sum_col else "")
    off = F.broadcast(spark.createDataFrame(offsets, schema))

    wloc = Window.partitionBy("_pid").orderBy(*exprs)
    out = ranged.withColumn("_lrank", F.row_number().over(wloc))
    drop = ["_pid", "_roff", "_lrank"]
    if sum_col is not None:
        out = out.withColumn(
            "_lcum",
            F.sum(sum_col).over(
                wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        drop += ["_soff", "_lcum"]
    out = out.join(off, "_pid").withColumn(
        "_grank", F.col("_roff") + F.col("_lrank")
    )
    if sum_col is not None:
        # keep the exact sum dtype of the per-partition running sum so
        # downstream decimal comparisons stay exact (never double)
        out = out.withColumn(
            "_gcumsum", (F.col("_soff") + F.col("_lcum")).cast(sum_type)
        )
    return out.drop(*drop), racc, sacc


def exact_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    est_bytes: int | None = None,
) -> DataFrame:
    """Append an exact ``bucket`` column (1..n_buckets, native-ntile
    semantics over ``order_cols``) without any global sort.

    ``order_cols`` must be a STRICT total order (include a unique
    tie-break key) — equal keys across a partition boundary would
    otherwise make the range partitioning's split nondeterministic.
    """
    ranked, total, _ = exact_global_rank(df, list(order_cols), est_bytes=est_bytes)
    q, rem = divmod(total, n_buckets)
    cut = rem * (q + 1)
    grank = F.col("_grank")
    bucket = F.when(
        grank <= F.lit(cut),
        F.expr(f"CAST((_grank + {q}) DIV {q + 1} AS INT)"),
    ).otherwise(
        F.expr(
            f"CAST({rem} + (_grank - {cut} + {max(q, 1) - 1})"
            f" DIV {max(q, 1)} AS INT)"
        )
    )
    return ranked.withColumn("bucket", bucket).drop("_grank")


def exact_global_cummax(
    df: DataFrame,
    order_exprs: list[str | Column],
    max_col: str,
    est_bytes: int | None = None,
) -> DataFrame:
    """Append ``_gcummax_excl``: the exact running max of ``max_col``
    over all STRICTLY EARLIER rows in the global order (exclusive
    prefix max; NULL for the global first row) — the max-monoid twin
    of ``exact_global_rank``'s running sum, with the same offset-merge
    shape and no single-partition window.

    Same contract: ``order_exprs`` must be a strict total order.  The
    driver folds one max per partition (O(#partitions) rows); each
    partition combines its local exclusive running max with the
    offset via ``greatest`` (null-skipping on both engines).

    Used by the Pareto-frontier (skyline) query: dominance against
    "any strictly-better-on-x row" is exactly an exclusive prefix max
    of y in x-descending order.

    Size gate (r16): same single-partition small path as
    ``exact_global_rank`` — a one-window LAZY plan (no totals are
    returned, so the small path runs zero extra jobs; a caller that
    consumes the result twice recomputes the tiny window, which is
    cheaper than the checkpoint it replaces).
    """
    spark = df.sparkSession
    exprs = [F.col(c) if isinstance(c, str) else c for c in order_exprs]
    if _fits_single_partition(df, est_bytes):
        w = Window.orderBy(*exprs)
        return df.withColumn(
            "_gcummax_excl",
            F.max(max_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
    nparts = _range_partitions(df)
    ranged = materialize(
        df.repartitionByRange(nparts, *exprs).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    per = ranged.groupBy("_pid").agg(F.max(max_col).alias("_pm"))
    max_type = dict(per.dtypes)["_pm"]
    rows = sorted(per.collect(), key=lambda r: r["_pid"])

    offsets: list[tuple] = []
    macc = None  # max over all earlier partitions; None before any
    for r in rows:
        offsets.append((r["_pid"], macc))
        if r["_pm"] is not None and (macc is None or r["_pm"] > macc):
            macc = r["_pm"]
    off = F.broadcast(
        spark.createDataFrame(offsets, f"_pid int, _moff {max_type}")
    )

    wloc = Window.partitionBy("_pid").orderBy(*exprs)
    out = (
        ranged.withColumn(
            "_lmax",
            F.max(max_col).over(
                wloc.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .join(off, "_pid")
        # greatest skips NULLs in both engines: first row of the first
        # partition gets NULL (no earlier row anywhere), first row of a
        # later partition gets the broadcast offset alone.
        .withColumn("_gcummax_excl", F.greatest("_moff", "_lmax"))
    )
    return out.drop("_pid", "_moff", "_lmax")
