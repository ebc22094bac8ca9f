"""Exact global ranks, equal-frequency buckets and exclusive running
maxima over a strict total order, each as one window ordered by that
order and partitioned by nothing.

Every input these operators see here is small (the largest estimate,
``embedding_norm_outliers`` at sf0.1, is 12.8 MB of plan), so one
window task holds all rows and the plan runs no range-sampling pass,
no per-partition offset collect and no broadcast join.

``exact_global_rank`` is the general form: exact ``row_number`` and
(optionally) an exact inclusive running sum, plus the global count
and sum as Python scalars, so callers embed them as literals instead
of a second count-over-all-rows window.  ``exact_ntile`` maps rank to
bucket with the native ``ntile(k)`` formula (the first ``N mod k``
buckets get one extra row); ``exact_global_cummax`` is the max-monoid
twin of the running sum.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def _global_order(order_exprs: list[str | Column]):
    return Window.orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_exprs])


def exact_global_rank(
    df: DataFrame,
    order_exprs: list[str | Column],
    sum_col: str | None = None,
) -> tuple[DataFrame, int, object]:
    """Append an exact global ``_grank`` (= ``row_number`` over
    ``order_exprs``) — and, when ``sum_col`` is given, an exact
    inclusive running sum ``_gcumsum``.  Returns
    ``(ranked_df, total_count, total_sum)`` where the totals are
    driver-side scalars (``total_sum`` is ``None`` without
    ``sum_col``; exact ``Decimal`` for decimal columns, and a zero of
    that type on empty input), so callers can embed them as literals.

    ``order_exprs`` must be a STRICT total order (include a unique
    tie-break key), so the ranks are deterministic.  Descending
    orders are fine (pass ``F.desc("c")``).

    The returned frame is materialized (lineage-truncated), so
    self-joins on it compute the ranking once.
    """
    w = _global_order(order_exprs)
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
    tsum = None
    if sum_col is not None:
        tsum = trow["_s"]
        if tsum is None:  # empty input
            tsum = Decimal(0) if dict(out.dtypes)["_gcumsum"].startswith("decimal") else 0
    return out, trow["_n"], tsum


def exact_ntile(df: DataFrame, order_cols: list[str], n_buckets: int) -> DataFrame:
    """Append an exact ``bucket`` column (1..n_buckets, native-ntile
    semantics over ``order_cols``).

    ``order_cols`` must be a STRICT total order (include a unique
    tie-break key).
    """
    ranked, total, _ = exact_global_rank(df, list(order_cols))
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
    df: DataFrame, order_exprs: list[str | Column], max_col: str
) -> DataFrame:
    """Append ``_gcummax_excl``: the exact running max of ``max_col``
    over all STRICTLY EARLIER rows in the global order (exclusive
    prefix max; NULL for the global first row).  ``order_exprs`` must
    be a strict total order.

    Used by the Pareto-frontier (skyline) query: dominance against
    "any strictly-better-on-x row" is exactly an exclusive prefix max
    of y in x-descending order.

    A LAZY plan: no totals are returned, so it runs no job of its own;
    a caller that consumes the result twice recomputes the window.
    """
    w = _global_order(order_exprs)
    return df.withColumn(
        "_gcummax_excl",
        F.max(max_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
