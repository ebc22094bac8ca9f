"""Plan inspection helpers — assertions about the *physical* plan, so
scale properties (broadcast vs shuffle join, pushdown, partial agg)
are pinned by tests instead of hoped for.

``formatted_plan`` returns the same text as
``df.explain("formatted")`` prints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def analyzed_plan(df: DataFrame) -> str:
    """The analyzed logical plan — where explicit join hints
    (``ResolvedHint``) are still visible before the optimizer
    consumes them."""
    return df._jdf.queryExecution().analyzed().toString()


def final_adaptive_plan(df: DataFrame) -> str:
    """Execute the query and return the AQE *final* physical plan —
    the join strategies actually used at runtime, which with AQE can
    differ from the static ``explain`` output.

    Must execute THIS Dataset's own QueryExecution: ``df.count()``
    builds a derived plan (groupBy().count()) and leaves the
    DataFrame's adaptive plan un-finalized (isFinalPlan=false), so
    only ``collect()`` (or an equivalent action on the same Dataset)
    yields the runtime plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Two-phase agg: a partial HashAggregate below the exchange."""
    plan = formatted_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial" in plan


def global_window_count(df: DataFrame) -> int:
    """Number of physical Window nodes with an EMPTY partition spec —
    each one funnels its entire input through a single task (Exchange
    SinglePartition), the scale-killer the offset-merge rank
    (operators/quantiles.py) exists to avoid.  Walks the pre-AQE
    physical plan via py4j and inspects ``WindowExec.partitionSpec``
    directly, so plans that legitimately contain other SinglePartition
    exchanges (e.g. a scale-free final 1-row aggregate) don't
    false-positive a string match."""
    n = 0

    def walk(node) -> None:
        nonlocal n
        if node.nodeName() in ("Window", "WindowGroupLimit"):
            try:
                if node.partitionSpec().isEmpty():
                    n += 1
            except Exception:
                n += 1  # can't prove it's partitioned — count it
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return n


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node ('' when absent)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [c.split(":")[0].strip() for c in inner.split(",") if ":" in c]
    return []
