"""The plan text ``tools/explain_query.py`` prints: the formatted
physical plan, and the AQE final plan of an executed query.

``formatted_plan`` returns the same text as
``df.explain("formatted")`` prints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


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
