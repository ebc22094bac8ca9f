"""Assertion helpers the tests share: physical-plan inspection, so
scale properties (broadcast vs shuffle join, pushdown, partial agg,
no single-partition window) are pinned by tests instead of hoped for,
and a style audit of the workbooks ``sinks/xlsxlite.py`` writes."""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from aiesec_guc_spark.plans.explain import formatted_plan

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def analyzed_plan(df: DataFrame) -> str:
    """The analyzed logical plan — where explicit join hints
    (``ResolvedHint``) are still visible before the optimizer
    consumes them."""
    return df._jdf.queryExecution().analyzed().toString()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Two-phase agg: a partial HashAggregate below the exchange."""
    plan = formatted_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial" in plan


def global_window_count(df: DataFrame) -> int:
    """Number of physical Window nodes with an EMPTY partition spec —
    each one funnels its entire input through a single task (Exchange
    SinglePartition), which a corpus-sized frame must avoid.  Walks the pre-AQE
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


def read_styles(path: str) -> dict:
    """Style audit of a workbook ``xlsxlite.write_xlsx`` wrote: per-cell
    style ids plus the declared column widths — enough to assert the
    header fill, premium highlight, and autofit survived the round
    trip."""
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    cell_styles: dict[str, int] = {}
    for c in root.iter(f"{_NS}c"):
        cell_styles[c.get("r", "")] = int(c.get("s", "0"))
    widths = {
        int(col.get("min")): float(col.get("width"))
        for col in root.iter(f"{_NS}col")
    }
    return {"cell_styles": cell_styles, "col_widths": widths}
