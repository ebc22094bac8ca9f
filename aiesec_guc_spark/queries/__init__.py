"""Named-query registry — the driver contract surface.

Every operator claimed in SURVEY.md §2 is registered here as a
``Query``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (for
everything SQL-expressible) the equivalent ANSI SQL the DuckDB oracle
runs on the same parquet tables.  ``__spark_entry__.py`` re-exports
this registry.

Cross-engine determinism conventions (every query follows these so the
driver's order-insensitive value-hash matches bit-for-bit):

- **Money/double sums** go through exact decimal arithmetic:
  ``SUM(CAST(x AS DECIMAL(18,2)))`` in both engines, final result
  ``CAST(... AS DOUBLE)``.  Summing binary doubles directly is
  order-dependent and would never hash-match between engines.
- **Averages** are computed as ``CAST(exact_decimal_sum AS DOUBLE) /
  count`` — a single double division is deterministic.
- **Timestamps** are surfaced as epoch microseconds (``unix_micros`` /
  ``epoch_us``) — BIGINT on both sides, no timezone/format ambiguity.
- **Dates** are surfaced as ISO strings (``CAST(d AS STRING)``).
- **Counts** are BIGINT on both sides (DuckDB ``SUM(int)`` returns
  HUGEINT — always cast).
- **Top-k / limit** queries break ties on a unique key so both engines
  pick the same rows.
- **Portable hashing** (dedup/LSH families) uses
  ``md5`` — identical everywhere — with the first 8 hex digits as a
  non-negative 32-bit integer: Spark ``conv(substring(md5(x),1,8),16,10)``,
  DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

# Submodules that register queries on import.
_QUERY_MODULES = [
    "relational",
    "tpchx",
    "analytics",
    "product",
    "timeseries",
    "quality",
    "similarity",
    "multimodal",
    "udaf",
    "dedup",
    "star",
    "events",
    "text",
    "parity",
]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None

    @property
    def doc(self) -> str:
        # Read LIVE from the function: modules interpolate build-time
        # constants into __doc__ after definition (a docstring cannot
        # be an f-string), which runs after @query captures fn.
        return self.fn.__doc__ or ""


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__name__}.{mod}")


def registry() -> dict[str, Query]:
    _load_all()
    return dict(_REGISTRY)


def spark_queries() -> dict[str, SparkQuery]:
    return {name: q.fn for name, q in registry().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}
