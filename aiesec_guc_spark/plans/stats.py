"""Catalyst plan-statistics access.

One robust accessor for the optimizer's size estimate, read by the
dot-kernel gate (``operators/similarity.py`` ``estimated_scan_rows``).

Why it exists (r16): ``stats().sizeInBytes()`` crosses py4j as a PLAIN
PYTHON INT on this runtime (py4j auto-converts the scala BigInt), so
the original per-site ``int(x.toString())`` raised AttributeError and
every caller silently fell into its "estimate unavailable" fallback.
This helper handles both surfaces (direct int, JavaObject with
toString) and is unit-tested against a live scan so the regression
can't reappear silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Estimates at or above this are treated as absent: LogicalRDD and
#: other statless nodes default to spark.sql.defaultSizeInBytes
#: (Long.MaxValue unless configured), which would otherwise read as
#: "enormous input" instead of "unknown".
_GARBAGE_FLOOR = 1 << 50


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size-in-bytes estimate for ``df``'s plan, or
    None when it is unavailable or garbage (absent stats, LogicalRDD
    default size).  Callers must treat None as "unknown", and pick
    their scale-SAFE branch for it."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except Exception:  # pragma: no cover — py4j surface drift
        return None
    try:
        size = int(raw)
    except (TypeError, ValueError):
        try:
            size = int(raw.toString())
        except Exception:  # pragma: no cover — unknown wrapper type
            return None
    if size <= 0 or size >= _GARBAGE_FLOOR:
        return None
    return size
