"""Rolling distinct counts over a day grain — the spread-and-count
operator behind WAU/MAU-style metrics.

Sliding COUNT DISTINCT has no window-function form in any engine;
the distributed shape is: reduce the fact to distinct (key, day)
pairs FIRST (the only fact-sized shuffle), fan each pair out to the
``window_days`` target days it makes active, and distinct-count per
target day.  Post-reduction work is |keys × days| × window,
independent of event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rolling_distinct_count(
    days: DataFrame,
    key_col: str = "user_id",
    day_col: str = "d",
    window_days: int = 7,
) -> DataFrame:
    """Distinct ``key_col`` per day over the trailing ``window_days``
    window ending that day.

    ``days`` must already be distinct (key, day) rows — dedup the
    fact before calling (that reduction is the caller's one
    fact-sized shuffle).  Target days are clipped to the observed
    [min, max] day range via a broadcast 1-row bounds aggregate, so
    no partial leading/trailing windows are emitted beyond the data.

    Returns (day: date, n_distinct: long).
    """
    from ..session import materialize

    # Two consumers (bounds aggregate + spread) — materialized so the
    # caller's fact-sized dedup runs ONCE, not once per consumer
    # (Catalyst has no cross-consumer plan CSE; verified: without
    # this, weekly_active_users scanned the fact 4x).
    days = materialize(days)
    b = days.agg(F.min(day_col).alias("mn"), F.max(day_col).alias("mx"))
    spread = days.select(
        key_col,
        F.explode(
            F.sequence(F.col(day_col), F.date_add(F.col(day_col), window_days - 1))
        ).alias("target"),
    )
    return (
        spread.crossJoin(F.broadcast(b))
        .filter(F.col("target").between(F.col("mn"), F.col("mx")))
        .groupBy(F.col("target").alias("day"))
        .agg(F.countDistinct(key_col).alias("n_distinct"))
    )
