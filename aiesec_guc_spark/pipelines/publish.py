"""The daily publish pipeline — the reference's whole lifecycle
(scrape → snapshot → delta → notify, SURVEY.md §3) re-expressed as a
composition of this engine's operators on the analytics side:

    DQ gate → daily mart → partitioned snapshot → compaction → notify

Each stage is an operator that already has its own oracle/pytest
evidence; this module pins how they compose (ordering, failure
behavior, idempotency) — the part the reference encodes implicitly in
its cron script (main.yml) and that actually breaks in production.

Failure semantics:

- The DQ gate runs FIRST and raises ``PublishBlocked`` on any
  blocking violation — a bad input day never reaches the published
  table (the reference, by contrast, publishes whatever the scrape
  returned).  Checks are split blocking/advisory per deployment
  (the synthetic corpus intentionally contains shipped-before-ordered
  rows, so that check defaults to advisory here).
- The snapshot write is per-``run_date`` dynamic-partition-overwrite:
  a rerun of the same day REPLACES that day (cron retry safe), never
  appends duplicates, never touches other days.
- Compaction swaps via temp-dir + rename after the write, so readers
  of the published path never observe a half-rewritten day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.maintenance import compact_table
from ..operators.snapshot import write_snapshot
from ..sinks.report import notify_if_nonempty

DEFAULT_BLOCKING = frozenset(
    {"dup_orderkeys", "orphan_orders", "orphan_lineitems", "nonpositive_price"}
)


class PublishBlocked(RuntimeError):
    """Raised when a blocking DQ check has violations; carries the
    per-check counts so the alert can say which."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(f"publish blocked by DQ violations: {violations}")


def _render_summary(n_rows: int) -> str:
    if n_rows == 0:
        return ""
    return f"daily ops mart published: {n_rows} rows"


def publish_daily(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_date: str,
    blocking: frozenset[str] = DEFAULT_BLOCKING,
    send=None,
) -> dict:
    """Run the full publish: returns a manifest of what happened.

    ``send`` is the injected notification transport (same seam as
    ``sinks.report.notify_if_nonempty`` / ``sinks.smtp``).
    """
    from ..queries import spark_queries

    queries = spark_queries()

    # 1. DQ gate on the inputs.
    dq = {
        r["check_name"]: r["n_violations"]
        for r in queries["dq_constraint_checks"](spark, sf_dir).collect()
    }
    blocked = {k: v for k, v in dq.items() if k in blocking and v > 0}
    if blocked:
        raise PublishBlocked(blocked)

    # 2. Build the daily mart (the flagship events-side composite).
    mart = queries["events_daily_ops_mart"](spark, sf_dir)

    # 3. Publish as an idempotent run_date partition.
    base = f"{out_dir.rstrip('/')}/daily_ops_mart"
    write_snapshot(mart, base, run_date)

    # 4. Compact the day just written (tiny marts → one file).
    stats = compact_table(spark, f"{base}/run_date={run_date}")

    # 5. Guarded notification.  ONE count job serves both the body
    # and the manifest.
    published = spark.read.parquet(base).filter(F.col("run_date") == run_date)
    n_rows = published.count()
    notified = notify_if_nonempty(_render_summary(n_rows), send=send)

    return {
        "run_date": run_date,
        "dq": dq,
        "n_rows": n_rows,
        "compaction": stats,
        "notified": notified,
    }
