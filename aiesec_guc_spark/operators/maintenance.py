"""Table maintenance: small-file compaction — the background chore a
100 TB lake needs constantly (streaming sinks, incremental appends,
and over-parallel writes all fragment tables into files far below the
scan-efficient size, and every downstream scan then pays per-file
open/footer overhead and tiny row groups).

The reference has nothing here (its "table" is a single xlsx,
aiesec.py:185-204); this is engine-side scope that any Spark lake
deployment scripts by hand.

Design:

- ``file_stats`` is a pure-metadata walk (driver-side ``os.walk`` —
  the same listing the Spark scan itself performs; no data is read).
  On an object store this becomes one LIST call per prefix.
- ``compact_table`` rewrites the table at ``ceil(total_bytes /
  target_bytes)`` output files via ``repartition(n)`` — a full
  shuffle, deliberately: coalesce(n) would chain upstream
  parallelism to n and can skew output sizes, while a round-robin
  repartition yields near-uniform files.  For very large tables
  compact per partition-directory instead (same helper applied per
  prefix) so one job never rewrites the whole table.
- The rewrite goes to a sibling temp directory first and swaps in
  with two renames, so a reader never observes a half-written table
  and a crash mid-compaction leaves the original intact (the temp
  dir is abandoned, never the live one).  On a local filesystem the
  renames are atomic metadata ops; on HDFS or S3-like stores swap via
  a metastore / table-format pointer instead (not emulated here).
- Swap siblings are HIDDEN (dot-prefixed basenames).  This matters
  when the compacted path is itself a partition directory inside a
  larger table (e.g. ``base/run_date=X``): Spark's data-source file
  listing skips paths whose basename starts with ``.`` or ``_``, so
  a concurrent reader of the PARENT table never sees the in-flight
  temp or the abandoned old copy as a bogus extra partition — the
  swap stays invisible to ``base`` readers, not just to readers of
  the compacted path itself.
- Every table rewrite (the snapshot day, merge, SCD2, compaction,
  z-order) goes through ``swap_in``.  It is LOCAL-ONLY (POSIX
  ``rename``): a path with a URI scheme (``file://``, ``hdfs://`` ...)
  raises ``ValueError`` first.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.formats import _check_fmt, read_table, write_table

_DATA_EXTS = {".parquet", ".orc", ".json", ".csv"}

#: Formats whose files carry their own schema — safe to compact
#: without a caller-supplied one.
_SELF_DESCRIBING = ("parquet", "orc")


def swap_sibling(path: str, tag: str) -> str:
    """A HIDDEN sibling path for the temp/old halves of a two-rename
    swap: ``parent/.name__<tag>_<hex>``.  The dot prefix keeps Spark's
    file listing from ever surfacing it — essential when ``path`` is a
    partition directory whose parent table has concurrent readers."""
    parent, name = os.path.split(path.rstrip("/"))
    return os.path.join(parent, f".{name}__{tag}_{uuid.uuid4().hex[:8]}")


def parquet_table_exists(path: str) -> bool:
    """True iff ``path`` holds parquet data ANYWHERE under it.

    The probe is recursive on purpose: a partitioned table keeps its
    .parquet files in ``col=value/`` subdirectories with none at the
    top level, and a shallow top-level listing would classify such a
    table as "not existing" — which the creation paths follow with an
    rmtree, silently replacing a real table with updates-only data."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def clear_table_dir(path: str) -> None:
    """Remove a directory the table-creation path is about to replace.

    Only marker/metadata content may be deleted: by the time this
    runs, ``parquet_table_exists`` has said there is no data anywhere
    under ``path``, so anything left is _SUCCESS/_committed markers or
    hidden files.  A visible non-marker file means the directory is
    NOT an abandoned table skeleton — refuse rather than destroy
    someone else's content."""
    if not os.path.isdir(path):
        return
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not (f.startswith(("_", "."))):
                raise ValueError(
                    f"refusing to clear {path!r}: contains non-table file "
                    f"{os.path.join(root, f)!r}"
                )
    shutil.rmtree(path)


def swap_in(
    df: DataFrame,
    path: str,
    replace: bool,
    fmt: str = "parquet",
    marker: str | None = None,
) -> None:
    """The one table swap: write ``df`` into a hidden sibling, then
    rename it in — also when creating, so a crash never leaves a
    partial table.  ``replace`` is the caller's existence decision:
    True moves the live table to an ``__old_`` sibling first (what
    ``recover_interrupted_swap`` restores); False clears a data-free
    skeleton (``clear_table_dir``).  ``marker`` is a dot-file dropped
    in the sibling, so it appears in the same rename as the data.
    Local-only: a URI path raises ``ValueError`` before any write."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(
            f"table swaps are local-only (POSIX rename); got URI {path!r}"
        )
    path = path.rstrip("/")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = swap_sibling(path, "swap")
    write_table(df, tmp, fmt)
    if marker is not None:
        open(os.path.join(tmp, marker), "w").close()
    if replace:
        old = swap_sibling(path, "old")
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        clear_table_dir(path)
        os.rename(tmp, path)


def file_stats(path: str) -> dict:
    """Data-file census for a table directory: count, total bytes,
    min/max/mean file size.  Metadata only — nothing is read."""
    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            ext = os.path.splitext(f)[1]
            if ext in _DATA_EXTS and not f.startswith(("_", ".")):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "min_bytes": 0, "max_bytes": 0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
    }


def plan_target_files(total_bytes: int, target_bytes: int) -> int:
    """ceil(total/target), at least 1 — how many output files the
    compacted table should have."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    return max(1, math.ceil(total_bytes / target_bytes))


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> dict:
    """Rewrite the table at ``path`` into ~``target_bytes`` files.

    Returns {"before": stats, "after": stats, "n_target": n}.  The
    rewrite is a read → round-robin ``repartition(n)`` → write to a
    temp sibling → two-rename swap; see the module docstring for why
    each choice.  No-op (returns with after == before) when the table
    already has <= n_target files.

    CSV/JSON tables are NOT self-describing: a bare ``spark.read.csv``
    would ingest the header row as data and rewrite an all-string,
    header-less table.  Those formats therefore REQUIRE ``schema`` and
    round-trip through :func:`read_table` / :func:`write_table` (header
    + the shared timestamp pattern), so compaction is byte-faithful.
    """
    _check_fmt(fmt)
    if fmt not in _SELF_DESCRIBING and schema is None:
        raise ValueError(
            f"compacting {fmt!r} requires an explicit schema: the format is "
            "not self-describing, and re-inferring would corrupt the table "
            "(header rows as data, widened types, lost timestamps)"
        )
    recover_interrupted_swap(path)
    before = file_stats(path)
    n_target = plan_target_files(before["total_bytes"], target_bytes)
    if before["n_files"] <= n_target:
        return {"before": before, "after": before, "n_target": n_target}

    if fmt in _SELF_DESCRIBING and schema is None:
        df: DataFrame = getattr(spark.read, fmt)(path)
    else:
        df = read_table(spark, path, schema, fmt)
    swap_in(df.repartition(n_target), path, replace=True, fmt=fmt)
    return {"before": before, "after": file_stats(path), "n_target": n_target}


#: ``swap_in`` writes only ``__swap_``/``__old_``; the legacy tags stay
#: so vacuum and recovery still heal siblings left by older runs.
_SWAP_MARKERS = (
    "__swap_",
    "__compact_",
    "__merge_",
    "__old_",
    "__zorder_tmp_",
    "__zorder_old_",
)


#: The "old" half of a two-rename swap — restorable when the second
#: rename never happened (see recover_interrupted_swap).
_OLD_MARKERS = ("__old_", "__zorder_old_")


def _siblings(path: str, markers: tuple[str, ...]) -> list[str]:
    """Sorted paths of ``path``'s swap siblings tagged with any of
    ``markers``, in both the hidden form (``.name__tag_*``) and the
    legacy visible one (``name__tag_*``)."""
    parent, name = os.path.split(path.rstrip("/"))
    if not os.path.isdir(parent or "."):
        return []
    prefixes = tuple(f"{dot}{name}{m}" for dot in ("", ".") for m in markers)
    return sorted(
        os.path.join(parent, f)
        for f in os.listdir(parent or ".")
        if f.startswith(prefixes)
    )


def recover_interrupted_swap(path: str) -> str | None:
    """Heal a table whose two-rename swap crashed BETWEEN the renames:
    the target was renamed away to its ``__old_`` sibling but the new
    sibling never renamed in, so the table path is missing and the
    ``__old_`` sibling is the only full copy.  Restoring it (one
    rename back) returns the table to its exact pre-swap state; the
    abandoned temp sibling is left for ``vacuum_siblings``.

    Every swap-writing operator (write_snapshot, scd2_apply,
    merge_upsert, zorder_rewrite, compact_table callers) invokes this
    at entry — without it, the next apply's exists-probe would take
    the CREATION path and silently reinitialize the table from the
    current batch alone, losing all history.

    Returns the restored sibling path, or None if nothing needed
    healing.  No-op when the target exists (a crash after the second
    rename leaves only removable orphans).
    """
    if os.path.isdir(path.rstrip("/")):
        return None
    olds = _siblings(path, _OLD_MARKERS)
    if not olds:
        return None
    if len(olds) > 1:
        raise RuntimeError(
            f"multiple __old_ siblings for missing table {path!r}: {olds} "
            "— manual inspection required (never auto-pick one)"
        )
    os.rename(olds[0], path.rstrip("/"))
    return olds[0]


def vacuum_siblings(path: str, dry_run: bool = False) -> list[str]:
    """Remove orphaned swap siblings (``tbl__swap_*`` / ``tbl__old_*``
    and the legacy ``tbl__compact_*`` / ``tbl__merge_*`` /
    ``tbl__zorder_tmp_*`` / ``tbl__zorder_old_*``) left by a swap that
    crashed between write and rename.

    The swap protocol guarantees the LIVE table is never the damaged
    party — a crash abandons only temp/old siblings — so vacuuming is
    always safe on a quiesced table: nothing references these
    directories once the table path itself exists.  Safety interlock:
    when the table path is MISSING and an ``__old_`` sibling exists
    (a swap crashed between its two renames, so the sibling is the
    only full copy), this refuses to run — call
    ``recover_interrupted_swap`` first.

    Returns the removed (or, with ``dry_run``, matched) paths.
    """
    if not os.path.isdir(path.rstrip("/")):
        stranded = _siblings(path, _OLD_MARKERS)
        if stranded:
            raise RuntimeError(
                f"table {path!r} is missing and {stranded} may be its "
                "only copy — run recover_interrupted_swap first"
            )
    victims = _siblings(path, _SWAP_MARKERS)
    if not dry_run:
        for v in victims:
            shutil.rmtree(v)
    return victims


def list_partitions(path: str, column: str) -> list[str]:
    """Values of a single-level hive partition layout
    (``<path>/<column>=<value>``), sorted ascending.  Hidden and system
    entries are skipped, so a swap's dot-prefixed siblings never show
    as partitions.  Local paths only, like ``swap_in``: lists with
    ``os.listdir`` and raises ``FileNotFoundError`` for a missing
    ``path``."""
    prefix = f"{column}="
    return sorted(
        d[len(prefix):]
        for d in os.listdir(path)
        if d.startswith(prefix) and not d.startswith((".", "_"))
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    column: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    schema: "T.StructType | None" = None,
) -> dict:
    """Compact every partition directory of a hive-layout table, one
    swap per partition — the production form of compact_table: a 100 TB
    table is never rewritten in one job; each partition compacts (and
    can fail/retry) independently, and concurrent readers of the
    parent never see swap temps (hidden siblings).  Returns per-value
    results keyed by partition value."""
    results: dict[str, dict] = {}
    for value in list_partitions(path, column):
        part = os.path.join(path, f"{column}={value}")
        results[value] = compact_table(
            spark, part, target_bytes=target_bytes, fmt=fmt, schema=schema
        )
    return results


def expire_partitions(
    path: str, column: str, keep_last: int, dry_run: bool = False
) -> list[str]:
    """Retention sweep: drop all but the newest ``keep_last``
    partitions of a hive-layout table (values ordered lexically — use
    ISO dates or zero-padded ids as partition values so lexical ==
    chronological).  The lake chore behind every "keep 90 days"
    policy; deletion is per-partition directory, so a reader of a
    RETAINED partition is never disturbed.  Returns the removed (or,
    with dry_run, matched) partition values."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    values = list_partitions(path, column)
    victims = values[:-keep_last] if len(values) > keep_last else []
    if not dry_run:
        for v in victims:
            shutil.rmtree(os.path.join(path, f"{column}={v}"))
    return victims


# ---------------------------------------------------------------------------
# Z-order layout rewrite — multi-dimensional clustering for min/max
# file skipping.  A table range-partitioned on one column prunes that
# column only; interleaving the bits of two filter columns gives every
# file a tight bounding BOX in (x, y), so point/range predicates on
# EITHER column skip most files at the footer-stats level — the layout
# operation behind Delta/Iceberg OPTIMIZE ZORDER, expressed as plain
# Spark (repartitionByRange + sortWithinPartitions on the Morton key).
# ---------------------------------------------------------------------------

ZORDER_BITS = 12


def zorder_key_expr(x_col: str, y_col: str, bits: int = ZORDER_BITS) -> str:
    """Spark-SQL expression for the Morton (bit-interleaved) z-value
    of the low ``bits`` of two non-negative integer columns.  Same
    generated form as the `layout_zorder_stats` query oracle, so the
    layout the operator writes is the layout the query audits."""
    mask = (1 << bits) - 1
    x, y = f"({x_col} & {mask})", f"({y_col} & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_rewrite(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = ZORDER_BITS,
) -> dict:
    """Rewrite ``df`` at ``path`` as ``n_files`` parquet files
    z-order-clustered on ``(x_col, y_col)``.

    Mechanics: compute the Morton key, ``repartitionByRange`` on it
    (range partitioning = contiguous z-intervals per file → tight
    per-file (x, y) bounding boxes), ``sortWithinPartitions`` so row
    groups inside each file cluster too, then drop the key before
    writing — the layout survives in the file/row-group min/max
    stats, not as a stored column.  The write goes through
    ``swap_in`` so readers never see a half-written table.

    Scale: one range shuffle of the rewritten slice — the same cost
    as any compaction pass, and like ``compact_partitions`` it should
    be applied per partition-directory at 100 TB so a single job
    never rewrites the whole table.  Returns ``file_stats(path)``
    after the swap.
    """
    z = zorder_key_expr(x_col, y_col, bits)
    recover_interrupted_swap(path)
    clustered = (
        df.withColumn("_zkey", F.expr(z))
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    swap_in(clustered, path, replace=os.path.exists(path))
    return file_stats(path)
