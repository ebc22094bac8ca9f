"""The table contract every daily table goes through: the snapshot day
(``operators/snapshot.write_snapshot``), ``merge_upsert`` and
``scd2_apply``.  A writer makes two calls: ``read_table`` for the
table it is about to rewrite, then ``swap_in`` for the new table.

The reference keeps its history as two files and rotates them with a
copy (aiesec.py:20-21); here each table is a parquet directory that is
replaced whole.

Design:

- ``swap_in`` writes the new table into a hidden sibling and renames
  it in, so a reader never observes a half-written table and a crash
  mid-write leaves the original intact.  The renames are atomic POSIX
  metadata ops, so the contract is LOCAL-ONLY: a path with a URI
  scheme (``file://``, ``hdfs://`` ...) raises ``ValueError`` first.
- A swap names its siblings with two tags: ``.name__swap_<hex>`` (the
  new table being written) and ``.name__old_<hex>`` (the live table
  moved aside for the second rename).  The dot prefix matters when
  the swapped path is a partition directory inside a larger table
  (``base/run_date=X``): Spark's file listing skips basenames starting
  with ``.`` or ``_``, so a reader of ``base`` never sees an in-flight
  or abandoned sibling as a bogus extra partition.
- The WRITER heals; readers never delete.  ``read_table``,
  ``swap_in`` and ``heal_partitions`` first run
  ``recover_interrupted_swap``: it puts back a table that a crash left
  only as its ``__old_`` copy, then deletes every other sibling a
  crashed swap left behind.  Deleting siblings is safe only because
  each table has one writer, the cron job, so no other swap of it can
  be in flight.  A plain reader (``snapshot.read_day``) reads and
  never heals.
- One existence rule, ``parquet_table_exists``: parquet data anywhere
  under the path.  ``swap_in`` replaces such a table; any other
  directory at the path must be a data-free skeleton, which it clears
  before writing, and it refuses (``ValueError``) one that holds a
  non-table file.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _local(path: str) -> str:
    """``path`` without a trailing slash; a URI raises ``ValueError``
    before anything is touched."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(
            f"table swaps are local-only (POSIX rename); got URI {path!r}"
        )
    return path.rstrip("/")


def _swap_sibling(path: str, tag: str) -> str:
    """A HIDDEN sibling path for the temp/old halves of a two-rename
    swap: ``parent/.name__<tag>_<hex>``."""
    parent, name = os.path.split(path)
    return os.path.join(parent, f".{name}__{tag}_{uuid.uuid4().hex[:8]}")


def parquet_table_exists(path: str) -> bool:
    """True iff ``path`` holds parquet data ANYWHERE under it.

    The probe is recursive on purpose: a partitioned table keeps its
    .parquet files in ``col=value/`` subdirectories with none at the
    top level, and a shallow top-level listing would classify such a
    table as "not existing" — which the creation path follows with a
    clear, silently replacing a real table with updates-only data."""
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


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The table a writer is about to rewrite: healed, probed and read,
    or None when ``path`` holds no table yet."""
    path = _local(path)
    recover_interrupted_swap(path)
    return spark.read.parquet(path) if parquet_table_exists(path) else None


def swap_in(df: DataFrame, path: str, marker: str | None = None) -> None:
    """The one table swap: heal ``path``, then write ``df`` as parquet
    into a hidden sibling and rename it in — also when creating, so a
    crash never leaves a partial table.  An existing table is moved to
    an ``__old_`` sibling first (what ``recover_interrupted_swap``
    restores); otherwise a data-free skeleton is cleared before the
    write (``clear_table_dir``).  ``marker`` is a dot-file dropped in
    the sibling, so it appears in the same rename as the data.
    Local-only: a URI path raises ``ValueError`` before any write."""
    path = _local(path)
    recover_interrupted_swap(path)
    exists = parquet_table_exists(path)
    if not exists:
        clear_table_dir(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = _swap_sibling(path, "swap")
    df.write.mode("overwrite").parquet(tmp)
    if marker is not None:
        open(os.path.join(tmp, marker), "w").close()
    if exists:
        old = _swap_sibling(path, "old")
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def recover_interrupted_swap(path: str) -> str | None:
    """Heal whatever a crashed swap of ``path`` left behind.

    A crash BETWEEN the swap's renames leaves the table path missing
    and its ``__old_`` sibling as the only full copy: one rename back
    restores the exact pre-swap table.  Any sibling still left after
    that is a leftover — a temp whose write or rename never finished,
    or an old copy a crash kept from being removed after the second
    rename — and is deleted.  Without this the exists probe would take
    the CREATION path and silently reinitialize the table from the
    current batch alone, losing all history.

    Returns the restored sibling path, or None if the table needed no
    restoring.  Two ``__old_`` siblings of a missing table raise
    ``RuntimeError``: which one is the table is left to a person.
    """
    path = path.rstrip("/")
    parent = os.path.dirname(path) or "."
    return _heal(path, os.listdir(parent) if os.path.isdir(parent) else [])


def _heal(path: str, entries: list[str]) -> str | None:
    """``recover_interrupted_swap`` over ``entries``, a listing of
    ``path``'s parent."""
    parent, name = os.path.split(path)

    def tagged(tag: str) -> list[str]:
        prefix = f".{name}__{tag}_"
        return sorted(os.path.join(parent, f) for f in entries if f.startswith(prefix))

    olds = tagged("old")
    restored = None
    if not os.path.isdir(path) and olds:
        if len(olds) > 1:
            raise RuntimeError(
                f"multiple __old_ siblings for missing table {path!r}: {olds} "
                "— manual inspection required (never auto-pick one)"
            )
        restored = olds.pop()
        os.rename(restored, path)
    for leftover in tagged("swap") + olds:
        shutil.rmtree(leftover)
    return restored


def heal_partitions(base: str, column: str) -> None:
    """``recover_interrupted_swap`` for every ``<column>=`` partition
    of ``base`` that a crashed swap left siblings of, from one listing
    of ``base`` — so a day stranded as its ``__old_`` copy is back
    before the next day lists the table's days."""
    base = _local(base)
    if not os.path.isdir(base):
        return
    entries = os.listdir(base)
    stranded = {
        m.group(1)
        for e in entries
        if (m := re.fullmatch(rf"\.({re.escape(column)}=.+?)__(?:old|swap)_.*", e))
    }
    for name in sorted(stranded):
        _heal(os.path.join(base, name), entries)


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
