"""The table swap every daily table goes through: the snapshot day
(``operators/snapshot.write_snapshot``), ``merge_upsert`` and
``scd2_apply``.

The reference keeps its history as two files and rotates them with a
copy (aiesec.py:20-21); here each table is a parquet directory that is
replaced whole.

Design:

- ``swap_in`` writes the new table into a hidden sibling and renames
  it in, so a reader never observes a half-written table and a crash
  mid-write leaves the original intact.  The renames are atomic POSIX
  metadata ops, so swaps are LOCAL-ONLY: a path with a URI scheme
  (``file://``, ``hdfs://`` ...) raises ``ValueError`` first.
- A swap names its siblings with two tags: ``.name__swap_<hex>`` (the
  new table being written) and ``.name__old_<hex>`` (the live table
  moved aside for the second rename).  The dot prefix matters when
  the swapped path is a partition directory inside a larger table
  (``base/run_date=X``): Spark's file listing skips basenames starting
  with ``.`` or ``_``, so a reader of ``base`` never sees an in-flight
  or abandoned sibling as a bogus extra partition.
- Every caller runs ``recover_interrupted_swap`` at entry.  It puts
  back a table that a crash left only as its ``__old_`` copy, then
  deletes every other sibling a crashed swap left behind, so the next
  write of a table heals it completely.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame


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
    marker: str | None = None,
) -> None:
    """The one table swap: write ``df`` as parquet into a hidden
    sibling, then rename it in — also when creating, so a crash never
    leaves a partial table.  ``replace`` is the caller's existence
    decision: True moves the live table to an ``__old_`` sibling first
    (what ``recover_interrupted_swap`` restores); False clears a
    data-free skeleton (``clear_table_dir``).  ``marker`` is a dot-file
    dropped in the sibling, so it appears in the same rename as the
    data.  Local-only: a URI path raises ``ValueError`` before any
    write."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(
            f"table swaps are local-only (POSIX rename); got URI {path!r}"
        )
    path = path.rstrip("/")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = _swap_sibling(path, "swap")
    df.write.mode("overwrite").parquet(tmp)
    if marker is not None:
        open(os.path.join(tmp, marker), "w").close()
    if replace:
        old = _swap_sibling(path, "old")
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        clear_table_dir(path)
        os.rename(tmp, path)


def recover_interrupted_swap(path: str) -> str | None:
    """Heal whatever a crashed swap of ``path`` left behind.

    A crash BETWEEN the swap's renames leaves the table path missing
    and its ``__old_`` sibling as the only full copy: one rename back
    restores the exact pre-swap table.  Any sibling still left after
    that is a leftover — a temp whose write or rename never finished,
    or an old copy a crash kept from being removed after the second
    rename — and is deleted.

    Every swap caller (``write_snapshot``, ``merge_upsert``,
    ``scd2_apply``) invokes this at entry: without it the exists probe
    would take the CREATION path and silently reinitialize the table
    from the current batch alone, losing all history.  Deleting
    siblings here is safe because each table has one writer, the
    cron job, so no other swap of it can be in flight.

    Returns the restored sibling path, or None if the table needed no
    restoring.  Two ``__old_`` siblings of a missing table raise
    ``RuntimeError``: which one is the table is left to a person.
    """
    path = path.rstrip("/")
    parent, name = os.path.split(path)
    entries = os.listdir(parent or ".") if os.path.isdir(parent or ".") else []

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
