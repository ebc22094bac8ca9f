"""Every table write goes through one path: ``maintenance.swap_in``
holds the only DataFrame ``.write`` in the package, only
``operators/maintenance.py`` spells out the heal-probe-clear steps
around it, and only the streaming source probes reach the JVM's Hadoop
FileSystem.

A module that needs another writer or a Hadoop FileSystem handle has
to be added here on purpose.
"""

from __future__ import annotations

import pathlib
import re

import aiesec_guc_spark

ROOT = pathlib.Path(aiesec_guc_spark.__file__).parent


def _modules_matching(pattern: str) -> set[str]:
    return {
        f.relative_to(ROOT).as_posix()
        for f in ROOT.rglob("*.py")
        if re.search(pattern, f.read_text(encoding="utf-8"))
    }


def test_one_dataframe_writer():
    # DataFrame.write is a property: a call ``.write(`` is a file write
    assert _modules_matching(r"\.write\b(?!\s*\()") == {"operators/maintenance.py"}


def test_only_stream_sources_reach_hadoop():
    # the streaming queries size and probe their source (``file://``
    # and other schemes included) through the Hadoop FileSystem; they
    # read only and write no table
    assert _modules_matching(r"org\.apache\.hadoop") == {"streaming/incremental.py"}


def test_only_maintenance_heals_probes_and_clears():
    # writers make two calls (read_table, swap_in); the one existence
    # rule and the healing live behind them
    assert _modules_matching(
        r"\b(recover_interrupted_swap|parquet_table_exists|clear_table_dir)\b"
    ) == {"operators/maintenance.py"}
