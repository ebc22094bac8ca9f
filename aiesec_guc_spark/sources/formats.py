"""Schema-explicit table IO across interchange formats.

The corpus's canonical format is parquet (self-describing,
column-pruned, predicate-pushed); real pipelines also exchange tables
as ORC (columnar, Hive-ecosystem interchange), JSON-lines, and CSV.  These helpers keep the repo's no-inference
discipline (SURVEY.md §1.2) for those formats: every read takes an
explicit schema, CSV/JSON timestamps round-trip through an ISO pattern
with microsecond precision, and doubles survive exactly (Spark writes
shortest-round-trip decimal forms).

At scale both formats remain splittable line formats — a JSON/CSV read
parallelizes across executors like any file scan — but they scan and
parse every byte of every column: keep them for interchange edges and
convert to parquet at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")

#: Microsecond-precision, timezone-free pattern shared by writer and
#: reader so event times survive text formats bit-for-bit (the session
#: is pinned UTC by the catalog).
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _check_fmt(fmt: str) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write ``df`` under ``path`` in ``fmt``; text formats get the
    fixed timestamp pattern (and CSV a header) so a schema-explicit
    read reproduces the exact rows."""
    _check_fmt(fmt)
    w = df.write.mode("overwrite")
    if fmt == "json":
        w = w.option("timestampFormat", _TS_FMT)
    elif fmt == "csv":
        w = w.option("header", "true").option("timestampFormat", _TS_FMT)
    getattr(w, fmt)(path)


def read_table(
    spark: SparkSession, path: str, schema: T.StructType, fmt: str = "parquet"
) -> DataFrame:
    """Read ``path`` as ``fmt`` with the DECLARED schema — never
    inference (inference samples the data, is nondeterministic across
    corpus growth, and silently widens types)."""
    _check_fmt(fmt)
    r = spark.read.schema(schema)
    if fmt == "json":
        r = r.option("timestampFormat", _TS_FMT)
    elif fmt == "csv":
        r = r.option("header", "true").option("timestampFormat", _TS_FMT)
    return getattr(r, fmt)(path)
