"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB at
the given sf dir, then compares row-count, column names, per-column
pandas DTYPES, and an order-insensitive value comparison.  Use while
iterating so mismatches are caught before the driver records
CORRECTNESS_r{N}.json.

Round-10 hardening (the r9 lesson): the driver's comparator is
dtype-sensitive (it hashes the pandas frames) and canonicalizes via
``sort_values`` (which CRASHES on list-valued cells).  The previous
version of this tool compared values type-insensitively (float==int
is True in Python; lists were tuple-ized), so two queries that were
locally "green" failed the driver gate — `brand_pagerank` (DuckDB
HUGEINT -> float64 vs Spark int64) and `embedding_random_projection`
(array<double> output column).  This version reproduces both failure
classes locally:

  1. per-column dtype equality between the Spark and DuckDB pandas
     frames is part of the gate, datetime64 unit skew (ns vs us)
     INCLUDED — the driver's frame hash is dtype-sensitive, so a unit
     skew fails there too; the registry convention is to CAST dates to
     VARCHAR, so any datetime dtype divergence is a real defect;
  2. any object-dtype column whose values are not str/bytes/None is
     rejected outright as UNHASHABLE (the driver would crash on it);
  3. canonicalization goes through ``sort_values`` over all columns,
     exactly like the driver, so a sort crash here is a sort crash
     there.

Usage:
    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def dtype_report(spark_pd, duck_pd):
    """Per-column dtype comparison; returns a list of human-readable
    mismatch strings (empty == dtype-green).

    datetime64 unit skew (ns vs us) is a HARD failure, not a warn: the
    driver hashes the pandas frames dtype-sensitively, so a unit skew
    fails its gate even when the instants are equal.  The registry
    convention is to CAST dates to VARCHAR, so any datetime dtype
    divergence means a query broke that convention."""
    problems = []
    for col in sorted(spark_pd.columns):
        s, d = spark_pd[col].dtype, duck_pd[col].dtype
        s_str, d_str = str(s), str(d)
        if s_str == d_str:
            continue
        problems.append(f"DTYPE {col}: spark={s_str} duck={d_str}")
    return problems


def unhashable_columns(df_pandas, engine):
    """Columns whose object-dtype values would crash the driver's
    sort_values/hash canonicalization (lists, arrays, dicts).

    Scans the WHOLE column, not a head() sample: rows-only queries have
    no sort_values pass to catch a late list cell, and the frame is
    already materialized in pandas so the scan is cheap."""
    bad = []
    for col in df_pandas.columns:
        if str(df_pandas[col].dtype) != "object":
            continue
        for v in df_pandas[col]:
            if v is None or isinstance(v, (str, bytes)):
                continue
            if isinstance(v, float) and math.isnan(v):
                continue
            bad.append(f"UNHASHABLE {engine}.{col}: {type(v).__name__} value")
            break
    return bad


def canon(df_pandas):
    """Driver-faithful canonicalization: columns sorted by name, rows
    sorted by all columns (sort_values — crashes on list cells, as the
    driver does), index dropped."""
    cols = sorted(df_pandas.columns)
    return df_pandas[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def frames_equal(a, b):
    """Exact, dtype-strict value comparison on canonicalized frames.
    Uses Series.equals per column: NaN==NaN, but int64 != float64 even
    when integral, and exact float equality — matching the driver's
    hash semantics."""
    for col in a.columns:
        if not a[col].equals(b[col]):
            return col
    return None


def first_diff(a, b, col):
    sa, sb = a[col], b[col]
    for i in range(len(sa)):
        va, vb = sa.iloc[i], sb.iloc[i]
        both_nan = (
            isinstance(va, float) and isinstance(vb, float)
            and math.isnan(va) and math.isnan(vb)
        )
        if not both_nan and va != vb:
            return i, va, vb
    return None, None, None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from aiesec_guc_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        # A typo'd name must not yield "OK: 0 mismatching" from a gate
        # that never ran anything; checked BEFORE the ~30-60 s session build.
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("oracle_check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            # One query's crash must not abort the gate for the rest of
            # the registry: the driver records a per-query err row and
            # keeps going, so this replica does too.
            failures += 1
            print(f"✗ {name:36s} SPARK-ERROR {type(exc).__name__}: {exc}"[:200])
            continue
        t_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            # rows-only queries still must not expose unhashable columns
            bad = unhashable_columns(spark_pd, "spark")
            if bad:
                failures += 1
                print(f"✗ {name:36s} {'; '.join(bad)}")
            else:
                print(f"  {name:36s} rows={len(spark_pd):7d}  (rows-only, no oracle)  {t_spark:5.1f}s")
            continue
        duck_pd = con.execute(sql).fetchdf()
        status = []
        status += unhashable_columns(spark_pd, "spark")
        status += unhashable_columns(duck_pd, "duck")
        if len(spark_pd) != len(duck_pd):
            status.append(f"ROWCOUNT {len(spark_pd)} vs {len(duck_pd)}")
        s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if s_cols != d_cols:
            status.append(f"COLUMNS {s_cols} vs {d_cols}")
        if not status:
            status += dtype_report(spark_pd, duck_pd)
        if not status and len(spark_pd) > 0:
            try:
                a, b = canon(spark_pd), canon(duck_pd)
            except (TypeError, ValueError) as exc:
                # TypeError for list cells, ValueError for ndarray cells
                status.append(f"SORT-CRASH (driver would die): {exc}")
            else:
                col = frames_equal(a, b)
                if col is not None:
                    i, va, vb = first_diff(a, b, col)
                    status.append(
                        f"VALUES col={col} row={i}: spark={va!r} duck={vb!r}"
                    )
        if status:
            failures += 1
            print(f"✗ {name:36s} {'; '.join(status[:3])}")
        else:
            print(f"✓ {name:36s} rows={len(spark_pd):7d}  {t_spark:5.1f}s")
    print(f"\n{'FAIL' if failures else 'OK'}: {failures} mismatching queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
