"""Runtime-drift canary.

Round 5 showed the Spark runtime can move under frozen code: pyspark
4.1.2 silently stopped honoring ``spark.sql.legacy.parquet.nanosAsLong``
and the corpus's TIMESTAMP(NANOS) columns started inferring as
``TimestampNTZType``, breaking the streaming path at analysis time.

These tests pin the contract in one named place: every column listed in
``catalog._NANO_TS_COLUMNS`` must infer (batch AND streaming read) as a
dtype ``normalize_ts_column`` handles, and the normalized output must be
TimestampType.  A future Spark bump that changes inference fails HERE
with a clear message instead of as three broken queries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from aiesec_guc_spark.catalog import (
    _NANO_TS_COLUMNS,
    load_table,
    normalize_ts_column,
    table_path,
)

# The dtypes normalize_ts_column knows how to convert (or pass through).
_HANDLED = (T.LongType, T.TimestampNTZType, T.TimestampType)


@pytest.mark.parametrize(
    "table,col",
    [(t, c) for t, cols in _NANO_TS_COLUMNS.items() for c in cols],
)
def test_batch_inferred_dtype_is_handled(spark, sf_dir, table, col):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(table_path(sf_dir, table))
    dt = raw.schema[col].dataType
    assert isinstance(dt, _HANDLED), (
        f"batch read of {table}.{col} inferred {dt} — this runtime's "
        "parquet TIMESTAMP(NANOS) inference is not handled by "
        "catalog.normalize_ts_column; extend its dtype branch"
    )


@pytest.mark.parametrize(
    "table,col",
    [(t, c) for t, cols in _NANO_TS_COLUMNS.items() for c in cols],
)
def test_stream_inferred_dtype_is_handled(spark, sf_dir, table, col):
    """The file-stream source takes a declared schema; what matters is
    that declaring the batch-inferred schema yields a stream whose
    normalized ts column analyzes to TimestampType (this is exactly the
    path _events_stream takes)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(table_path(sf_dir, table)).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    out = normalize_ts_column(stream, col)
    assert isinstance(out.schema[col].dataType, T.TimestampType), (
        f"streaming read of {table}.{col}: normalize_ts_column produced "
        f"{out.schema[col].dataType}, expected TimestampType"
    )


@pytest.mark.parametrize("table", sorted(_NANO_TS_COLUMNS))
def test_load_table_normalizes_to_timestamp(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    for col in _NANO_TS_COLUMNS[table]:
        assert isinstance(df.schema[col].dataType, T.TimestampType)


def test_normalize_rejects_unknown_dtype(spark):
    df = spark.createDataFrame([("x",)], "ts string")
    with pytest.raises(TypeError, match="unsupported inferred dtype"):
        normalize_ts_column(df, "ts")


@pytest.mark.parametrize(
    "table,col",
    [(t, c) for t, cols in _NANO_TS_COLUMNS.items() for c in cols],
)
def test_ts_range_predicate_reaches_scan(spark, sf_dir, table, col):
    """Date-range filters must reach the parquet scan.  This is why
    load_table infers nano-ts columns as TimestampType at the scan
    (inferTimestampNTZ=false): an NTZ + post-read cast blocked every
    date predicate in the registry from pushing down."""
    from pyspark.sql import functions as F

    from aiesec_guc_spark.plans.explain import formatted_plan

    df = load_table(spark, sf_dir, table).filter(
        F.col(col) >= F.lit("1996-01-01").cast("timestamp")
    )
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(col in l and "GreaterThanOrEqual" in l for l in pushed), (
        f"range predicate on {table}.{col} not in PushedFilters: {pushed}"
    )


def test_random_projection_compiles_codegen(spark, sf_dir):
    """E161 regression pin: the projection stage must not trip
    janino's 64 KB method limit (the unrolled form did — Spark then
    silently de-codegens the whole stage).  Executing with codegen
    fallback DISABLED turns any regression into a hard error."""
    from aiesec_guc_spark.queries import spark_queries

    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = spark_queries()["embedding_random_projection"](spark, sf_dir)
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_events_stream_reads_directory_form_table(spark, sf_dir, tmp_path):
    """events.parquet as a DIRECTORY of part files — the production
    layout, and what an N×-replicated scale corpus uses — must stream exactly
    the rows the single-file test layout streams.  The single-file
    fallback's pathGlobFilter matches LEAF file names, so pointing it
    at a directory-form table matches nothing and silently drains an
    EMPTY stream (caught live by the round-12 streaming scale probe:
    every scaled run came back 0.1-0.5x, i.e. reading nothing)."""
    from aiesec_guc_spark.streaming.incremental import (
        _drain_to_memory,
        _events_stream,
    )

    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    scratch = str(tmp_path / "corpus")
    # ≥2 part files so a leaf-name glob cannot accidentally match
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(3).write.parquet(
        f"{scratch}/events.parquet"
    )
    got = _drain_to_memory(
        spark, _events_stream(spark, scratch), "dirform_events", "append"
    ).count()
    assert got == expected, (
        f"directory-form events table streamed {got} rows, batch read "
        f"has {expected} — the stream source is not reading the "
        "directory layout"
    )


def test_events_stream_uri_single_file_takes_glob_branch(spark, sf_dir, tmp_path):
    """A single-file events table addressed by file:// URI must stream
    its rows (ADVICE r12): layout dispatch used driver-local
    os.path.isfile, which returns False for ANY scheme-qualified path,
    misrouting a remote single-file table into the directory branch
    (which fails or drains wrong).  Dispatch now resolves through the
    same Hadoop FileSystem the read uses, so scheme-qualified paths
    see the layout Spark sees."""
    import shutil

    from aiesec_guc_spark.streaming.incremental import (
        _drain_to_memory,
        _events_stream,
    )

    src = f"{sf_dir}/events.parquet"
    expected = spark.read.parquet(src).count()
    scratch = tmp_path / "corpus"
    scratch.mkdir()
    import os

    if os.path.isfile(src):  # single-file test layout: copy as-is
        shutil.copy(src, scratch / "events.parquet")
    else:  # directory layout: coalesce to ONE plain file
        one = spark.read.parquet(src).coalesce(1)
        tmp_dir = tmp_path / "one"
        one.write.parquet(str(tmp_dir))
        part = next(p for p in tmp_dir.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, scratch / "events.parquet")
    got = _drain_to_memory(
        spark,
        _events_stream(spark, f"file://{scratch}"),
        "uri_singlefile_events",
        "append",
    ).count()
    assert got == expected, (
        f"file:// single-file events table streamed {got} rows, batch "
        f"read has {expected} — layout dispatch misrouted the URI path"
    )
