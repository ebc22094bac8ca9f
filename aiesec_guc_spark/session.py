"""SparkSession factory.

Local test profile runs ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same builder settings are what we would ship to a 1000-executor
cluster, minus the master URL:

- AQE on (runtime coalesce, skew-join splitting, broadcast demotion).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a deliberately-high initial number, so the
  setting is a floor not a tuning knob.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled for any pandas-interop edge (fast toPandas, pandas
  UDFs batch via Arrow).

Every Spark deployment setting taken from the environment (CPUs,
master, driver heap, extra JVM options, and ``materialize``'s
checkpoint mode and directory) is read in this module.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _runtime_sql_conf() -> dict[str, str]:
    """The SQL settings both ``get_spark`` and ``tune_session`` apply:
    all can change after the session starts."""
    return {
        "spark.sql.shuffle.partitions": str(default_parallelism()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime bloom-filter join pruning: a selective dimension
        # filter builds a bloom filter that prunes the fact scan
        # before the shuffle — a large-join win at 100 TB, free here.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def get_spark(app_name: str = "aiesec_guc_spark") -> SparkSession:
    cpus = default_parallelism()
    # SPARK_GRAFT_MASTER overrides the scheduler — notably
    # `local-cluster[2,8,4096]` runs REAL separate executor JVMs, the
    # strongest local stand-in for a cluster (used to sweep the test
    # suite for driver-shared-state assumptions local[] masks).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master)
    if master.startswith("local-cluster"):
        # executor-side Python workers must import this package to
        # unpickle pandas UDFs referenced by module
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    return (
        builder.appName(app_name)
        .config(map=_runtime_sql_conf())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Long-lived sessions running many distinct queries generate
        # many codegen classes; the JVM's default 240 MB JIT code
        # cache fills, the JIT silently disables itself, and late
        # heavy-codegen queries run interpreted (observed: a 1.2 s
        # decimal aggregation degrading to 20 s deep into the bench
        # suite).  A larger reserved code cache removes the cliff.
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")
            ).strip(),
        )
        # Broadcast/accumulator cleanup otherwise BLOCKS the next job
        # while the ContextCleaner drains (long-lived many-query
        # sessions see multi-second roaming stalls right after a GC
        # releases a batch of localCheckpoint/broadcast refs).
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The driver hands us a SparkSession it built; only set what can be
    changed post-start (shuffle partitions, AQE, timezone).
    """
    for k, v in _runtime_sql_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a reused subtree, breaking lineage.

    A lazily-persisted DataFrame that feeds BOTH sides of a self-join
    (or several consumers in one action) hits a Spark cache-
    materialization race: every consumer races to build the same
    InMemoryRelation and the upstream pipeline re-executes per
    consumer (observed: 432 s for a 20 k-row LSH band self-join at
    sf0.1 that takes <1 s once the cache is materialized first).
    The checkpoint computes the subtree exactly once and truncates the
    lineage.

    Two modes, selected by ``SPARK_GRAFT_CHECKPOINT``:

    - ``local`` (default): ``localCheckpoint(eager=True)`` — blocks
      live in executor storage and are released automatically when the
      DataFrame is garbage-collected; callers carry no unpersist
      bookkeeping.  Fast, but NOT fault-tolerant: an executor loss
      loses blocks whose lineage was truncated.
    - ``reliable``: ``checkpoint(eager=True)`` to the directory in
      ``SPARK_GRAFT_CHECKPOINT_DIR`` (a fresh temp dir if unset — on a
      real cluster point it at HDFS/S3).  Survives executor loss, so
      the iterative operators (connected components, LSH band joins)
      can recover mid-algorithm on a 1000-executor run, at the cost of
      a write+read through the checkpoint store per round.
    """
    mode = os.environ.get("SPARK_GRAFT_CHECKPOINT", "local")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
                or tempfile.mkdtemp(prefix="spark_ckpt_")
            )
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(
            f"SPARK_GRAFT_CHECKPOINT={mode!r}: expected 'local' or 'reliable'"
        )
    return df.localCheckpoint(eager=True)
