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

The driver JVM starts from a dynamic class-data-sharing archive
(JDK 17, JEP 350): the classes a run loaded, already parsed and
verified, mapped at the next start.  Measured on a 4-core host, session
start falls from 7-9 s to 3.6-4.3 s, at a 1g heap and at 48g.

- *Key.*  An archive holds only JDK and Spark classes, so it depends on
  the JDK (its ``java.home`` and ``release`` file), the Spark jars
  (their directory, names, sizes and mtimes, which the JVM checks
  before it maps an archive) and the driver JVM's options, heap size
  included: 48g turns compressed oops off, under which a 1g archive
  silently maps nothing.  System properties (``-Dname=value``) are left
  out of the key; they do not change what the archive holds, and a
  per-run ``-Djava.io.tmpdir`` would otherwise make every run a new key.
- *Location.*  One per-user cache, ``$XDG_CACHE_HOME/aiesec_guc_spark/jvm/``
  (``~/.cache/...`` by default).  The archive depends on the JDK, jars
  and options, not on the data, so one rule serves the CLI, analyst
  sessions and tests alike, and it survives throwaway work directories.
- *Life cycle.*  A key with no archive records one: the JVM writes it at
  exit into a temp file, and an ``atexit`` hook closes the gateway's
  stdin, waits for the JVM (at most ``_DUMP_WAIT_S``) and renames the
  file to ``<key>.<bytes>.jsa`` only if the JVM exited with code 0.  A
  key with an archive maps it.  A file whose size is not the one in its
  name, or whose header is not a dynamic archive's, is deleted before
  the launch and the key records afresh: a truncated archive crashes
  the JVM with SIGBUS, ``-Xshare:auto`` notwithstanding.  A key whose
  recording failed (the JVM exited non-zero, wrote no archive or
  outlasted ``_DUMP_WAIT_S``) leaves a ``<key>.failed`` marker and is
  not recorded again.  A JVM killed from outside only loses its temp
  file, and the next run records.  Each publish deletes the archives of
  other JDKs or jars and keeps the ``_ARCHIVES_KEPT`` most recently used
  of the rest.
- *Conf directory.*  The launcher puts Spark's conf directory on the
  classpath, and the JVM refuses to record with a non-empty directory
  there.  If that directory holds only ``*.template`` files or does not
  exist, ``SPARK_CONF_DIR`` points at an empty directory in the cache
  for the launch (Spark reads nothing from templates).  If it holds any
  real file, the JVM starts without an archive.
- *Opt-out.*  ``-Xshare:off`` in ``SPARK_GRAFT_EXTRA_JAVA_OPTS``; any
  user option naming ``-Xshare``, ``SharedArchiveFile`` or
  ``ArchiveClassesAtExit`` leaves the CDS flags to the user.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import struct
import subprocess
import tempfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

# Archives kept per user for the current JDK and jars (one per heap and
# option set in use: the CLI, analyst sessions, tests, the benchmark).
_ARCHIVES_KEPT = 4
# A recording JVM writes the archive at exit: 12-23 s for 140-205 MB
# on a 4-core host.
_DUMP_WAIT_S = 120
_USER_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_QUIET_CDS = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_DYNAMIC_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)


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


def jvm_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "aiesec_guc_spark", "jvm")


def _digest(parts) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _runtime_digest(spark_home: str) -> str | None:
    """Digest of the JDK the launcher will run and of Spark's jars; None
    when no JDK is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(java_home, "release"), encoding="utf-8", errors="replace") as fh:
            release = fh.read()
    except OSError:
        release = ""
    # the JVM checks each classpath jar's path, size and mtime
    jar_dir = os.path.realpath(os.path.join(spark_home, "jars"))
    jars = []
    for jar in sorted(glob.glob(os.path.join(jar_dir, "*.jar"))):
        st = os.stat(jar)
        jars.append(f"{os.path.basename(jar)}:{st.st_size}:{st.st_mtime_ns}")
    return _digest([java_home, release, jar_dir, *jars])


def archive_key(spark_home: str, java_options: str, driver_memory: str) -> str | None:
    """``<JDK and jars digest>-<heap and JVM options digest>``."""
    runtime = _runtime_digest(spark_home)
    if runtime is None:
        return None
    options = [o for o in shlex.split(java_options) if not o.startswith("-D")]
    return f"{runtime}-{_digest([driver_memory, *options])}"


def _is_archive(path: str, size: int | None = None) -> bool:
    try:
        if size is not None and os.path.getsize(path) != size:
            return False
        with open(path, "rb") as fh:
            return fh.read(len(_DYNAMIC_ARCHIVE_MAGIC)) == _DYNAMIC_ARCHIVE_MAGIC
    except OSError:
        return False


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, under another user
        pass
    return True


def _published_archive(cache: str, key: str) -> str | None:
    """The key's intact archive; deletes its damaged files and the temp
    files of recordings whose process is gone."""
    for tmp in glob.glob(os.path.join(cache, "*.tmp")):
        pid = os.path.basename(tmp).split(".")[1]
        if not (pid.isdigit() and _pid_alive(int(pid))):
            _remove(tmp)
    found = None
    for path in glob.glob(os.path.join(cache, f"{key}.*.jsa")):
        size = os.path.basename(path).split(".")[1]
        if found is None and size.isdigit() and _is_archive(path, int(size)):
            found = path
        else:
            _remove(path)
    return found


def _reject_recording(tmp: str) -> None:
    """Delete a failed recording's temp file, and mark its key so that it
    is not recorded again."""
    cache, name = os.path.split(tmp)
    _remove(tmp)
    open(os.path.join(cache, f"{name.split('.')[0]}.failed"), "w").close()


def publish_archive(tmp: str, returncode: int) -> str | None:
    """Publish a recording JVM's archive once the JVM has exited, or
    reject it.  Returns the published path."""
    if returncode < 0:  # killed from outside, which says nothing about the key
        _remove(tmp)
        return None
    if returncode != 0 or not _is_archive(tmp):
        _reject_recording(tmp)
        return None
    cache, name = os.path.split(tmp)
    key = name.split(".")[0]
    final = os.path.join(cache, f"{key}.{os.path.getsize(tmp)}.jsa")
    os.replace(tmp, final)
    runtime = key.split("-")[0]
    for path in glob.glob(os.path.join(cache, "*.failed")):
        if not os.path.basename(path).startswith(runtime + "-"):
            _remove(path)
    kept = []
    for path in glob.glob(os.path.join(cache, "*.jsa")):
        name = os.path.basename(path)
        if path == final or (name.startswith(runtime + "-") and not name.startswith(key + ".")):
            kept.append(path)
        else:
            _remove(path)
    kept.sort(key=lambda p: (p == final, os.path.getmtime(p)), reverse=True)
    for path in kept[_ARCHIVES_KEPT:]:
        _remove(path)
    return final


class ArchivePlan(NamedTuple):
    java_options: str  # CDS flags appended to the driver's options
    conf_dir: str  # SPARK_CONF_DIR for the launch
    path: str  # the archive mapped, or the temp file the JVM dumps into
    recording: bool


def archive_plan(java_options: str, driver_memory: str) -> ArchivePlan | None:
    """How the next driver JVM uses its class-data-sharing archive, or
    None to start it without one."""
    if any(flag in java_options for flag in _USER_CDS_OPTIONS):
        return None
    cache = jvm_cache_dir()
    # the options string is split on whitespace and quotes
    if any(c.isspace() or c in "'\"\\" for c in cache):
        return None
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        key = archive_key(spark_home, java_options, driver_memory)
        if key is None:
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        archive = _published_archive(cache, key)
        if archive is not None:
            os.utime(archive)  # most recently used survives pruning
            return ArchivePlan(
                f"-XX:SharedArchiveFile={archive} {_QUIET_CDS}", conf_dir, archive, False
            )
        if os.path.exists(os.path.join(cache, f"{key}.failed")):
            return None
    except OSError:
        return None
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    return ArchivePlan(f"-XX:ArchiveClassesAtExit={tmp} {_QUIET_CDS}", conf_dir, tmp, True)


def _stop_jvm_at_exit(proc: subprocess.Popen, recording: str | None) -> None:
    """At interpreter exit, end the driver JVM and wait for it, so it
    never outlives the process; then publish the archive it recorded."""
    owner = os.getpid()

    def stop() -> None:
        if os.getpid() != owner:
            return
        if proc.poll() is None:
            # the gateway exits on EOF; a recording JVM writes its archive on the way out
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                if recording is not None:
                    _reject_recording(recording)
                return
        if recording is not None:
            try:
                publish_archive(recording, proc.returncode)
            except OSError:
                _remove(recording)

    atexit.register(stop)


def driver_java_options() -> str:
    # Sessions that run many distinct queries (an analyst session, the
    # test suite's one session over every registered query) generate
    # many codegen classes; once the JVM's default 240 MB JIT code
    # cache fills, the JIT stops compiling and later queries run
    # interpreted.  A larger reserved code cache removes that cliff.
    return (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
        + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")
    ).strip()


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
    java_options = driver_java_options()
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = archive_plan(java_options, driver_memory) if launches_jvm else None
    if plan is not None:
        java_options = f"{java_options} {plan.java_options}"
    builder = (
        builder.appName(app_name)
        .config(map=_runtime_sql_conf())
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.extraJavaOptions", java_options)
        # Broadcast/accumulator cleanup otherwise BLOCKS the next job
        # while the ContextCleaner drains (long-lived many-query
        # sessions see multi-second roaming stalls right after a GC
        # releases a batch of localCheckpoint/broadcast refs).
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.ui.enabled", "false")
    )
    user_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if plan is not None:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if user_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = user_conf_dir
    if launches_jvm:
        recording = plan.path if plan is not None and plan.recording else None
        _stop_jvm_at_exit(SparkContext._gateway.proc, recording)
    return spark


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
