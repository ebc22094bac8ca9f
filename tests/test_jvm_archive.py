"""The driver JVM's class-data-sharing archive (``session.archive_plan``).

The pure tests build a fake JDK and Spark home and start no JVM.  The
session tests start four driver JVMs in subprocesses, each with its own
``XDG_CACHE_HOME``-rooted cache, and check what a session leaves behind.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from aiesec_guc_spark import session
from aiesec_guc_spark.session import (
    _ARCHIVES_KEPT,
    _DYNAMIC_ARCHIVE_MAGIC,
    archive_key,
    archive_plan,
    jvm_cache_dir,
    publish_archive,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_OPTS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A JDK with a release file, a Spark home with two jars and a conf
    directory of templates, and an empty per-user cache."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    for jar in ("spark-core.jar", "spark-sql.jar"):
        (spark / "jars" / jar).write_bytes(b"jar")
    (spark / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return tmp_path


def _fake_archive(path, size=64):
    with open(path, "wb") as fh:
        fh.write(_DYNAMIC_ARCHIVE_MAGIC + b"\0" * (size - len(_DYNAMIC_ARCHIVE_MAGIC)))


def _record(opts=BASE_OPTS, mem="1g", size=64):
    plan = archive_plan(opts, mem)
    assert plan.recording
    _fake_archive(plan.path, size)
    return publish_archive(plan.path, 0)


def test_key_follows_heap_jvm_options_jars_and_jdk(fake_home):
    home = str(fake_home / "spark")
    key = archive_key(home, BASE_OPTS, "1g")
    assert archive_key(home, BASE_OPTS, "1g") == key
    # a system property does not change what the archive holds
    assert archive_key(home, BASE_OPTS + " -Djava.io.tmpdir=/run/1", "1g") == key
    assert archive_key(home, BASE_OPTS, "48g") != key
    assert archive_key(home, BASE_OPTS + " -XX:-UsePerfData", "1g") != key
    (fake_home / "spark" / "jars" / "extra.jar").write_bytes(b"jar")
    jars_changed = archive_key(home, BASE_OPTS, "1g")
    assert jars_changed != key
    (fake_home / "jdk" / "release").write_text('JAVA_VERSION="17.0.2"\n')
    jdk_changed = archive_key(home, BASE_OPTS, "1g")
    assert jdk_changed not in (key, jars_changed)
    # the same jars, mtimes kept, in another directory
    moved = shutil.copytree(home, str(fake_home / "spark-copy"))
    assert archive_key(moved, BASE_OPTS, "1g") not in (key, jars_changed, jdk_changed)


def test_first_plan_records_and_the_next_maps(fake_home):
    plan = archive_plan(BASE_OPTS, "1g")
    cache = jvm_cache_dir()
    assert plan.conf_dir == os.path.join(cache, "conf") and os.listdir(plan.conf_dir) == []
    assert plan.recording
    assert plan.java_options.startswith(f"-XX:ArchiveClassesAtExit={plan.path} ")
    _fake_archive(plan.path)
    published = publish_archive(plan.path, 0)
    assert set(os.listdir(cache)) == {"conf", os.path.basename(published)}
    assert published.endswith(".64.jsa")
    again = archive_plan(BASE_OPTS, "1g")
    assert not again.recording and again.path == published
    assert again.java_options.startswith(f"-XX:SharedArchiveFile={published} ")


@pytest.mark.parametrize("opt", ["-Xshare:off", "-XX:SharedArchiveFile=/a.jsa", "-XX:ArchiveClassesAtExit=/a.jsa"])
def test_user_cds_options_leave_the_flags_to_the_user(fake_home, opt):
    assert archive_plan(f"{BASE_OPTS} {opt}", "1g") is None


@pytest.mark.parametrize("conf_file", ["spark-defaults.conf", "spark-env.sh", "log4j2.properties"])
def test_a_real_conf_file_starts_the_jvm_without_an_archive(fake_home, monkeypatch, conf_file):
    (fake_home / "spark" / "conf" / conf_file).write_text("x\n")
    assert archive_plan(BASE_OPTS, "1g") is None
    own = fake_home / "own-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    assert archive_plan(BASE_OPTS, "1g") is not None  # an empty SPARK_CONF_DIR
    (own / conf_file).write_text("x\n")
    assert archive_plan(BASE_OPTS, "1g") is None


def test_missing_conf_dir_is_replaced_by_the_cache_one(fake_home):
    shutil.rmtree(fake_home / "spark" / "conf")  # a pip-installed pyspark has none
    plan = archive_plan(BASE_OPTS, "1g")
    assert plan.conf_dir == os.path.join(jvm_cache_dir(), "conf")


@pytest.mark.parametrize("damage", ["truncated", "garbage", "zero-byte"])
def test_a_damaged_archive_is_deleted_and_recorded_again(fake_home, damage):
    published = _record(size=128)
    with open(published, "r+b") as fh:
        if damage == "truncated":
            fh.truncate(100)
        elif damage == "garbage":
            fh.write(b"\xff" * 128)
        else:
            fh.truncate(0)
    plan = archive_plan(BASE_OPTS, "1g")
    assert plan.recording
    assert not os.path.exists(published)


@pytest.mark.parametrize("returncode, dumped", [(1, False), (0, False), (1, True)])
def test_a_failed_recording_publishes_nothing_and_is_not_retried(fake_home, returncode, dumped):
    plan = archive_plan(BASE_OPTS, "1g")
    if dumped:
        _fake_archive(plan.path)
    assert publish_archive(plan.path, returncode) is None
    cache = jvm_cache_dir()
    assert not glob.glob(os.path.join(cache, "*.tmp")) and not glob.glob(os.path.join(cache, "*.jsa"))
    assert archive_plan(BASE_OPTS, "1g") is None
    assert archive_plan(BASE_OPTS, "2g").recording  # other keys still record


def test_a_killed_recording_leaves_no_file_and_records_again(fake_home):
    plan = archive_plan(BASE_OPTS, "1g")
    _fake_archive(plan.path)
    assert publish_archive(plan.path, -9) is None
    assert os.listdir(jvm_cache_dir()) == ["conf"]
    assert archive_plan(BASE_OPTS, "1g").recording


def test_temp_file_of_a_dead_recording_is_removed(fake_home):
    plan = archive_plan(BASE_OPTS, "1g")
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    stray = plan.path.replace(f".{os.getpid()}.tmp", f".{dead.stdout.strip()}.tmp")
    _fake_archive(stray)
    archive_plan(BASE_OPTS, "1g")
    assert not os.path.exists(stray)


def test_publish_prunes_other_jdks_and_keeps_the_most_recent(fake_home):
    cache = jvm_cache_dir()
    older = [_record(mem=f"{gb}g") for gb in range(1, _ARCHIVES_KEPT + 1)]
    stale_runtime = os.path.join(cache, "0000000000000000-0000000000000000.64.jsa")
    _fake_archive(stale_runtime)
    open(os.path.join(cache, "0000000000000000-1111111111111111.failed"), "w").close()
    for i, path in enumerate(older):
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    newest = _record(mem="64g")
    left = sorted(glob.glob(os.path.join(cache, "*.jsa")) + glob.glob(os.path.join(cache, "*.failed")))
    assert left == sorted([newest, *older[1:]])


# -- driver JVMs in subprocesses ------------------------------------------

SESSION = """
import json
from aiesec_guc_spark.session import get_spark
spark = get_spark("jvm-archive-test")
total = spark.range(100).selectExpr("sum(id) AS s").collect()[0].s
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({"sum": total, "pid": spark.sparkContext._gateway.proc.pid,
                  "args": list(bean.getInputArguments())}))
"""


def _session(cache_home):
    env = {**os.environ, "XDG_CACHE_HOME": str(cache_home), "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": REPO}
    env.pop("SPARK_GRAFT_EXTRA_JAVA_OPTS", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    done = subprocess.run([sys.executable, "-c", SESSION], env=env, capture_output=True,
                          text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    assert out["sum"] == 4950
    assert not session._pid_alive(out["pid"]), "the driver JVM outlived its process"
    return out


def _cache_files(cache):
    """Everything in the cache but the empty conf directory."""
    assert os.listdir(os.path.join(cache, "conf")) == []
    return sorted(set(os.listdir(cache)) - {"conf"})


def _intact(path):
    size = int(os.path.basename(path).split(".")[1])
    return os.path.getsize(path) == size and session._is_archive(path)


def test_sessions_record_map_and_survive_damaged_archives(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_JAVA_OPTS", raising=False)
    opts = session.driver_java_options()
    if archive_plan(opts, "1g") is None:
        pytest.skip("this host starts Spark without an archive (real conf files or no JDK)")
    cache = jvm_cache_dir()
    key = archive_key(session._find_spark_home(), opts, "1g")

    # 1. A zero-byte file under a published name: the session starts, and
    #    records and publishes exactly one archive.
    zero = os.path.join(cache, f"{key}.123456.jsa")
    open(zero, "wb").close()
    first = _session(tmp_path)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    files = _cache_files(cache)
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    published = os.path.join(cache, files[0])
    assert published != zero and _intact(published)

    # 2. The next session maps it.
    second = _session(tmp_path)
    assert f"-XX:SharedArchiveFile={published}" in second["args"]
    assert _cache_files(cache) == files

    # 3-4. A truncated and a garbage archive under the published name: the
    #      session starts, runs its query and records a fresh archive.
    for damage in ("truncated", "garbage"):
        size = os.path.getsize(published)
        os.chmod(published, 0o644)
        with open(published, "r+b") as fh:
            if damage == "truncated":
                fh.truncate(size // 2)
            else:
                fh.write(os.urandom(4096))
        out = _session(tmp_path)
        assert not any("SharedArchiveFile" in a for a in out["args"]), damage
        files = _cache_files(cache)
        assert len(files) == 1 and files[0].endswith(".jsa"), (damage, files)
        published = os.path.join(cache, files[0])
        assert _intact(published), damage
