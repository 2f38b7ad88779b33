"""The driver JVM's start-up archive (``session.get_spark``,
``session.build_archive``): a launch with no archive is unchanged, a
process that launched without one builds it at exit, a later process
maps it, and no failure mode publishes a file that would kill the JVM
mapping it.

The fresh-process tests point ``XDG_CACHE_HOME`` at a temporary
directory, so they build and map their own archive, and run with a 2g
driver to keep three JVMs small beside the suite's own session."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from astarte_data_updater_plant_spark import session

REPO = Path(__file__).resolve().parent.parent

#: what PySpark's own ``SparkContext`` puts in ``os.environ`` for its
#: Python workers, with or without an archive
PYSPARK_SETS = {"SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT"}

#: one session in a fresh process: its own two stdout lines and nothing
#: else may reach stdout, whether the JVM maps an archive or the process
#: builds one at exit
SESSION = """
import json, os
import harness
from astarte_data_updater_plant_spark.session import get_spark
before = dict(os.environ)
spark = get_spark("test_session")
after = dict(os.environ)
args = str(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({
    "count": spark.range(10).count(),
    "archive": harness.startup_archive(spark),
    "cds_flag": "SharedArchiveFile" in args or "ArchiveClassesAtExit" in args,
    "env_changed": sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k)),
}))
print("done")
"""


def _env(cache: Path) -> dict:
    return dict(
        os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="2g", PYTHONPATH=str(REPO)
    )


def _session_in_fresh_process(cache: Path) -> tuple[dict, list[str]]:
    r = subprocess.run(
        [sys.executable, "-c", SESSION], env=_env(cache), cwd=cache.parent,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.splitlines()
    return json.loads(lines[0]), lines


def _key(monkeypatch, cache: Path) -> str:
    for k, v in _env(cache).items():
        monkeypatch.setenv(k, v)
    return session.archive_key(session._java_home(), _find_spark_home(), session._driver_memory())


def _jvm_dir(cache: Path) -> Path:
    return cache / "astarte_data_updater_plant_spark" / "jvm"


@pytest.fixture(scope="module")
def first_process(tmp_path_factory):
    """A fresh process that finds no archive: its session, its stdout,
    and what its exit left in the cache."""
    cache = tmp_path_factory.mktemp("xdg")
    out, lines = _session_in_fresh_process(cache)
    return cache, out, lines, sorted(p.name for p in _jvm_dir(cache).iterdir())


def test_launch_without_archive_carries_no_flag_and_keeps_the_environment(first_process):
    _cache, out, _lines, _left = first_process
    assert out["count"] == 10
    assert out["archive"] is None
    assert not out["cds_flag"]
    assert set(out["env_changed"]) <= PYSPARK_SETS, out["env_changed"]


def test_exit_builds_the_archive_and_stdout_holds_only_the_scripts_lines(first_process, monkeypatch):
    cache, _out, lines, left = first_process
    assert lines[1:] == ["done"], lines
    key = _key(monkeypatch, cache)
    assert f"{key}.jsa" in left, left
    assert not [n for n in left if n.endswith((".tmp", ".lock", ".failed"))], left


def test_launch_with_archive_maps_it_and_restores_the_environment(first_process, monkeypatch):
    cache, *_ = first_process
    out, lines = _session_in_fresh_process(cache)
    assert lines[1:] == ["done"], lines
    assert out["count"] == 10
    assert out["archive"] == str(_jvm_dir(cache) / f"{_key(monkeypatch, cache)}.jsa")
    assert out["cds_flag"]
    # SPARK_CONF_DIR pointed at the empty conf dir for the launch only
    assert set(out["env_changed"]) <= PYSPARK_SETS, out["env_changed"]


def _kill_jvm_when_dump_starts(log: Path, done: threading.Event, killed: list) -> None:
    """Kill the recording JVM at its first ``[cds]`` line, which it
    writes when its dump at exit begins."""
    while not done.is_set():
        if log.exists() and "[cds]" in log.read_text(errors="replace"):
            for pid in filter(str.isdigit, os.listdir("/proc")):
                try:
                    cmdline = Path(f"/proc/{pid}/cmdline").read_bytes()
                except OSError:
                    continue
                if b"-XX:ArchiveClassesAtExit=" + str(log.parent).encode() in cmdline:
                    os.kill(int(pid), signal.SIGKILL)
                    killed.append(int(pid))
            return
        time.sleep(0.01)


def test_build_killed_during_its_dump_publishes_nothing(tmp_path, monkeypatch):
    cache = tmp_path / "xdg"
    key = _key(monkeypatch, cache)
    jvm_dir = _jvm_dir(cache)
    done, killed = threading.Event(), []
    watcher = threading.Thread(
        target=_kill_jvm_when_dump_starts, args=(jvm_dir / f"{key}.log", done, killed)
    )
    watcher.start()
    try:
        assert session.build_archive(key) is None
    finally:
        done.set()
        watcher.join()
    assert killed
    left = sorted(p.name for p in jvm_dir.iterdir())
    assert left == ["conf", f"{key}.failed", f"{key}.log"], left
    # the next process starts as if no archive code existed, and does
    # not retry the failed build at its exit
    out, lines = _session_in_fresh_process(cache)
    assert out["count"] == 10 and out["archive"] is None and lines[1:] == ["done"]
    assert sorted(p.name for p in jvm_dir.iterdir()) == left


def test_key_follows_the_jars_and_the_jdk(tmp_path):
    def fake_jdk(name: str) -> str:
        home = tmp_path / name
        (home / "bin").mkdir(parents=True)
        (home / "bin" / "java").write_text("")
        (home / "release").write_text('JAVA_VERSION="17.0.20"\n')
        return str(home)

    jdk, other_jdk = fake_jdk("jdk"), fake_jdk("jdk2")
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    jar = spark_home / "jars" / "a.jar"
    jar.write_bytes(b"x" * 10)
    (spark_home / "jars" / "b.jar").write_bytes(b"y")
    os.utime(jar, ns=(1_000_000_000, 1_000_000_000))

    def key(java_home=jdk, memory="12g"):
        return session.archive_key(java_home, str(spark_home), memory)

    k0 = key()
    assert key() == k0
    assert key(other_jdk) != k0
    assert key(memory="40g") != k0
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(1_000_000_000, 1_000_000_000))
    assert key() != k0
    jar.write_bytes(b"x" * 10)
    os.utime(jar, ns=(2_000_000_000, 2_000_000_000))
    assert key() != k0
    os.utime(jar, ns=(1_000_000_000, 1_000_000_000))
    assert key() == k0
    before_update = key(other_jdk)
    Path(other_jdk, "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert key(other_jdk) != before_update


def test_real_conf_file_or_classpath_setting_disables_the_archive(tmp_path, monkeypatch):
    # as before the first launch of a process
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    conf = tmp_path / "conf"
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._archive_key_for_launch() is not None  # missing
    conf.mkdir()
    assert session._archive_key_for_launch() is not None  # empty
    (conf / "spark-defaults.conf.template").write_text("")
    assert session._archive_key_for_launch() is not None  # templates only
    (conf / "spark-defaults.conf").write_text("spark.driver.extraClassPath /x\n")
    assert session._archive_key_for_launch() is None
    (conf / "spark-defaults.conf").unlink()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert session._archive_key_for_launch() is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.extraClassPath=/x pyspark-shell")
    assert session._archive_key_for_launch() is None


#: a stand-in recording: writes its archive file, then exits with {code}
FAKE_RECORD = """
import sys
with open(sys.argv[1], "wb") as fh:
    fh.write(b"archive")
sys.exit({code})
"""


def test_second_exit_hook_finds_the_lock_or_the_archive_and_does_not_build(tmp_path, monkeypatch):
    cache = tmp_path / "xdg"
    key = _key(monkeypatch, cache)
    d = _jvm_dir(cache)
    d.mkdir(parents=True)

    def no_build(*a, **k):
        raise AssertionError("built")

    monkeypatch.setattr(session.subprocess, "Popen", no_build)
    # another live process holds the lock
    (d / f"{key}.lock").write_text(str(os.getpid()))
    assert session.build_archive(key) is None
    assert (d / f"{key}.lock").read_text() == str(os.getpid())
    (d / f"{key}.lock").unlink()
    # the archive is published
    (d / f"{key}.jsa").write_bytes(b"archive")
    assert session.build_archive(key) is None
    # the exit hook of another pid (a forked child) does nothing
    session._build_at_exit(key, os.getpid() + 1)


def test_a_dead_builders_lock_is_taken_over_and_publishing_clears_other_installs(tmp_path, monkeypatch):
    cache = tmp_path / "xdg"
    key = _key(monkeypatch, cache)
    d = _jvm_dir(cache)
    d.mkdir(parents=True)
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    (d / f"{key}.lock").write_text(str(dead.pid))
    (d / f"{key}.{dead.pid}.tmp").write_bytes(b"partial")
    other_install, other_memory = "f" * 16 + "-2g.jsa", f"{key.split('-')[0]}-40g.jsa"
    (d / other_install).write_bytes(b"old")
    (d / other_memory).write_bytes(b"other heap")
    monkeypatch.setattr(session, "_RECORD", FAKE_RECORD.format(code=0))
    assert session.build_archive(key) == str(d / f"{key}.jsa")
    assert sorted(p.name for p in d.iterdir()) == sorted([f"{key}.jsa", f"{key}.log", other_memory])
    assert (d / f"{key}.jsa").read_bytes() == b"archive"


def test_a_recording_that_exits_nonzero_is_not_published(tmp_path, monkeypatch):
    cache = tmp_path / "xdg"
    key = _key(monkeypatch, cache)
    monkeypatch.setattr(session, "_RECORD", FAKE_RECORD.format(code=1))
    assert session.build_archive(key) is None
    d = _jvm_dir(cache)
    assert sorted(p.name for p in d.iterdir()) == [f"{key}.failed", f"{key}.log"]
    assert session.build_archive(key) is None  # not retried
