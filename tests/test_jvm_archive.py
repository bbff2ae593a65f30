"""The driver JVM's class-data-sharing archive (``jvm_archive``): its
cache key, what a launch may pass to the JVM, and one record → verify
→ map cycle across two real processes.

Every test points ``XDG_CACHE_HOME`` at its own ``tmp_path``, so none
reads or writes the per-user cache.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from solrizer_spark import jvm_archive, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: no process has this id: Linux caps pids at 2^22
DEAD_PID = "999999999"


@pytest.fixture
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for name in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "SPARK_SUBMIT_OPTS"):
        monkeypatch.delenv(name, raising=False)
    return tmp_path / "xdg" / "solrizer_spark" / "jvm"


def _spark_home(root, conf_files=("spark-defaults.conf.template",)):
    """A stand-in ``SPARK_HOME``: one jar and the given conf files."""
    for sub in ("conf", "jars"):
        (root / sub).mkdir(parents=True)
    (root / "jars" / "a.jar").write_bytes(b"jar")
    for name in conf_files:
        (root / "conf" / name).write_text("")
    return root


def test_key_changes_with_jar_size_and_mtime(tmp_path):
    home = _spark_home(tmp_path / "spark")
    java, jars = str(home / "jars" / "a.jar"), str(home / "jars")
    jar = home / "jars" / "b.jar"
    jar.write_bytes(b"one")
    key = jvm_archive.cache_key(java, jars)
    assert jvm_archive.cache_key(java, jars) == key
    jar.write_bytes(b"three")
    sized = jvm_archive.cache_key(java, jars)
    assert sized != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert jvm_archive.cache_key(java, jars) not in (key, sized)


def test_real_conf_file_leaves_launch_unchanged(tmp_path, cache, monkeypatch):
    home = _spark_home(tmp_path / "spark", ("spark-defaults.conf", "workers.template"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    assert jvm_archive.plan({}) == ("off:conf-dir", "", None)
    assert "SPARK_CONF_DIR" not in os.environ
    assert not cache.exists()


@pytest.mark.parametrize("conf, env, reason", [
    ({"spark.driver.extraJavaOptions": "-Xmx1g -Xshare:off"}, {}, "off:java-options"),
    ({}, {"PYSPARK_GATEWAY_PORT": "1"}, "off:spark-submit"),
    ({}, {"SPARK_CONF_DIR": "/etc"}, "off:conf-dir"),
    ({}, {"XDG_CACHE_HOME": "/nonexistent/my cache"}, "off:cache"),
])
def test_caller_settings_turn_archive_off(tmp_path, cache, monkeypatch, conf, env, reason):
    monkeypatch.setenv("SPARK_HOME", str(_spark_home(tmp_path / "spark")))
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert jvm_archive.plan(conf) == (reason, "", None)
    assert not cache.exists()


def test_junk_recordings_are_deleted_not_mapped(tmp_path, cache, monkeypatch):
    if not os.environ.get("JAVA_HOME") and not shutil.which("java"):
        pytest.skip("no java")
    monkeypatch.setenv("SPARK_HOME", str(_spark_home(tmp_path / "spark")))
    state, opts, conf_dir = jvm_archive.plan({})
    assert state == "recording" and "-XX:ArchiveClassesAtExit=" in opts
    assert conf_dir and os.listdir(conf_dir) == []
    prefix = opts.split()[0].split("=", 1)[1].rsplit(".", 2)[0]
    # a dead recorder's junk and empty files, and this process's own
    # placeholder (busy while this process lives)
    with open(f"{prefix}.{DEAD_PID}.tmp", "wb") as fh:
        fh.write(os.urandom(4096))
    with open(f"{prefix}.{DEAD_PID}.cp", "w") as fh:
        fh.write(f"{DEAD_PID}\n{tmp_path}\n")
    open(f"{prefix}.1{DEAD_PID}.tmp", "wb").close()
    assert jvm_archive.plan({}) == ("off:busy", "", None)
    assert set(os.listdir(cache)) == {"conf", os.path.basename(f"{prefix}.{os.getpid()}.cp")}
    os.remove(f"{prefix}.{os.getpid()}.cp")
    assert jvm_archive.plan({})[0] == "recording"


def test_cpus_default_to_this_process_affinity(monkeypatch):
    seen = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            seen["master"] = master
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return None

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")  # launch nothing
    monkeypatch.setattr(jvm_archive, "state", None)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    session.get_spark()
    cpus = len(os.sched_getaffinity(0))
    assert seen["master"] == f"local[{cpus}]"
    assert seen["spark.sql.shuffle.partitions"] == str(max(8, 2 * cpus))


_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from solrizer_spark import jvm_archive
from solrizer_spark.session import get_spark

log = sys.argv[1]
spark = get_spark(app_name="cds-test", cpus=1, extra_conf={{
    "spark.driver.extraJavaOptions": "-Xlog:class+load=info:file=" + log}})
assert spark.range(5).count() == 5
proc = SparkContext._gateway.proc
spark.stop()
proc.stdin.close()  # the gateway's EOF: the JVM exits, and records
proc.wait(timeout=120)
print(json.dumps({{"state": jvm_archive.state, "jvm_pid": proc.pid}}))
"""


def _session(tmp_path, n: int) -> tuple[dict, str]:
    log = str(tmp_path / f"class-load-{n}.log")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO), log],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not os.path.exists(f"/proc/{last['jvm_pid']}/exe")
    with open(log) as fh:
        return last, fh.read()


def test_second_session_maps_the_recorded_archive(tmp_path, cache, monkeypatch):
    if jvm_archive.plan({})[0] != "recording":
        pytest.skip("this Spark install's conf directory keeps the archive off")
    os.remove(*[str(p) for p in cache.glob("*.cp")])  # plan()'s placeholder

    first, _ = _session(tmp_path, 1)
    assert first["state"] == "recording"
    (tmp,) = cache.glob("*.tmp")
    (cp,) = cache.glob("*.cp")
    assert cp.read_text().split("\n")[0] == str(first["jvm_pid"])
    # beside it, a recording cut short: never mapped, deleted
    prefix = str(tmp).rsplit(".", 2)[0]
    with open(tmp, "rb") as src, open(f"{prefix}.{DEAD_PID}.tmp", "wb") as dst:
        dst.write(src.read(tmp.stat().st_size // 3))
    shutil.copy(cp, f"{prefix}.{DEAD_PID}.cp")

    second, loads = _session(tmp_path, 2)
    assert second["state"] == "used"
    assert "source: shared objects file (top)" in loads
    assert {p.name for p in cache.iterdir()} == {"conf", os.path.basename(prefix) + ".jsa"}
