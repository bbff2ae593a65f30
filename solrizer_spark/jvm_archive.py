"""Start the driver JVM from a class-data-sharing (CDS) archive of the
Spark jars' classes: ``get_spark`` took 1.9–2.4 s with it against
3.9–5.0 s without (4 vCPUs).

Cached per user in ``$XDG_CACHE_HOME/solrizer_spark/jvm`` (default
``~/.cache``) under a key of the java binary and the Spark jars' names,
sizes and mtimes. A miss records ``<key>.<pid>.tmp`` at JVM exit (10–15 s
longer) beside ``<key>.<pid>.cp``, the JVM's pid and class path. A later
start renames it to ``<key>.jsa`` only after ``java -Xshare:on
-XX:+VerifySharedSpaces`` maps it, else deletes it: a truncated archive
crashes the JVM (SIGBUS) even under ``-Xshare:auto``.

The JVM refuses archives with a non-empty directory on its class path,
and the launcher puts the conf directory first. So CDS is on only when
``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing but
``*.template`` files (Spark reads none): the launch then points
``SPARK_CONF_DIR`` at an empty cache directory. Otherwise, with CDS
flags in the caller's java options, or under spark-submit (the JVM
exists already), the launch is unchanged.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess

#: CDS warns on the JVM's stdout, the caller's: ~580 lines after job.py's JSON line
QUIET = "-Xlog:cds=off,cds+dynamic=off"

#: how this process's driver JVM started: ``used``, ``recording`` or ``off:<reason>``
state: str | None = None


def cache_key(java: str, jars_dir: str) -> str:
    h = hashlib.sha256()
    for path in [java, *sorted(glob.glob(os.path.join(jars_dir, "*.jar")))]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def _verified(java: str, archive: str, cp_file: str) -> bool:
    try:
        with open(cp_file) as fh:
            class_path = fh.read().split("\n")[1]
        return subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", "-XX:+VerifySharedSpaces",
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash", "-cp", class_path, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60,
        ).returncode == 0
    except (OSError, IndexError, subprocess.TimeoutExpired):
        return False


def _promote(java: str, prefix: str) -> bool:
    """Promote or delete each finished recording; True while a live process records one."""
    busy = False
    found = glob.glob(glob.escape(prefix) + ".*.cp") + glob.glob(glob.escape(prefix) + ".*.tmp")
    for base in {path.rsplit(".", 1)[0] for path in found}:
        tmp, cp_file = base + ".tmp", base + ".cp"
        with contextlib.suppress(OSError), open(cp_file) as fh:
            if os.path.exists(f"/proc/{fh.readline().strip()}/exe"):  # alive, not a zombie
                busy = True
                continue
        if not os.path.exists(prefix + ".jsa") and _verified(java, tmp, cp_file):
            os.replace(tmp, prefix + ".jsa")
        for leftover in (tmp, cp_file):
            with contextlib.suppress(OSError):
                os.remove(leftover)
    return busy


def plan(conf: dict[str, str]) -> tuple[str, str, str | None]:
    """``(state, java options, SPARK_CONF_DIR to set)`` for a JVM launching with ``conf``."""
    from pyspark.find_spark_home import _find_spark_home

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return "off:spark-submit", "", None
    opts = [conf.get(f"spark.driver.{k}JavaOptions", "") for k in ("default", "extra")]
    opts.append(os.environ.get("SPARK_SUBMIT_OPTS", ""))
    if re.search(r"-Xshare:|SharedArchiveFile|ArchiveClassesAtExit", " ".join(opts)):
        return "off:java-options", "", None
    spark_home = _find_spark_home()
    conf_dir = os.path.join(spark_home, "conf")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if "SPARK_CONF_DIR" in os.environ or any(not n.endswith(".template") for n in names):
        return "off:conf-dir", "", None
    home = os.environ.get("JAVA_HOME")  # as bin/spark-class picks it
    java = os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "solrizer_spark/jvm")
    empty_conf = os.path.join(cache, "conf")
    if any(c.isspace() for c in cache):  # the launcher splits java options on blanks
        return "off:cache", "", None
    try:
        os.makedirs(empty_conf, exist_ok=True)
        java = os.path.realpath(java)
        prefix = os.path.join(cache, cache_key(java, os.path.join(spark_home, "jars")))
        busy = _promote(java, prefix)
        if os.path.exists(prefix + ".jsa"):
            return "used", f"-XX:SharedArchiveFile={prefix}.jsa {QUIET}", empty_conf
        if busy:
            return "off:busy", "", None
        with open(f"{prefix}.{os.getpid()}.cp", "w") as fh:  # busy until the JVM's pid replaces it
            fh.write(f"{os.getpid()}\n")
    except OSError:  # no java binary, or no writable cache
        return "off:cache", "", None
    return "recording", f"-XX:ArchiveClassesAtExit={prefix}.{os.getpid()}.tmp {QUIET}", empty_conf


@contextlib.contextmanager
def launch(conf: dict[str, str]):
    """Around the ``getOrCreate`` that may start the driver JVM: yields the conf
    to add; after a recording launch, notes the JVM's pid and class path."""
    global state
    from pyspark import SparkContext

    running = SparkContext._gateway is not None  # then it keeps the state it started with
    state, opts, conf_dir = (state or "off:jvm-running", "", None) if running else plan(conf)
    if conf_dir is None:
        yield {}
        return
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield {"spark.driver.defaultJavaOptions": f"{opts} {conf.get('spark.driver.defaultJavaOptions', '')}"}
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if state == "recording" and SparkContext._jvm is not None:
        jvm = SparkContext._jvm
        with open(opts.split()[0].split("=", 1)[1][: -len("tmp")] + "cp", "w") as fh:
            fh.write(f"{jvm.ProcessHandle.current().pid()}\n{jvm.System.getProperty('java.class.path')}\n")
