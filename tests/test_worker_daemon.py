"""The worker daemon's lazy zip-import invalidation: what it changes in
``zipimport`` (checked in a subprocess, so this process stays on the
stock form), and that every Python task of a ``get_spark`` session
runs under it."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LAZY_SCRIPT = textwrap.dedent(
    """
    import importlib, os, pkgutil, sys, zipfile, zipimport

    sys.path.insert(0, sys.argv[1])
    from solrizer_spark.worker_daemon import install

    install()
    archive = sys.argv[2]
    sys.path.insert(0, archive)
    import mod_a

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    assert reads == [], reads

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("mod_b.py", "B = 2\\n")
    import mod_b
    assert mod_b.B == 2 and reads == [archive], reads
    importlib.invalidate_caches()
    names = sorted(m.name for m in pkgutil.iter_modules([archive]))
    assert names == ["mod_a", "mod_b"], names

    os.remove(archive)
    importlib.invalidate_caches()
    try:
        import mod_c
    except ImportError:
        pass
    else:
        raise AssertionError("imported from a deleted archive")
    print("ok")
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip-import invalidation is lazy from 3.13 on"
)
def test_lazy_invalidation_rereads_only_on_demand(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod_a.py", "A = 1\n")
    proc = subprocess.run(
        [sys.executable, "-c", _LAZY_SCRIPT, REPO, archive],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "ok"


def test_every_python_task_invalidates_lazily(spark, tmp_path):
    """8 partitions on a 4-core session: more tasks than pre-warmed
    workers, so later tasks and any newly forked worker are covered."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("probe_mod.py", "")

    def _lazy(ids: pd.Series) -> pd.Series:
        import zipimport

        zipimport.zipimporter(archive).invalidate_caches()
        lazy = archive not in zipimport._zip_directory_cache
        return pd.Series([lazy] * len(ids))

    probe = F.pandas_udf(_lazy, "boolean")
    rows = (
        spark.range(64)
        .repartition(8)
        .select(F.spark_partition_id().alias("part"), probe("id").alias("lazy"))
        .collect()
    )
    assert {r.part for r in rows} == set(range(8))
    assert all(r.lazy for r in rows)
    # the session's -Xshare:auto keeps the user's JVM archive out of it
    from solrizer_spark import jvm_archive

    assert jvm_archive.state == "off:java-options"
