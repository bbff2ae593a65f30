"""Cluster-submission surface: the north rule's delivery mode is
``spark-submit --py-files dist/solrizer_spark.zip job.py``. Pin that
the packaged artifact is genuinely self-contained — the job runs from
a scratch cwd where the ONLY source of ``solrizer_spark`` is the zip
shipped via --py-files, and produces docs/manifests/metrics."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys


def test_spark_submit_py_files(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.package import build
    from solrizer_spark.corpus import write_corpus

    zip_path = build(str(tmp_path / "solrizer_spark.zip"))
    corpus = write_corpus(str(tmp_path / "corpus"), n_pages=300, seed=11)

    # scratch cwd: job.py is the submitted script; the package must
    # come from the --py-files zip, not the repo checkout
    workdir = tmp_path / "submit"
    workdir.mkdir()
    shutil.copy(os.path.join(repo, "job.py"), workdir / "job.py")

    out = str(tmp_path / "out")
    spark_home = os.environ.get("SPARK_HOME")
    submit = (
        os.path.join(spark_home, "bin", "spark-submit")
        if spark_home
        else shutil.which("spark-submit")
        or os.path.join(os.path.dirname(sys.executable), "spark-submit")
    )
    env = {
        k: v
        for k, v in os.environ.items()
        # drop repo-cwd PYTHONPATH leakage; keep JAVA_HOME/PATH/etc.
        if k != "PYTHONPATH"
    }
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            "job.py",
            "--input", corpus["pages"],
            "--output", out,
            "--cpus", "4",
            "--buckets", "16",
        ],
        cwd=str(workdir),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["n_docs"] == 300
    # the JVM existed before get_spark, which therefore added no flags
    assert stats["jvm_archive"] == "off:spark-submit"
    # all three output tables landed
    for sub in ("docs", "manifests", "metrics"):
        assert os.path.isdir(os.path.join(out, sub)), sub
