"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB design point and scaled down by
parameters for local testing:

* AQE on (runtime coalesce + skew-join splitting),
* Arrow-vectorized pandas UDFs with a *capped* records-per-batch —
  web pages are multi-KB blobs; the stock 10k rows/batch risks
  multi-hundred-MB Arrow batches per Python worker at p99 page sizes,
* shuffle partitions sized by the caller (tests: small; cluster: ~2-3×
  total cores),
* Python workers forked from ``worker_daemon``, whose lazy zip-import
  invalidation takes the per-task re-read of ``pyspark.zip`` and the
  Spark jar (0.2-0.3 s of CPU per task before CPython 3.13) out of
  every Arrow stage. The daemon module must be importable by the
  executor's Python: the session puts the ``sys.path`` root holding
  this package (the checkout, or the ``--py-files`` zip) on the
  executor ``PYTHONPATH``,
* a driver JVM started from a class-data-sharing archive (``jvm_archive``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import jvm_archive

#: Cap on rows per Arrow batch crossing the JVM↔Python boundary.
#: Round 6: raised 1024 → 8192 and paired with the Spark 4
#: BYTES-bounded cap below — the row-only cap was a proxy for memory
#: (1024 × p99 page size), which both under-batched small pages
#: (more per-batch round-trips; measured ~3-9% on the steady
#: extraction chain) and under-protected huge ones. The byte cap now
#: carries the memory bound directly; the row cap is just a sanity
#: ceiling for ultra-narrow rows.
ARROW_MAX_RECORDS_PER_BATCH = 8192

#: Hard byte bound per Arrow batch (Spark 4 maxBytesPerBatch): the
#: actual per-worker transient memory contract, independent of row
#: width.
ARROW_MAX_BYTES_PER_BATCH = 32 * 1024 * 1024

#: the ``sys.path`` entry ``solrizer_spark`` was imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "solrizer-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~2× cores locally; on a real cluster this is overridden by
        # --conf (and AQE coalesces anyway).
        shuffle_partitions = max(8, cpus * 2)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reading a partitioned table back (the docs sink's 256 bucket
        # directories) lists leaves in a Spark job once past 32 paths;
        # its default of up to 10000 tasks meant one task per directory
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.python.daemon.module", "solrizer_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    conf = extra_conf or {}
    with jvm_archive.launch(conf) as archive_conf:
        for k, v in {**conf, **archive_conf}.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()


def release(df) -> None:
    """Free the executor blocks behind ``df``: uncache it if it was
    ``persist()``ed and, if it is a ``localCheckpoint()``, unpersist
    the checkpointed RDD — ``DataFrame.unpersist()`` does not reach
    that one (the checkpoint is a ``LogicalRDD`` over an RDD, not a
    cache entry). The frame must not be read afterwards."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


try:  # Arrow conversion failures surface as this on the pandas path
    from pyarrow.lib import ArrowInvalid as pyarrow_lib_ArrowInvalid
except Exception:  # pragma: no cover - pyarrow is baked into this env
    class pyarrow_lib_ArrowInvalid(Exception):
        pass


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL string on TOP-LEVEL commas only: decimal(10,2) /
    map<k,v> / struct<a:int,b:int> carry commas inside (),<> nesting."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(schema[start:i])
            start = i + 1
    fields.append(schema[start:])
    return fields


#: DDL scalar type → pyarrow type for write_local_parquet (the only
#: types the engine's tiny side tables use)
_PA_TYPES = {
    "int": "int32",
    "integer": "int32",
    "bigint": "int64",
    "long": "int64",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
}


def write_local_parquet(rows, schema: str, path: str) -> None:
    """Driver-direct parquet write of a tiny driver-local rows list —
    ZERO Spark jobs.

    ``local_df(...).coalesce(1).write`` schedules a full Spark job +
    commit protocol (~0.2 s each) to persist a ≤KB side table; the
    iterative oracle queries (PQ codebooks, k-means centroids, DSIR
    ratios, BPE merges) pay that per timed run. This writes
    ``<path>/part-00000.parquet`` via pyarrow with the SAME column
    types Spark's writer emits for the DDL, so DuckDB oracles reading
    ``<path>/*.parquet`` and Spark readers of the directory see
    identical data. Overwrite semantics (the directory is cleared).
    Raises for DDL types outside the scalar map — callers fall back
    to ``local_df`` + Spark write for anything exotic."""
    import pyarrow as pa

    names, types = [], []
    for f in _split_ddl(schema):
        name, ddl_t = f.split(None, 1)
        t = ddl_t.strip().lower()
        if t not in _PA_TYPES:
            raise ValueError(f"write_local_parquet: unsupported type {t!r}")
        names.append(name)
        types.append(getattr(pa, _PA_TYPES[t])())
    rows = [tuple(r) for r in rows]
    arrays = [
        pa.array([r[i] for r in rows], type=types[i])
        for i in range(len(names))
    ]
    table = pa.Table.from_arrays(arrays, names=names)
    write_parquet_file(table, path, "part-00000.parquet")


def write_parquet_file(
    table, path: str, file_name: str, overwrite: bool = True
) -> None:
    """Write a driver-side ``pyarrow.Table`` as the one file
    ``<path>/<file_name>`` — no Spark job. ``overwrite`` clears the
    directory first; otherwise the file joins the ones already there
    (an append). The file lands under a dot-prefixed temporary name
    that Spark and ``*.parquet`` globs skip, then ``os.replace`` moves
    it into place, so a crash never leaves a torn file in the table."""
    import os
    import shutil

    import pyarrow.parquet as pq

    if overwrite:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{file_name}.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(path, file_name))


def local_df(spark: SparkSession, rows, schema: str):
    """Driver-local rows → DataFrame via the pandas/Arrow path: a
    single JVM LocalRelation, zero Python-worker partitions.

    Timestamp semantics: NAIVE ``datetime`` values are localized in
    ``spark.sql.session.timeZone`` (the engine pins UTC in
    ``get_spark``), NOT the driver process's local timezone the
    pickled-list path would use. Pass tz-aware datetimes to opt out.

    The plain list form ``spark.createDataFrame(rows, ddl)`` pickles
    the rows into ``defaultParallelism`` Python partitions; every
    later action then launches that many Python workers for a
    handful of rows — and under ``coalesce(1)`` (tiny parquet
    artifacts like tokenizer merge tables) those evaluate SERIALLY
    in one task: a measured ~5 s to write 64 rows on 32 cores, vs
    ~0.2 s through this helper. Small dims/params tables should
    always enter through here; real data comes from files anyway.

    Falls back to the plain path for rows pandas/Arrow can't convert
    (never expected for the scalar/bytes/timestamp dims we build).
    """
    import pandas as pd

    cols = [f.split(None, 1)[0] for f in _split_ddl(schema)]
    # materialize ONCE up front: `rows` may be a one-shot iterator,
    # and the fallback must see the same rows the pandas path consumed
    rows = [tuple(r) for r in rows]
    try:
        pdf = pd.DataFrame(rows, columns=cols)
        return spark.createDataFrame(pdf, schema=schema)
    except (ValueError, TypeError, pyarrow_lib_ArrowInvalid):
        # rows pandas/Arrow can't shape — fall back to the plain path
        # (correct, just slower); schema/analysis errors still raise
        return spark.createDataFrame(rows, schema)
