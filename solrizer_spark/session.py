"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB design point and scaled down by
parameters for local testing:

* AQE on (runtime coalesce + skew-join splitting),
* Arrow-vectorized pandas UDFs with a *capped* records-per-batch —
  web pages are multi-KB blobs; the stock 10k rows/batch risks
  multi-hundred-MB Arrow batches per Python worker at p99 page sizes,
* shuffle partitions sized by the caller (tests: small; cluster: ~2-3×
  total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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


def get_spark(
    app_name: str = "solrizer-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if os.environ.get("SPARK_GRAFT_WARM_WORKERS", "1") != "0":
        _warm_python_workers(spark, cpus)
    return spark


#: application ids whose Python worker pool has been pre-spawned
_WARMED_APPS: set[str] = set()


def _warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Pre-spawn one Python worker per core and pre-import the heavy
    libraries (numpy/pandas/pyarrow) inside each — once per
    application.

    On a long-lived cluster the worker pool is resident; locally the
    FIRST pandas-UDF action otherwise pays interpreter spin-up plus
    ~1-3 s of imports × cpus inside whatever query happens to run
    first (measured round 6: the cold extraction run carried ~4 s of
    worker spawn that no steady-state deployment would see). A plain
    ``count(lit(1))`` probe does NOT do this — Catalyst prunes the
    unused UDF column and the Python stage never runs — so the probe
    aggregates the UDF output itself. Reused workers keep their
    imports (``spark.python.worker.reuse`` default), so every later
    Arrow stage starts hot. Disable with SPARK_GRAFT_WARM_WORKERS=0."""
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APPS:
        return
    _WARMED_APPS.add(app_id)

    import pandas as pd
    from pyspark.sql import functions as F

    def _fn(s: "pd.Series") -> "pd.Series":
        import numpy  # noqa: F401  — resident for every later kernel
        import pyarrow  # noqa: F401

        return s

    # explicit annotations: this module's `from __future__ import
    # annotations` turns decorator-style hints into unresolvable
    # strings for pandas_udf's signature inference
    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _preload = F.pandas_udf(_fn, "long")

    probe = spark.range(cpus * 16).repartition(cpus)
    # count(THE UDF COLUMN): the aggregate consumes the UDF output, so
    # column pruning cannot drop the Python stage
    probe.select(_preload("id").alias("w")).agg(F.count("w")).collect()


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
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

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
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


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
