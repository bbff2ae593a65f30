"""Metric names, units and workload names the benchmark emits.

BENCHMARK.json at the repository root declares the same lists; the
benchmark's tests fail when the two drift apart, and ``run.py`` refuses
to print a result whose metric names differ from these.
"""

from __future__ import annotations

import re

WORKLOADS = ("extract_small", "curate_dedup")

#: (name, unit, better) — printed with ``--trace 0``
END_TO_END = (
    ("docs_per_s", "docs/s", "higher"),
    ("setup_s", "s", "lower"),
    ("worker_peak_rss_mb", "MB", "lower"),
    ("sink_bytes_per_doc", "B/doc", "lower"),
)

#: the chain stages whose prefix marginals are reported, in chain order
CHAIN_STAGE_METRICS = (
    ("content_model", "pipeline.content_model_s"),
    ("discoverability", "pipeline.discoverability_s"),
    ("dates", "pipeline.dates_s"),
    ("facets", "pipeline.facets_s"),
    ("aggregate_fields", "pipeline.aggregate_fields_s"),
    ("doc", "doc_json.doc_s"),
)

CURATE_OPS = ("linededup", "normalize", "scrub", "exactdedup", "neardedup", "fluency")

#: (name, unit, better) — printed with ``--trace 1``
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.jvm_peak_rss_mb", "MB", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.scan_bytes", "bytes", "lower"),
    ("repartition.shuffle_s", "s", "lower"),
    ("repartition.shuffle_write_bytes", "bytes", "lower"),
    ("repartition.partitions", "count", "lower"),
    ("repartition.task_skew", "ratio", "lower"),
    ("extract.stage_s", "s", "lower"),
    ("extract.noop_udf_s", "s", "lower"),
    ("extract.python_total_s", "s", "lower"),
    ("extract.python_boot_init_s", "s", "lower"),
    ("extract.bytes_to_python", "bytes", "lower"),
    ("extract.bytes_from_python", "bytes", "lower"),
    ("extraction.kernel_us_per_doc", "us", "lower"),
    ("extraction.kernel_ns_per_byte", "ns/B", "lower"),
    ("extraction.cscan_bail_frac", "frac", "lower"),
    *((name, "s", "lower") for _, name in CHAIN_STAGE_METRICS),
    ("plans.build_s", "s", "lower"),
    ("sink.docs_write_s", "s", "lower"),
    ("sink.side_tables_s", "s", "lower"),
    ("sink.files", "count", "lower"),
    ("sink.bytes", "bytes", "lower"),
    *((f"curate.{op}_s", "s", "lower") for op in CURATE_OPS),
    ("curate.write_s", "s", "lower"),
    ("dedup.lsh_candidate_pairs", "count", "lower"),
    ("dedup.pairs_kept", "count", "higher"),
    ("dedup.pair_yield", "frac", "higher"),
    ("dedup.cc_rounds", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.leaked_persists", "count", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
    ("trace.accounted_frac", "frac", "higher"),
)

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def declared(trace: bool) -> dict[str, str]:
    """name → unit of the metrics one run prints."""
    return {name: unit for name, unit, _ in (PER_LAYER if trace else END_TO_END)}
