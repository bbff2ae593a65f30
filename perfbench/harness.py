"""The Spark side of the benchmark: one closed-loop client calling the
program's entry points, ``job.run_job`` and ``curate.run_curate``.

One operation is one complete call. The loop starts the next call only
after the previous one returned and its output was checked, so a slow
program receives less load. Every call writes to a fresh directory
under ``SPARK_LOCAL_DIRS`` that is deleted after its check.

``--trace 1`` runs the same loop with Spark's event log on, then one
span-wrapped call of the entry point, then the per-layer pass: the
plan's prefixes materialized into Spark's ``noop`` sink, a no-op Arrow
UDF probe, and the HTML kernel called in-process on a sample.
"""

import argparse
import contextlib
import os
import shutil
import statistics
import sys
import time
from unittest import mock

import pyarrow.parquet as pq

from . import inputs, spec
from .tracing import (
    EventLog,
    PeakRss,
    Tracer,
    cpu_seconds,
    descendants,
    task_skew,
    wait_for_exit,
)


#: a timed call during which the hypervisor took more than this share
#: of the machine's CPU time (``steal`` in /proc/stat) measured the host,
#: not the program; docs_per_s uses the other calls when there are any
STEAL_MAX = 0.01


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = t_start
        self.local_dirs = os.environ["SPARK_LOCAL_DIRS"]
        self.extract = workload != "curate_dedup"
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer()
        self.spark = None
        self.detail: dict = {"workload": workload, "seed": seed}

    # -- inputs ------------------------------------------------------------

    def make_inputs(self) -> None:
        t0 = time.monotonic()
        if self.extract:
            c = inputs.make_extract_corpus(self.work, self.seed)
            self.input, self.golden = c["input"], c["golden"]
            self.n_docs, self.n_bytes = c["n_docs"], c["n_bytes"]
        else:
            rows, near_pairs = inputs.make_curate_docs(self.seed)
            self.input = os.path.join(self.work, "docs")
            self.n_bytes = inputs.write_docs(rows, self.input)
            self.n_docs = len(rows)
            self.expected = inputs.curate_expected(rows, near_pairs)
            self.detail["curate"] = {
                "near_pairs": len(near_pairs),
                "expected_survivors": len(self.expected),
            }
        self.gen_s = time.monotonic() - t0

    # -- session -----------------------------------------------------------

    def start_spark(self) -> None:
        from solrizer_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch files inside the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            # one plain JSON-lines file the parser reads with the stdlib
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.monotonic()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=nproc(), extra_conf=conf)
        self.get_spark_s = time.monotonic() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        """Stop Spark, then the JVM, and wait until every process this
        run started has exited."""
        from pyspark import SparkContext

        procs = descendants()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = wait_for_exit(procs)
        if left:
            raise RuntimeError(f"processes still running after stop: {left}")

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag the Spark jobs run inside with ``name`` (event log key)."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def persisted(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def clear_caches(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- one operation -----------------------------------------------------

    def curate_args(self, output: str) -> argparse.Namespace:
        """The ``curate.py`` CLI defaults for the ops this workload runs."""
        return argparse.Namespace(
            input=self.input, output=output, ops=",".join(spec.CURATE_OPS),
            id_col="url", text_col="extracted_text",
            line_min_count=inputs.LINE_MIN_COUNT, near_threshold=inputs.NEAR_THRESHOLD,
            cc_algorithm="label_propagation", min_fluency=inputs.MIN_FLUENCY,
            stats="full", output_format="parquet", report=None,
            benchmark_file=None, base_path=None, base_index=None,
            bloom_index=None, bloom_path=None, embeddings_path=None,
        )

    def call(self, output: str) -> None:
        if self.extract:
            import job

            job.run_job(self.spark, self.input, output)
        else:
            import curate

            curate.run_curate(self.spark, self.curate_args(output))

    def check(self, output: str) -> int:
        if self.extract:
            bad = inputs.extract_mismatches(
                inputs.read_docs(os.path.join(output, "docs")), self.golden
            )
        else:
            bad = inputs.curate_mismatches(pq.read_table(output), self.expected)
        self.attempted += self.n_docs
        self.failed += bad
        return bad

    def op(self, name: str) -> dict:
        """One timed call, its check, and its clean-up."""
        output = os.path.join(self.local_dirs, f"perfbench-{name}")
        self.clear_caches()
        before = self.persisted()
        steal0 = cpu_seconds()["steal"]
        with self.group(name):
            t0 = time.monotonic()
            self.call(output)
            t_end = time.monotonic()
        steal = cpu_seconds()["steal"] - steal0
        leaked = self.persisted() - before
        self.clear_caches()
        files, size = inputs.dir_bytes(output)
        bad = self.check(output)
        shutil.rmtree(output)
        return {"name": name, "wall_s": t_end - t0, "t_end": t_end, "leaked": leaked,
                "files": files, "bytes": size, "mismatches": bad,
                "steal_frac": steal / ((t_end - t0) * nproc())}

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        self.make_inputs()
        try:
            self.start_spark()
            warmup = self.detail["warmup"] = self.op("warmup")
            self.setup_s = warmup["t_end"] - self.t_start - self.gen_s
            ops = []
            cpu0 = cpu_seconds()
            with PeakRss() as rss:
                t0 = time.monotonic()
                while not ops or time.monotonic() - t0 < self.seconds:
                    ops.append(self.op(f"op-{len(ops)}"))
            cpu1 = cpu_seconds()
            self.detail["timed_cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            self.ops = ops
            self.peak_rss_mb = rss.by_process()
            self.detail["peak_rss_mb_by_process"] = self.peak_rss_mb
            if self.trace:
                self.traced_call()
                self.layer_pass()
        finally:
            self.stop_spark()
        self.detail.update(self.stamp())
        self.detail["ops"] = ops
        self.detail["mismatch_frac"] = self.failed / self.attempted
        return self.layer_metrics() if self.trace else self.end_to_end()

    def median_wall(self) -> float:
        return statistics.median(o["wall_s"] for o in self.clean(self.ops) or self.ops)

    @staticmethod
    def clean(ops: list[dict]) -> list[dict]:
        """The calls during which the hypervisor took (steal) at most
        STEAL_MAX of the machine's CPU time."""
        return [o for o in ops if o["steal_frac"] <= STEAL_MAX]

    def end_to_end(self) -> dict:
        timed = self.clean(self.ops) or self.ops
        self.detail["docs_per_s_samples"] = [self.n_docs / o["wall_s"] for o in self.ops]
        self.detail["docs_per_s_from"] = [o["name"] for o in timed]
        return {
            "docs_per_s": statistics.median(self.n_docs / o["wall_s"] for o in timed),
            "setup_s": self.setup_s,
            "worker_peak_rss_mb": sum(
                mb for name, mb in self.peak_rss_mb.items() if name.startswith("python")
            ),
            "sink_bytes_per_doc": statistics.median(o["bytes"] for o in self.ops) / self.n_docs,
        }

    def stamp(self) -> dict:
        import pyarrow
        import pyspark

        from solrizer_spark.extraction import cscan
        from solrizer_spark.extraction.html_text import DEFAULT_BACKEND
        from solrizer_spark.session import ARROW_MAX_BYTES_PER_BATCH, ARROW_MAX_RECORDS_PER_BATCH

        backend = DEFAULT_BACKEND
        if backend == "auto":
            backend = "c" if cscan.load() else "fused"
        return {
            "env": {
                "seed": self.seed,
                "nproc": nproc(),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "python": sys.version.split()[0],
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "html_backend": backend,
                "arrow_max_records_per_batch": ARROW_MAX_RECORDS_PER_BATCH,
                "arrow_max_bytes_per_batch": ARROW_MAX_BYTES_PER_BATCH,
                "input_docs": self.n_docs,
                "input_bytes": self.n_bytes,
            },
            "samples": len(self.ops),
            "corpus_gen_s": self.gen_s,
            "get_spark_s": self.get_spark_s,
        }

    # -- traced pass ---------------------------------------------------------

    def noop(self, df, name: str, repeats: int = 1) -> float:
        """Median wall time of materializing ``df`` into the noop sink."""
        runs = []
        for _ in range(repeats):
            with self.group(name), self.tracer.span(name):
                t0 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.monotonic() - t0)
        return statistics.median(runs)

    def traced_call(self) -> None:
        """The entry point once more, with spans around the calls it
        makes into the program's modules."""
        output = os.path.join(self.local_dirs, "perfbench-traced")
        self.clear_caches()
        with contextlib.ExitStack() as stack:
            if self.extract:
                import job

                stack.enter_context(self.tracer.wrap(job, {
                    "read_pages": "sources.read_pages",
                    "corpus_fingerprint": "sources.corpus_fingerprint",
                    "salted_repartition": "repartition.salted_repartition",
                    "attach_observation": "operators.observe",
                    "write_table": lambda df, target, **kw: f"sink.write.{os.path.basename(target)}",
                    "build_metrics": "operators.metrics",
                    "manifest_from_metrics": "operators.manifests",
                }))
                # the chain's DataFrame is built when the composed
                # pipeline is applied, not when it is composed
                build = job.build_pipeline
                stack.enter_context(mock.patch.object(
                    job, "build_pipeline",
                    lambda *a, **kw: self.tracer.spanned(build(*a, **kw), "plans.build"),
                ))
            else:
                import curate

                stack.enter_context(self.tracer.wrap(
                    curate, {"apply_op": lambda df, op, *a, **kw: f"curate.apply_op.{op}"}
                ))
                # run_curate counts rows after every op (--stats full)
                frame_cls = type(self.spark.range(1))
                stack.enter_context(self.tracer.wrap(frame_cls, {"count": "curate.count"}))
            stack.enter_context(self.group("traced"))
            stack.enter_context(self.tracer.span("traced"))
            t0 = time.monotonic()
            self.call(output)
            self.traced_wall = time.monotonic() - t0
        self.clear_caches()
        self.sink_files, self.sink_bytes = inputs.dir_bytes(output)
        self.check(output)
        shutil.rmtree(output)

    def layer_pass(self) -> None:
        self.layers: dict[str, float] = {}
        if self.extract:
            self.extract_layers()
            self.kernel_sample()
        else:
            self.curate_layers()

    def extract_layers(self, repeats: int = 3) -> None:
        """Marginal cost of each layer of the extraction plan: prefixes
        of the plan ``run_job`` builds, each materialized into the noop
        sink, minus the prefix before it. The sink's own cost is the
        traced call's docs write minus the whole chain's prefix."""
        from solrizer_spark.operators.repartition import (
            _scan_input_bytes,
            partitions_for_bytes,
            salted_repartition,
            url_bucket,
        )
        from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, build_pipeline
        from solrizer_spark.sources.pages import read_pages

        L = self.layers
        pages = read_pages(self.spark, self.input)
        L["sources.scan_s"] = t_scan = self.noop(pages, "prefix-scan", repeats)
        L["sources.scan_bytes"] = scan_bytes = _scan_input_bytes(pages)
        n_parts = partitions_for_bytes(scan_bytes, self.sc.defaultParallelism)
        # run_job's defaults: 256 buckets, salt 0
        pages = salted_repartition(
            pages.withColumn("partition_key", url_bucket("url", 256, 0)), n_parts
        )
        t_prev = self.noop(pages, "prefix-repartition", repeats)
        L["repartition.shuffle_s"] = t_prev - t_scan
        probe = self.noop(noop_udf_probe(pages), "probe-noop-udf", repeats)
        L["extract.noop_udf_s"] = probe - t_prev
        stage_metric = dict(spec.CHAIN_STAGE_METRICS)
        for i, stage in enumerate(DEFAULT_CHAIN):
            df = build_pipeline(DEFAULT_CHAIN[: i + 1])(pages)
            t = self.noop(df, f"prefix-{stage}", repeats)
            L["extract.stage_s" if stage == "extract" else stage_metric[stage]] = t - t_prev
            t_prev = t
        span = {s["name"]: s for s in self.tracer.spans}
        docs = span["sink.write.docs"]
        L["sink.docs_write_s"] = docs["end"] - docs["start"] - t_prev
        # everything after the docs write: reading the sink back, the
        # metrics aggregation and the manifest
        L["sink.side_tables_s"] = span["sink.write.manifests"]["end"] - docs["end"]
        L["plans.build_s"] = self.tracer.total("plans.build")
        self.accounted_s = t_prev + sum(
            L[k] for k in ("sink.docs_write_s", "sink.side_tables_s", "plans.build_s")
        )

    def kernel_sample(self, limit: int = 1500, passes: int = 3) -> None:
        """The HTML kernel in this process, on the workload's own html
        payloads: time per doc and per byte, and the C kernel's bail
        share (parses it hands back to the Python kernel)."""
        from solrizer_spark.extraction import cscan
        from solrizer_spark.extraction.charset import decode_html_bytes
        from solrizer_spark.extraction.html_text import extract_html

        html = [
            h for h in pq.read_table(self.input, columns=["html"]).column(0).to_pylist()
            if h and not h[:64].lstrip().startswith((b"%PDF-", b"OCR1"))
        ][:limit]
        runs = []
        for _ in range(passes):
            t0 = time.perf_counter()
            for h in html:
                extract_html(h)
            runs.append(time.perf_counter() - t0)
        best = statistics.median(runs)
        L = self.layers
        L["extraction.kernel_us_per_doc"] = best / len(html) * 1e6
        L["extraction.kernel_ns_per_byte"] = best / sum(map(len, html)) * 1e9
        if cscan.load():
            texts = [decode_html_bytes(h, None)[0] for h in html]
            L["extraction.cscan_bail_frac"] = sum(cscan.run_cscan(t) is None for t in texts) / len(texts)
        else:
            L["extraction.cscan_bail_frac"] = 1.0
        self.detail["kernel_sample_docs"] = len(html)

    def curate_layers(self) -> None:
        """Each op's share of the traced ``run_curate`` call: the
        ``apply_op`` call (eager work such as neardedup's component
        rounds) plus the row count that materializes the op's prefix
        (``--stats full``). ``curate.write_s`` is the rest of the call:
        the parquet write and the count of what it wrote."""
        top = [s for s in self.tracer.spans if s["parent"] == "traced"]
        top.sort(key=lambda s: s["start"])
        L = self.layers
        last_end = None
        for i, s in enumerate(top):
            if not s["name"].startswith("curate.apply_op."):
                continue
            count = top[i + 1]
            op = s["name"].rsplit(".", 1)[1]
            L[f"curate.{op}_s"] = count["end"] - s["start"]
            last_end = count["end"]
        traced = next(s for s in self.tracer.spans if s["name"] == "traced")
        L["curate.write_s"] = traced["end"] - last_end
        self.accounted_s = sum(L[f"curate.{op}_s"] for op in spec.CURATE_OPS) + L["curate.write_s"]
        self.dedup_counts()

    def dedup_counts(self) -> None:
        """LSH candidates vs verified pairs and connected-component
        rounds on the frame neardedup receives: the ops before it,
        rebuilt from the input. Threshold 0 keeps every candidate the
        bands produce."""
        import curate
        from pyspark.sql import functions as F

        from solrizer_spark.operators.dedup import connected_components, minhash_lsh_pairs

        args = self.curate_args(output=None)
        df = self.spark.read.parquet(self.input)
        ops = spec.CURATE_OPS
        for op in ops[: ops.index("neardedup")]:
            df = curate.apply_op(df, op, args, "url", "extracted_text", [])
        text = df.where(F.col("extracted_text").isNotNull()).select("url", "extracted_text")
        kw = {"id_col": "url", "text_col": "extracted_text"}
        with self.group("dedup-counts"), self.tracer.span("dedup-counts"):
            cand = minhash_lsh_pairs(text, threshold=0.0, **kw).count()
            pairs = minhash_lsh_pairs(text, threshold=inputs.NEAR_THRESHOLD, **kw).persist()
            kept = pairs.count()
            stats: dict = {}
            connected_components(pairs, stats=stats).count()
        self.clear_caches()
        L = self.layers
        L["dedup.lsh_candidate_pairs"] = cand
        L["dedup.pairs_kept"] = kept
        L["dedup.pair_yield"] = kept / cand if cand else 0.0
        L["dedup.cc_rounds"] = stats["rounds"]

    def layer_metrics(self) -> dict:
        ev = EventLog(self.event_dir)
        m = {name: 0.0 for name in spec.declared(trace=True)}
        m.update(self.layers)
        m["session.get_spark_s"] = self.get_spark_s
        m["session.jvm_peak_rss_mb"] = self.peak_rss_mb.get("java", 0.0)
        untraced = self.median_wall()
        m["trace.overhead_frac"] = self.traced_wall / untraced - 1.0
        m["trace.accounted_frac"] = self.accounted_s / untraced
        m["sink.files"] = self.sink_files
        m["sink.bytes"] = self.sink_bytes
        groups = [o["name"] for o in self.ops]
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            m[f"spark.{key}"] = statistics.median(ev.get(g, key) for g in groups)
        m["spark.leaked_persists"] = statistics.median(o["leaked"] for o in self.ops)
        if self.extract:
            m["repartition.shuffle_write_bytes"] = ev.get("prefix-repartition", "shuffle_write_bytes")
            stage = ev.python_stage("traced")
            m["repartition.partitions"] = len(stage)
            m["repartition.task_skew"] = task_skew(stage)
            m["extract.python_total_s"] = ev.get("traced", "py_total_ms") / 1e3
            m["extract.python_boot_init_s"] = (
                ev.get("traced", "py_boot_ms") + ev.get("traced", "py_init_ms")
            ) / 1e3
            m["extract.bytes_to_python"] = ev.get("traced", "py_bytes_sent")
            m["extract.bytes_from_python"] = ev.get("traced", "py_bytes_received")
        self.detail["spans"] = [
            {**s, "start": s["start"] - self.t_start, "end": s["end"] - self.t_start}
            for s in self.tracer.spans
        ]
        self.detail["traced_wall_s"] = self.traced_wall
        self.detail["untraced_median_s"] = untraced
        return m


def noop_udf_probe(pages):
    """The extraction UDF's boundary with none of its work: an Arrow
    UDF over the same input columns returning the same struct type,
    filled with the plain-text column and nulls."""
    import pandas as pd
    from pyspark.sql import functions as F

    from solrizer_spark.operators.extract import EXTRACT_FAST_TYPE

    names = [f.name for f in EXTRACT_FAST_TYPE.fields]

    def identity(html: pd.Series, text: pd.Series, charset: pd.Series) -> pd.DataFrame:
        out = pd.DataFrame({n: pd.Series([None] * len(html), dtype=object) for n in names})
        out["extracted_text"] = text
        return out

    udf = F.pandas_udf(identity, EXTRACT_FAST_TYPE)
    hint = F.lit(None).cast("string")
    return pages.withColumn("_ext", udf(F.col("html"), F.col("text"), hint))
