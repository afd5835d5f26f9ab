#!/usr/bin/env python3
"""The repository benchmark: committed extraction throughput and a curation
query pass at ``local[nproc]``, golden-checked, with a traced per-layer run.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 0 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

* ``crawl_mix`` -- the FIXTURES section 1 page mix from ``fixtures.gen_corpus``
  committed to an empty output root by ``run_extraction_job``: scan,
  two-pass extraction (giants deferred through the exchange), partitioned
  commit, manifest.
* ``curation_queries`` -- the 14 ``bench.py`` headline queries plus
  ``dedup_clusters``, ``sim_ann_lsh`` and ``quality_lm_score`` over seeded
  star-schema tables, each collected and compared with its DuckDB oracle.

Protocol of one run: generate the seed's input, its goldens or oracle
results, and check them against ``digests.json``; set up once cold (JVM
launch, session build, extraction of a 200-doc slice to a noop sink) and
twice more in the running JVM, and report the median of the three as
``setup_s``. Then repeat the workload's unit of work until ``--seconds`` have
passed and report the median: a committed job (after one untimed commit
of the same input; at least five jobs), or a pass over the query set in
which each query is collected to the driver (after one untimed pass; at
least two). Every committed job is checked against the goldens and every
query result against its DuckDB oracle.

``--trace 1`` reports the per-layer metrics instead, from a profile run
after the timed loop: spans around each layer call (written to
``.perfbench_out/``), the Spark event log parsed into counters, the engine's
stages in one process, and the zero-framework ceiling. Layers a workload
does not reach read 0.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--write-digests`` regenerates ``digests.json`` (inputs and goldens of
seeds 0-63) from the code under test.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("crawl_mix", "curation_queries")

#: the 14 bench.py headline queries + the ROADMAP carried-over targets
QUERY_SET = (
    "agg_pricing_summary", "join_broadcast_revenue", "window_top_order_per_customer",
    "conf_full", "text_fingerprint", "dedup_lsh_pairs", "sim_topk", "events_sessionize",
    "curation_keep_list", "decontaminate_ngrams", "dedup_spans", "pack_sequences",
    "curation_domain_stats", "crawl_delta", "dedup_clusters", "sim_ann_lsh",
    "quality_lm_score",
)

SETUP_REPEATS = 2
PROBE_REPEATS = 3
DIGEST_SEEDS = range(64)

END_TO_END = {"ops_per_s": "1/s", "setup_s": "s", "peak_mem_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {
        "setup.cold_s": "s",
        "sources.scan_s": "s", "sources.scan_mb": "MB",
        "extraction.arrow_s": "s", "extraction.pass1_s": "s",
        "extraction.deferred_docs": "count", "extraction.total_s": "s",
        "extraction.exchange_pass2_s": "s", "extraction.exchange_mb": "MB",
        "extraction.task_skew": "ratio",
        "engine.docs_per_s_1core": "1/s",
        "engine.html_ms": "ms", "engine.pdf_ms": "ms", "engine.image_ms": "ms",
    }
    for stage in ("sniff", "htmlx", "pdfx", "decode", "preprocess", "ocr", "confidence"):
        units[f"engine.{stage}_s"] = "s"
    units.update({
        "engine.ceiling_docs_per_s": "1/s", "engine.ceiling_ratio": "ratio",
        "scaling.spark_eff": "ratio", "scaling.ceiling_eff": "ratio",
        "lineage.commit_s": "s", "lineage.manifest_s": "s", "lineage.files_written": "count",
        "lineage.commit_exchange_mb": "MB", "lineage.rows_scanned_per_extracted": "ratio",
    })
    units.update({f"query.{q}_s": "s" for q in QUERY_SET})
    units.update({
        "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.task_failures": "count",
        "spark.tasks": "count", "spark.stages": "count",
        "trace.overhead_frac": "ratio", "trace.layers_over_wall": "ratio",
    })
    return units


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------


class Sessions:
    """Builds sessions through the program's ``build_session`` with the
    benchmark's scratch dirs; ``close`` stops the JVM and waits for it."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.proc = None

    def start(self, n_cores: int, event_log: bool = False):
        from activestorage_ocr_spark.sources.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(event_log).lower(),
            # build_session's 8g driver heap lets G1 grow the JVM to 4-7 GB
            # resident depending on GC timing alone; a fixed, pre-touched 2g
            # heap leaves the program's non-heap and Python-worker memory as
            # what moves peak_mem_mb
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"
        self.spark = build_session(
            master=f"local[{n_cores}]", app_name="perfbench", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            from pyspark import SparkContext

            self.proc = SparkContext._gateway.proc
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            self.stop()  # fails if a signal cut a call into the JVM short
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.proc is not None:
                self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    self.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
                self.proc = None


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores()
        self.work = os.path.join(WORK_BASE, f"{workload}-s{seed}-p{os.getpid()}")
        self.sessions = Sessions(self.work)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers = dict.fromkeys(per_layer_units(), 0.0)
        self.pin_failed = False

    # -- inputs --------------------------------------------------------------

    def pin(self, kind: str, digest: str) -> None:
        """Compare against the committed digest; a mismatch fails the run."""
        from inputs import expected_digest

        want = expected_digest(self.workload, self.seed, kind)
        if want is None:
            log(f"no committed {kind} digest for seed {self.seed}; goldens-only check")
        elif want != digest:
            log(f"{kind} digest differs from digests.json: {digest}")
            self.pin_failed = True

    def prepare_warm_slice(self) -> None:
        from activestorage_ocr_spark.fixtures.gen_corpus import PAGES_SCHEMA, make_row

        import inputs
        import pyarrow as pa

        warm = [make_row(self.seed, inputs.WARM_OFFSET + i) for i in range(inputs.WARM_DOCS)]
        self.warm_path = os.path.join(self.work, "warm")
        inputs.write_pages(pa.Table.from_pylist(warm, schema=PAGES_SCHEMA), self.warm_path)

    def prepare_inputs(self) -> None:
        import inputs

        if self.workload == "crawl_mix":
            table, goldens = inputs.make_pages(self.seed, inputs.EXTRACTION_DOCS, self.cores)
            self.pin("input", inputs.pages_digest(table))
            self.pin("golden", inputs.golden_digest(goldens))
            self.pages_path = os.path.join(self.work, "pages")
            inputs.write_pages(table, self.pages_path)
            self.goldens = {g["url"]: g for g in goldens}
            self.html_sizes = [len(h or b"") for h in table.column("html").to_pylist()]
        else:
            from checks import oracle_results

            tables = inputs.curation_tables(self.seed)
            self.pin("input", inputs.tables_digest(tables))
            self.sf_dir = os.path.join(self.work, "sf")
            inputs.write_tables(tables, self.sf_dir)
            self.oracles = oracle_results(self.sf_dir, list(QUERY_SET), self.cores)

    # -- set-up ----------------------------------------------------------------

    def warm_extraction(self, spark) -> None:
        from activestorage_ocr_spark.fixtures.gen_corpus import TEST_MAX_BYTES
        from activestorage_ocr_spark.operators.extraction import extract_pages
        from activestorage_ocr_spark.sources.pages import read_pages_tuned

        from layers import noop

        noop(extract_pages(read_pages_tuned(spark, self.warm_path), max_bytes=TEST_MAX_BYTES))

    def setup(self, n_cores: int, event_log: bool = False):
        t0 = time.perf_counter()
        spark = self.sessions.start(n_cores, event_log)
        self.warm_extraction(spark)
        return spark, time.perf_counter() - t0

    def setups(self):
        """One cold set-up, then SETUP_REPEATS in the running JVM."""
        spark, cold = self.setup(self.cores)
        self.inputs_ready.result()  # generated while the JVM started
        walls = []
        for _ in range(SETUP_REPEATS):
            self.sessions.stop()
            spark, wall = self.setup(self.cores)
            walls.append(wall)
        log(f"setup cold {cold:.2f}s, repeats {[round(w, 2) for w in walls]}")
        self.layers["setup.cold_s"] = cold
        self.metrics["setup_s"] = statistics.median([cold] + walls)
        return spark

    # -- extraction --------------------------------------------------------------

    def job(self, spark, tag: str, pages_path: str | None = None) -> float:
        from activestorage_ocr_spark.fixtures.gen_corpus import TEST_MAX_BYTES
        from activestorage_ocr_spark.operators.lineage import run_extraction_job
        from activestorage_ocr_spark.sources.pages import read_pages_tuned

        out = os.path.join(self.work, "out", tag)
        t0 = time.perf_counter()
        pages = read_pages_tuned(spark, pages_path or self.pages_path)
        run_extraction_job(spark, pages, out, run_id=f"perfbench-{tag}", max_bytes=TEST_MAX_BYTES)
        return time.perf_counter() - t0

    def check_job(self, tag: str) -> None:
        from checks import check_extraction_output

        out = os.path.join(self.work, "out", tag)
        self.attempted += len(self.goldens)
        self.failed += check_extraction_output(out, self.goldens)
        # removed at once: on a disk mounted with discard, deleting files the
        # kernel has since written back can take seconds
        shutil.rmtree(out)

    def timed_jobs(self, spark, min_jobs: int = 5) -> list[float]:
        from spans import MemorySampler

        walls: list[float] = []
        t0 = time.perf_counter()
        with MemorySampler(self.sessions.jvm_pid) as mem:
            while len(walls) < min_jobs or time.perf_counter() - t0 < self.seconds:
                tag = f"j{len(walls)}"
                walls.append(self.job(spark, tag))
                self.check_job(tag)
        log(f"jobs {[round(w, 3) for w in walls]}")
        self.metrics["peak_mem_mb"] = mem.peak_mb
        return walls

    def run_extraction(self) -> None:
        spark = self.setups()
        # the first commit of the input in a JVM pays its own warm-up (~1.5x
        # a steady job, and walls still fall over the next few: hence the
        # median of at least five)
        log(f"warm-up job {self.job(spark, 'warm'):.3f}")
        self.check_job("warm")
        walls = self.timed_jobs(spark)
        self.metrics["ops_per_s"] = len(self.goldens) / statistics.median(walls)
        if self.trace:
            # the traced job follows many others; compare it with a job as warm
            reference = self.job(spark, "reference")
            self.check_job("reference")
            self.profile_extraction(reference)

    def profile_extraction(self, untraced_job_s: float) -> None:
        from activestorage_ocr_spark.fixtures.gen_corpus import TEST_MAX_BYTES
        from activestorage_ocr_spark.operators.extraction import GIANT_BYTES
        from activestorage_ocr_spark.operators.lineage import completed_parts

        import layers
        from inputs import column_bytes
        from spans import EventLog, Tracer, read_event_log

        mb = TEST_MAX_BYTES
        self.sessions.stop()
        spark, _ = self.setup(self.cores, event_log=True)
        sc = spark.sparkContext
        tracer = Tracer()
        probes = [
            ("sources.pages", lambda: layers.noop(layers.scan(spark, self.pages_path))),
            ("extraction.arrow", lambda: layers.arrow_probe(spark, self.pages_path)),
            ("extraction.pass1", lambda: layers.pass1_probe(spark, self.pages_path, mb)),
            ("extraction.total", lambda: layers.total_probe(spark, self.pages_path, mb)),
            ("lineage.job", lambda: self.job(spark, "traced")),
            ("lineage.manifest",
             lambda: completed_parts(spark, os.path.join(self.work, "out", "traced")).collect()),
        ]
        with tracer.span("profile"):
            for name, probe in probes:
                sc.setJobGroup(name, name)
                # the noop probes are short: take the median of three
                for _ in range(1 if name.startswith("lineage.") else PROBE_REPEATS):
                    with tracer.span(name):
                        probe()
        out = os.path.join(self.work, "out", "traced")
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(out, "data")) for f in fs)
        self.check_job("traced")
        self.sessions.stop()
        ev = EventLog(read_event_log(os.path.join(self.work, "eventlog")))

        d = tracer.duration
        L = self.layers
        L["sources.scan_s"] = d("sources.pages")
        # the event log's parquet "Bytes Read" counts little beyond footers
        L["sources.scan_mb"] = column_bytes(self.pages_path, layers.SCAN_COLUMNS) / 2**20
        L["extraction.arrow_s"] = d("extraction.arrow")
        L["extraction.pass1_s"] = d("extraction.pass1")
        L["extraction.deferred_docs"] = float(sum(s > GIANT_BYTES for s in self.html_sizes))
        L["extraction.total_s"] = d("extraction.total")
        L["extraction.exchange_pass2_s"] = d("extraction.total") - d("extraction.pass1")
        total = {k: v / PROBE_REPEATS for k, v in ev.counters("extraction.total").items()}
        L["extraction.exchange_mb"] = total["shuffle_mb"]
        L["extraction.task_skew"] = ev.task_skew("extraction.total")
        job = ev.counters("lineage.job")
        L["lineage.commit_s"] = d("lineage.job") - d("extraction.total")
        L["lineage.manifest_s"] = d("lineage.manifest")
        L["lineage.files_written"] = float(files)
        L["lineage.commit_exchange_mb"] = job["shuffle_mb"] - total["shuffle_mb"]
        L["lineage.rows_scanned_per_extracted"] = job["input_rows"] / len(self.goldens)
        for k in ("shuffle_mb", "spill_mb", "task_failures", "tasks", "stages"):
            L[f"spark.{k}"] = job[k]
        L["trace.overhead_frac"] = d("lineage.job") / untraced_job_s - 1.0
        L["trace.layers_over_wall"] = tracer.layers_over_wall()

        with tracer.span("engine"):
            L.update(layers.engine_profile(self.pages_path, self.goldens, mb))
        n = len(self.goldens)
        with tracer.span("engine.ceiling"):
            ceiling = layers.ceiling_docs_per_s(self.pages_path, n, self.cores, mb)
        L["engine.ceiling_docs_per_s"] = ceiling
        L["engine.ceiling_ratio"] = self.metrics["ops_per_s"] / ceiling
        with tracer.span("scaling"):
            ceiling_1 = layers.ceiling_docs_per_s(self.pages_path, n, 1, mb)
            spark, _ = self.setup(1)
            spark_1 = n / self.job(spark, "local1")
            self.check_job("local1")
        L["scaling.ceiling_eff"] = ceiling / (self.cores * ceiling_1)
        L["scaling.spark_eff"] = self.metrics["ops_per_s"] / (self.cores * spark_1)
        self.write_trace(tracer, ev)
        job_path = [
            ("sources.pages (scan)", L["sources.scan_s"]),
            ("Arrow JVM<->Python", L["extraction.arrow_s"] - L["sources.scan_s"]),
            ("extraction pass-1 kernel", L["extraction.pass1_s"] - L["extraction.arrow_s"]),
            ("extraction exchange + pass 2", L["extraction.exchange_pass2_s"]),
            ("lineage commit", L["lineage.commit_s"]),
        ]
        self.print_layer_table(job_path, d("lineage.job"))

    # -- curation queries -------------------------------------------------------------

    def query_pass(self, spark, tracer=None) -> float:
        """One pass over QUERY_SET: each query collected to the driver, timed,
        and compared with its oracle. Returns the summed query walls."""
        from activestorage_ocr_spark.plans.queries import QUERIES

        from checks import matches_oracle

        total = 0.0
        for name in QUERY_SET:
            if tracer is not None:
                spark.sparkContext.setJobGroup(f"query.{name}", name)
            with tracer.span(f"query.{name}") if tracer else contextlib.nullcontext():
                t0 = time.perf_counter()
                df = QUERIES[name](spark, self.sf_dir)
                rows = df.collect()
                total += time.perf_counter() - t0
            self.attempted += 1
            if not matches_oracle(name, df.columns, rows, self.oracles[name]):
                self.failed += 1
            # a persisted block from this query must not serve the next pass
            spark.catalog.clearCache()
        return total

    def run_curation(self) -> None:
        from spans import MemorySampler

        spark = self.setups()
        # a session's first pass takes about twice a steady one (code paths
        # and plans warming up); it is checked but not timed
        log(f"warm-up pass {self.query_pass(spark):.3f}")
        passes = []
        t0 = time.perf_counter()
        with MemorySampler(self.sessions.jvm_pid) as mem:
            while len(passes) < 2 or time.perf_counter() - t0 < self.seconds:
                passes.append(self.query_pass(spark))
        log(f"query passes {[round(p, 3) for p in passes]}")
        self.metrics["peak_mem_mb"] = mem.peak_mb
        self.metrics["ops_per_s"] = len(QUERY_SET) / statistics.median(passes)
        if self.trace:
            # the traced pass is not a session's first; compare it with a
            # pass as warm
            self.profile_curation(self.query_pass(spark))

    def profile_curation(self, untraced_pass_s: float) -> None:
        from spans import EventLog, Tracer, read_event_log

        self.sessions.stop()
        spark, _ = self.setup(self.cores, event_log=True)
        tracer = Tracer()
        with tracer.span("profile"):
            self.query_pass(spark, tracer)
        self.sessions.stop()
        ev = EventLog(read_event_log(os.path.join(self.work, "eventlog")))
        L = self.layers
        traced = 0.0
        for name in QUERY_SET:
            L[f"query.{name}_s"] = tracer.duration(f"query.{name}")
            traced += L[f"query.{name}_s"]
            for k, v in ev.counters(f"query.{name}").items():
                if f"spark.{k}" in L:
                    L[f"spark.{k}"] += v
        L["trace.overhead_frac"] = traced / untraced_pass_s - 1.0
        L["trace.layers_over_wall"] = tracer.layers_over_wall()
        self.write_trace(tracer, ev)
        self.print_layer_table([(q, L[f"query.{q}_s"]) for q in QUERY_SET], traced)

    # -- reporting -------------------------------------------------------------------

    def write_trace(self, tracer, ev) -> None:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace_{self.workload}_seed{self.seed}.json")
        tracer.dump(path, {g: ev.counters(g) for g in sorted(ev.groups)})
        log(f"spans written to {os.path.relpath(path, ROOT)}")

    def print_layer_table(self, rows: list[tuple[str, float]], wall: float) -> None:
        log(f"per-layer split of {self.workload} (traced wall {wall:.3f}s)")
        log(f"{'layer':<34}{'s':>9}{'share':>8}")
        for name, v in rows:
            log(f"{name:<34}{v:>9.3f}{v / wall:>8.1%}")
        top = max(rows, key=lambda r: r[1])
        log(f"largest layer: {top[0]} ({top[1] / wall:.1%} of the wall)")
        log(f"trace.layers_over_wall={self.layers['trace.layers_over_wall']:.3f} "
            f"trace.overhead_frac={self.layers['trace.overhead_frac']:+.3f}")

    def result(self) -> dict:
        if self.pin_failed:
            self.failed = self.attempted
        if self.trace:
            units = per_layer_units()
            metrics = {k: {"value": float(self.layers[k]), "unit": units[k]} for k in units}
        else:
            metrics = {k: {"value": float(self.metrics[k]), "unit": u} for k, u in END_TO_END.items()}
        for k, u in END_TO_END.items():
            log(f"{self.workload} {k} = {self.metrics[k]:.4f} {u}")
        log(f"{self.workload} failed_frac = {self.failed / max(1, self.attempted):.4f} "
            f"({self.failed}/{self.attempted})")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def execute(self) -> dict:
        # keep every scratch file of this process and its children in the checkout
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM (launcher and driver): no /tmp/hsperfdata, temp files here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Python workers unpickle the probes' identity kernel from layers.py
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (HERE, os.environ.get("PYTHONPATH")) if p)
        try:
            self.prepare_warm_slice()
            with concurrent.futures.ThreadPoolExecutor(1) as ex:
                self.inputs_ready = ex.submit(self.prepare_inputs)
                if self.workload == "crawl_mix":
                    self.run_extraction()
                else:
                    self.run_curation()
        finally:
            try:
                self.sessions.close()
            finally:
                shutil.rmtree(self.work, ignore_errors=True)
        return self.result()


# ---------------------------------------------------------------------------
# digests.json
# ---------------------------------------------------------------------------


def write_digests() -> None:
    import inputs

    out: dict = {}
    for workload in WORKLOADS:
        out[workload] = {}
        for seed in DIGEST_SEEDS:
            if workload == "crawl_mix":
                table, goldens = inputs.make_pages(seed, inputs.EXTRACTION_DOCS, cores())
                entry = {"input": inputs.pages_digest(table), "golden": inputs.golden_digest(goldens)}
            else:
                entry = {"input": inputs.tables_digest(inputs.curation_tables(seed))}
            out[workload][str(seed)] = entry
            log(f"{workload} seed {seed}: {entry}")
    with open(inputs.DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, default="crawl_mix")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "activestorage_ocr_spark")):
        log("run from the repository root: activestorage_ocr_spark/ is not here")
        return 2
    sys.path.insert(0, ROOT)

    from spans import adopt_orphans, stop_descendants

    adopt_orphans()
    # a SIGTERM still stops and waits for every child before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.write_digests:
            write_digests()
            return 0
        result = Run(args.workload, args.seed, args.seconds, bool(args.trace)).execute()
    finally:
        stop_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
