#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload light_docs --seed 1 --seconds 8 --trace 0

Runs the extraction engine on ``local[nproc]`` (one Spark driver process)
from the root of a checkout.  With ``--trace 0`` it prints the end-to-end
metrics; with ``--trace 1`` it prints the per-layer ledger of one traced
repetition (see perfbench/README.md for both tables).  Every repetition's
output is checked against the single-node oracle; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

MIN_REPS = 3          # timed repetitions per run, whatever --seconds says
PRIME_CALLS = 2       # untimed repetitions before the timed ones: at least
PRIME_S = 10.0        # this many, and until this many seconds have passed
LAKE_BUCKETS = 16     # not the CLI's 256, which overruns the budget (README.md)
TRACED_GROUP = "perfbench-traced"

END_TO_END = {"docs_per_sec": "docs/s", "cpu_s_per_kdoc": "cpu-s/kdoc",
              "worker_peak_rss_mb": "MB", "setup_s": "s"}

PER_LAYER = {
    "extractors.classify.calls": "count", "extractors.classify.s": "s",
    "extractors.classify.chars_in": "chars",
    "extractors.classify.rejected": "count",
    "extractors.doc_types.calls": "count", "extractors.doc_types.s": "s",
    "extractors.doc_types.fields": "count",
    "extractors.doc_types.useful_call_ratio": "ratio",
    "extractors.media.calls": "count", "extractors.media.s": "s",
    "extractors.media.unreadable": "count",
    "extractors.media.decodes_per_media_span": "ratio",
    "extractors.boilerplate.calls": "count", "extractors.boilerplate.s": "s",
    "extractors.quality.calls": "count", "extractors.quality.s": "s",
    "extractors.quality.rejected": "count",
    "extractors.pipeline_pure.self_s": "s",
    "extractors.pipeline_pure.docs": "docs",
    "pipeline.scan_s": "s", "pipeline.input_bytes": "bytes",
    "pipeline.python_start_s": "s", "pipeline.python_run_s": "s",
    "pipeline.python_bytes_in": "bytes", "pipeline.python_bytes_out": "bytes",
    "pipeline.shuffle_write_bytes": "bytes", "pipeline.shuffle_write_s": "s",
    "pipeline.shuffle_fetch_wait_s": "s", "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s", "pipeline.spill_bytes": "bytes",
    "pipeline.tasks": "count", "pipeline.task_s_p50": "s",
    "pipeline.task_s_max": "s", "pipeline.stages": "count",
    "jobs.lake.pending_s": "s", "jobs.lake.write_results_s": "s",
    "jobs.lake.write_fields_long_s": "s", "jobs.lake.write_rejects_s": "s",
    "jobs.lake.append_metrics_s": "s", "jobs.lake.append_checkpoints_s": "s",
    "jobs.lake.files_written": "count", "jobs.lake.bytes_per_doc": "bytes/doc",
    "jobs.lake.task_commit_s": "s",
    "sources.ingest.rejects.null_doc_id": "count",
    "sources.ingest.rejects.empty_spans": "count",
    "sources.ingest.rejects.unknown_span_kind": "count",
    "sources.ingest.rejects.media_span_without_ref": "count",
    "sources.ingest.rejects.null_offset": "count",
    "sources.ingest.rejects.duplicate_offsets": "count",
    "host.control_ops_per_sec": "1/s",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    from corpus import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed repetitions run until their walls sum to this")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Workers import the program from this checkout; every scratch file
    lands under the checkout's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


# --- sessions --------------------------------------------------------------

def start_session(event_dir: str | None = None):
    from ocr_documents_spark.session import get_spark
    conf = {"spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + event_dir})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and end its JVM (it exits when its stdin
    closes), and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started to end (the worker daemon
    exits on its own once the JVM is gone); kill any that outlive
    ``timeout``."""
    import signal
    from host import descendants
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        os.kill(pid, signal.SIGKILL)
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:   # not our direct child
            pass


# --- the workloads ---------------------------------------------------------

def digest_col():
    """Per-document fingerprint of the four columns span-sequence equality
    is judged on; the oracle rows pass through the same expression."""
    from pyspark.sql import functions as F
    return F.md5(F.to_json(F.struct("document_type", "status", "fields",
                                    "out_spans")))


def expected_digests(spark, corpus) -> dict:
    """doc_id -> digest of the oracle's answer (cached beside the corpus)."""
    path = os.path.join(corpus.dir, "expected_digests.json")
    if not os.path.exists(path):
        rows = (spark.read.parquet(corpus.expected_path)
                .select("doc_id", digest_col().alias("d")).collect())
        with open(path + ".tmp", "w") as fh:
            json.dump({r["doc_id"]: r["d"] for r in rows}, fh)
        os.rename(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def count_failures(rows, expected: dict) -> int:
    """Docs that are missing, duplicated, unexpected or differ from the
    oracle, given ``(doc_id, digest)`` result rows."""
    seen: dict = {}
    bad = set()
    for doc_id, digest in rows:
        if doc_id in seen or expected.get(doc_id) != digest:
            bad.add(doc_id)
        seen[doc_id] = digest
    bad |= expected.keys() - seen.keys()
    return len(bad)


def run_workload(spark, workload: str, docs_path: str, lake_root: str):
    """The timed call: from the call into the pipeline or job until its
    output is complete.  Pipeline workloads sink into a collected digest
    per document; lake_job returns the job's report."""
    from ocr_documents_spark.pipeline import (auto_heavy_threshold,
                                              read_docs, run_pipeline)
    if workload == "lake_job":
        from ocr_documents_spark.jobs import extract
        return extract.run(spark, docs_path, lake_root, LAKE_BUCKETS,
                           list(range(LAKE_BUCKETS)))
    kwargs = ({"heavy_threshold": auto_heavy_threshold(300)}
              if workload == "media_heavy" else {})
    results = run_pipeline(read_docs(spark, docs_path), **kwargs)
    return results.select("doc_id", digest_col()).collect()


def check_output(spark, corpus, out, lake_root: str, expected: dict) -> tuple:
    """-> (failed docs, reject census).  lake_job also checks the reject
    census, the metrics sidecar, the checkpoints and a resumed re-run."""
    if corpus.workload != "lake_job":
        return count_failures(out, expected), {}
    import pyarrow.dataset as ds
    from corpus import REJECT_REASONS
    from ocr_documents_spark.jobs import extract

    def column(table, name):
        return ds.dataset(os.path.join(lake_root, table), format="parquet",
                          partitioning="hive").to_table(
                              columns=[name]).column(name).to_pylist()

    rows = (spark.read.parquet(os.path.join(lake_root, "results"))
            .select("doc_id", digest_col()).collect())
    failed = count_failures(rows, expected)
    census = Counter(column("rejects", "reject_reason"))
    failed += sum(abs(census[r] - corpus.injected.get(r, 0))
                  for r in set(census) | set(REJECT_REASONS))
    failed += abs(sum(column("metrics", "n_docs")) - len(expected))
    buckets = set(column("checkpoints", "bucket"))
    again = extract.run(spark, corpus.docs_path, lake_root, LAKE_BUCKETS,
                        list(range(LAKE_BUCKETS)))
    if buckets != set(range(LAKE_BUCKETS)) or again["pending"] != 0:
        failed = corpus.n_docs
    return min(failed, corpus.n_docs), census


def warm_up(spark, corpus) -> None:
    """Start a Python worker on every task slot and plan one extraction:
    the default pipeline (direct path) over the warm-up corpus, the same
    for every workload."""
    from ocr_documents_spark.pipeline import read_docs, run_pipeline
    run_pipeline(read_docs(spark, corpus.warm_path)).select(
        "doc_id", digest_col()).collect()


class Repetitions:
    """Timed repetitions and their checks."""

    def __init__(self, spark, corpus, expected):
        self.spark, self.corpus, self.expected = spark, corpus, expected
        self.dps, self.cpu_per_kdoc, self.rss, self.walls = [], [], [], []
        self.attempted = self.failed = 0
        self.timed_s = 0.0

    def one(self, keep_lake: bool = False, around=contextlib.nullcontext):
        """-> (wall s or None if it raised, lake root, reject census).
        ``around()`` encloses the timed call only, never its check."""
        from host import python_worker_peak_rss_mb, tree_cpu_s
        n = self.corpus.n_docs
        lake_root = os.path.join(WORK, "lake",
                                 f"{os.getpid()}-{self.attempted // n}")
        self.attempted += n
        census: dict = {}
        try:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            with around():
                out = run_workload(self.spark, self.corpus.workload,
                                   self.corpus.docs_path, lake_root)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            self.timed_s += wall
            self.walls.append(wall)
            failed, census = check_output(self.spark, self.corpus, out,
                                          lake_root, self.expected)
            self.failed += failed
            self.dps.append(n / wall)
            self.cpu_per_kdoc.append(cpu / (n / 1000.0))
            self.rss.append(python_worker_peak_rss_mb())
        except Exception:   # the repetition counts as failed; keep measuring
            traceback.print_exc()
            self.failed += n
            wall = None
        finally:
            if not keep_lake:
                shutil.rmtree(lake_root, ignore_errors=True)
        return wall, lake_root, census

    def prime(self) -> None:
        """Untimed, unchecked calls, so the timed repetitions start past the
        plan's first-use compilation and most of the JVM's JIT warm-up."""
        lake_root = os.path.join(WORK, "lake", f"{os.getpid()}-prime")
        start, calls = time.perf_counter(), 0
        while calls < PRIME_CALLS or time.perf_counter() - start < PRIME_S:
            calls += 1
            try:
                run_workload(self.spark, self.corpus.workload,
                             self.corpus.docs_path, lake_root)
            finally:
                shutil.rmtree(lake_root, ignore_errors=True)

    def until(self, seconds: float) -> None:
        start = time.monotonic()
        while ((self.timed_s < seconds or len(self.dps) < MIN_REPS)
               and time.monotonic() - start < 4 * seconds + 60):
            self.one()


# --- the two modes ---------------------------------------------------------

def measure(spark, corpus, seconds: float, started: float) -> tuple:
    """End-to-end metrics.  ``spark`` is the run's session, whose JVM was
    launched at ``started``; set-up ends when the warm-up has run."""
    try:
        warm_up(spark, corpus)
        setup_s = time.perf_counter() - started
        reps = Repetitions(spark, corpus, expected_digests(spark, corpus))
        reps.prime()
        reps.until(seconds)
    finally:
        stop_session(spark)
    metrics = {}
    if reps.dps:
        metrics = {"docs_per_sec": statistics.median(reps.dps),
                   "cpu_s_per_kdoc": statistics.median(reps.cpu_per_kdoc),
                   "worker_peak_rss_mb": max(reps.rss),
                   "setup_s": setup_s}
    notes = {"samples": len(reps.dps),
             "error_rate": reps.failed / reps.attempted}
    return metrics, END_TO_END, reps, notes


def traced(spark, corpus, seconds: float, event_dir: str) -> tuple:
    """Per-layer ledger of one traced repetition.  ``spark`` logs its
    events to ``event_dir`` throughout; only the traced repetition's jobs
    carry the job group the ledger is read for."""
    from corpus import REJECT_REASONS
    from tracing import (Tracer, extractor_pass, lake_files, lake_metrics,
                         lake_spans, stage_ledger)

    tracer = Tracer()
    try:
        warm_up(spark, corpus)
        reps = Repetitions(spark, corpus, expected_digests(spark, corpus))
        reps.prime()
        reps.until(seconds)
        untraced_dps = list(reps.dps)

        @contextlib.contextmanager
        def traced_call():
            sc = spark.sparkContext
            sc.setJobGroup(TRACED_GROUP, "perfbench traced repetition")
            try:
                with tracer.span(f"perfbench.{corpus.workload}",
                                 f"{corpus.workload}-seed{corpus.seed}"), \
                        lake_spans(tracer):
                    yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        wall, lake_root, census = reps.one(keep_lake=True, around=traced_call)
        files_written, bytes_written = lake_files(
            lake_root if corpus.workload == "lake_job" else None)
        shutil.rmtree(lake_root, ignore_errors=True)
    finally:
        stop_session(spark)

    ledger = stage_ledger(event_dir, TRACED_GROUP)
    shutil.rmtree(event_dir, ignore_errors=True)
    metrics = {k: v for k, v in ledger.items() if k.startswith("pipeline.")}
    metrics.update(lake_metrics(tracer, files_written, bytes_written,
                                corpus.n_docs, ledger["task_commit_s"]))
    metrics.update(extractor_pass(corpus.valid_docs(), corpus.n_media_spans,
                                  tracer))
    for r in REJECT_REASONS:
        metrics[f"sources.ingest.rejects.{r}"] = census.get(r, 0)
    if wall is not None:
        metrics["trace.overhead_ratio"] = (statistics.median(untraced_dps)
                                           / (corpus.n_docs / wall))
    tracer.write(os.path.join(
        WORK, f"spans-{corpus.workload}-seed{corpus.seed}.jsonl"))
    notes = {"samples": len(untraced_dps),
             "error_rate": reps.failed / reps.attempted}
    return metrics, PER_LAYER, reps, notes


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_documents_spark")):
        print(f"perfbench: no ocr_documents_spark/ package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    configure_env()
    sys.path.insert(0, ROOT)
    from corpus import Corpus, source_key
    from host import control_ops_per_sec

    control = control_ops_per_sec()
    event_dir = (os.path.join(WORK, "events", str(os.getpid()))
                 if args.trace else None)
    try:
        corpus = Corpus(args.workload, args.seed,
                        os.path.join(WORK, "corpus", source_key(ROOT)))
        started = time.perf_counter()
        spark = start_session(event_dir)
        if args.trace:
            metrics, units, reps, notes = traced(spark, corpus, args.seconds,
                                                 event_dir)
        else:
            metrics, units, reps, notes = measure(spark, corpus, args.seconds,
                                                  started)
    finally:
        reap_descendants()
    metrics["host.control_ops_per_sec"] = control
    notes["host.control_ops_per_sec"] = control

    for name, unit in units.items():
        if name in metrics:
            print(f"{args.workload} {name} = {metrics[name]:.6g} {unit}")
    print(f"{args.workload} error_rate = {notes['error_rate']:.6g} ratio "
          f"({reps.failed} failed / {reps.attempted} attempted docs)")
    print(f"{args.workload} notes: " + ", ".join(
        f"{k} = {v:.6g}" for k, v in notes.items() if k != "error_rate")
        + "; repetition walls (s): "
        + " ".join(f"{w:.3f}" for w in reps.walls))
    missing = [n for n in units if n not in metrics]
    result = {"correct": reps.failed == 0 and not missing,
              "attempted": reps.attempted, "failed": reps.failed,
              "metrics": {n: {"value": metrics[n], "unit": u}
                          for n, u in units.items() if n in metrics}}
    print(json.dumps(result))
    return 0 if not missing else 1


if __name__ == "__main__":
    sys.exit(main())
