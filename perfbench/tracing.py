"""The traced run's three views, all taken from outside the program.

1. ``stage_ledger``: per-stage sums read from Spark's own uncompressed
   event log, restricted to the jobs of one job group.
2. ``lake_spans``: timing wrappers on the ``jobs.lake`` functions that
   ``jobs.extract.run`` calls through the module.
3. ``extractor_pass``: one single-process pass of
   ``pipeline_pure.process_document`` with timing wrappers on the layer
   functions as that module references them.

Spans (name, trace id, parent, start, end) are kept in memory by a
``Tracer`` and written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = None

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        idx = len(self.spans)
        rec = {"name": name,
               "trace": trace_id if trace_id is not None else self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start_ns": time.perf_counter_ns(), "end_ns": None}
        self.spans.append(rec)
        self._stack.append(idx)
        outer, self._trace = self._trace, rec["trace"]
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()
            self._trace = outer

    def wrap(self, name: str, fn, observe=None):
        """``fn`` with a span around every call; ``observe(args, result)``
        runs after the span closes, so its cost is not charged to it."""
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if observe is not None:
                observe(args, out)
            return out
        return traced

    def totals(self) -> dict:
        """name -> {calls, s, self_s}; self time is a span's duration
        minus its direct children's."""
        child_ns = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]
        out: dict = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            dur = s["end_ns"] - s["start_ns"]
            t = out[s["name"]]
            t["calls"] += 1
            t["s"] += dur / 1e9
            t["self_s"] += (dur - child_ns[i]) / 1e9
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --- 3. single-process extractor pass -------------------------------------

# what extractors.media.decode_media_ref returns for an unreadable payload
_UNREADABLE = ("", 0.0, {"w": 0, "h": 0, "blur": 0.0, "brightness": 0.0,
                         "contrast": 0.0, "skew": 0.0})


def extractor_pass(docs: list, n_media_spans: int, tracer: Tracer) -> dict:
    """Run every doc through ``process_document`` with the five layer
    functions wrapped; -> per-layer metrics."""
    from ocr_documents_spark.extractors import pipeline_pure as pp
    from ocr_documents_spark.extractors.registry import CLASSIFY_MIN_CONFIDENCE

    n = Counter()
    fields_seen: set = set()

    def on_classify(args, out):
        n["classify.chars_in"] += len(args[0] or "")
        n["classify.rejected"] += (out[0] == "UNKNOWN"
                                   or out[1] < CLASSIFY_MIN_CONFIDENCE)

    def on_fields(args, out):
        n["doc_types.fields"] += len(out)
        new = set(out) - fields_seen
        n["doc_types.useful_calls"] += bool(new)
        fields_seen.update(new)

    def on_media(args, out):
        n["media.unreadable"] += out == _UNREADABLE

    def on_quality(args, out):
        n["quality.rejected"] += not out[0]

    layers = {"decode_media_ref": ("extractors.media", on_media),
              "html_to_page_text": ("extractors.boilerplate", None),
              "quality_report": ("extractors.quality", on_quality),
              "classify_enhanced": ("extractors.classify", on_classify),
              "extract_fields": ("extractors.doc_types", on_fields)}
    originals = {attr: getattr(pp, attr) for attr in layers}
    try:
        for attr, (name, observe) in layers.items():
            setattr(pp, attr, tracer.wrap(name, originals[attr], observe))
        for d in docs:
            fields_seen.clear()
            with tracer.span("extractors.pipeline_pure", d["doc_id"]):
                pp.process_document(d["doc_id"], d["spans"])
    finally:
        for attr, fn in originals.items():
            setattr(pp, attr, fn)

    t = tracer.totals()
    out = {}
    for layer in ("classify", "doc_types", "media", "boilerplate", "quality"):
        out[f"extractors.{layer}.calls"] = t[f"extractors.{layer}"]["calls"]
        out[f"extractors.{layer}.s"] = t[f"extractors.{layer}"]["s"]
    fields_calls = t["extractors.doc_types"]["calls"]
    out.update({
        "extractors.classify.chars_in": n["classify.chars_in"],
        "extractors.classify.rejected": n["classify.rejected"],
        "extractors.doc_types.fields": n["doc_types.fields"],
        "extractors.doc_types.useful_call_ratio":
            n["doc_types.useful_calls"] / fields_calls if fields_calls else 0.0,
        "extractors.media.unreadable": n["media.unreadable"],
        "extractors.media.decodes_per_media_span":
            t["extractors.media"]["calls"] / n_media_spans
            if n_media_spans else 0.0,
        "extractors.quality.rejected": n["quality.rejected"],
        "extractors.pipeline_pure.self_s":
            t["extractors.pipeline_pure"]["self_s"],
        "extractors.pipeline_pure.docs": t["extractors.pipeline_pure"]["calls"],
    })
    return out


# --- 2. jobs.lake timings --------------------------------------------------

LAKE_TIMINGS = ("pending_s", "write_results_s", "write_fields_long_s",
                "write_rejects_s", "append_metrics_s", "append_checkpoints_s")


@contextlib.contextmanager
def lake_spans(tracer: Tracer):
    """Wrap the ``jobs.lake`` functions ``jobs.extract.run`` reaches
    through the module attribute; one span per call, named after the
    table it writes."""
    from ocr_documents_spark.jobs import lake as L

    orig = {a: getattr(L, a) for a in ("pending_buckets", "write_bucketed",
                                       "append")}

    def write_bucketed(df, lake, table):
        with tracer.span(f"jobs.lake.write_{table}"):
            return orig["write_bucketed"](df, lake, table)

    def append(df, lake, table):
        with tracer.span(f"jobs.lake.append_{table}"):
            return orig["append"](df, lake, table)

    L.pending_buckets = tracer.wrap("jobs.lake.pending", orig["pending_buckets"])
    L.write_bucketed = write_bucketed
    L.append = append
    try:
        yield
    finally:
        for a, fn in orig.items():
            setattr(L, a, fn)


def lake_files(lake_root: str | None) -> tuple[int, int]:
    """-> (data files, their bytes) under a lake root; (0, 0) for none."""
    files, size = 0, 0
    if lake_root is not None:
        for dirpath, _dirs, names in os.walk(lake_root):
            for f in names:
                if not f.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def lake_metrics(tracer: Tracer, files: int, size: int, n_docs: int,
                 task_commit_s: float) -> dict:
    t = tracer.totals()
    out = {f"jobs.lake.{m}": t[f"jobs.lake.{m[:-2]}"]["s"]
           for m in LAKE_TIMINGS}
    out["jobs.lake.files_written"] = files
    out["jobs.lake.bytes_per_doc"] = size / n_docs
    out["jobs.lake.task_commit_s"] = task_commit_s
    return out


# --- 1. stage ledger from the event log ------------------------------------

# task accumulables (SQL metrics) summed per stage; Spark reports these
# timings in ms
_ACCUMS = {"scan time": ("scan_s", 1e-3),
           "time to start Python workers": ("python_start_s", 1e-3),
           "time to run Python workers": ("python_run_s", 1e-3),
           "data sent to Python workers": ("python_bytes_in", 1),
           "data returned from Python workers": ("python_bytes_out", 1),
           "task commit time": ("task_commit_s", 1e-3)}

# per-task sums reported as pipeline.<name>
_SUMMED = ("scan_s", "input_bytes", "python_start_s", "python_run_s",
           "python_bytes_in", "python_bytes_out", "shuffle_write_bytes",
           "shuffle_write_s", "shuffle_fetch_wait_s", "executor_cpu_s",
           "gc_s", "spill_bytes")


def _event_files(event_dir: str) -> list[str]:
    def index(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0
    return sorted(glob.glob(os.path.join(event_dir, "*", "events_*")), key=index)


def stage_ledger(event_dir: str, job_group: str) -> dict:
    """Sum the task metrics of every stage run by a job of ``job_group``;
    ``task_commit_s`` (the write tasks' commit time) rides along for the
    ``jobs.lake`` view.  ``input_bytes`` is the scans' driver-side "size of
    files read" over the SQL executions of those jobs; the tasks' own
    "Bytes Read" credits only part of the scan on the Python-UDF paths."""
    stages: set = set()
    done: set = set()
    executions: set = set()
    sums = Counter()
    durations = []
    accum_names: dict = {}
    driver_accums: dict = {}       # (execution, accumulator) -> last value
    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties", {})
                    if props.get("spark.jobGroup.id") == job_group:
                        stages.update(e["Stage IDs"])
                        if "spark.sql.execution.id" in props:
                            executions.add(int(props["spark.sql.execution.id"]))
                elif ev == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    if sid in stages:
                        done.add(sid)
                elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                    _add_task(e, sums, durations)
                elif ev.endswith((".SparkListenerSQLExecutionStart",
                                  ".SparkListenerSQLAdaptiveExecutionUpdate")):
                    _plan_metric_names(e["sparkPlanInfo"], accum_names)
                elif ev.endswith(".SparkListenerDriverAccumUpdates"):
                    for acc, value in e["accumUpdates"]:
                        driver_accums[e["executionId"], acc] = value
    sums["input_bytes"] = sum(
        v for (ex, acc), v in driver_accums.items()
        if ex in executions and accum_names.get(acc) == "size of files read")
    out = {f"pipeline.{k}": sums[k] for k in _SUMMED}
    out["pipeline.tasks"] = len(durations)
    out["pipeline.task_s_p50"] = statistics.median(durations) if durations else 0.0
    out["pipeline.task_s_max"] = max(durations, default=0.0)
    out["pipeline.stages"] = len(done)
    out["task_commit_s"] = sums["task_commit_s"]
    return out


def _plan_metric_names(plan: dict, names: dict) -> None:
    """accumulator id -> metric name, over a SQL plan tree."""
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, names)


def _add_task(e: dict, sums: Counter, durations: list) -> None:
    info, tm = e["Task Info"], e.get("Task Metrics") or {}
    durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    for acc in info.get("Accumulables", []):
        key = _ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            sums[key[0]] += float(acc["Update"]) * key[1]
    sw = tm.get("Shuffle Write Metrics", {})
    sr = tm.get("Shuffle Read Metrics", {})
    sums["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sums["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
    sums["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    sums["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    sums["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    sums["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0))
