"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench -q

Each case runs ``run.main`` in a fresh interpreter with shrunken corpora,
one set-up and one timed repetition, in a throwaway work
directory, so nothing here touches the benchmark's own cache.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import count_failures  # noqa: E402

TINY = """
import sys
sys.path.insert(0, {here!r})
import corpus, run
corpus.N_LIGHT_DOCS, corpus.N_HEAVY_DOCS, corpus.N_LAKE_DOCS = 40, 1, 200
corpus.N_WARM = 8
run.MIN_REPS, run.PRIME_CALLS, run.PRIME_S = 1, 1, 0
run.WORK = {work!r}
"""


def _python(code: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=900)


def _bench(tmp_path, workload: str, trace: int) -> tuple[dict, list[str]]:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace)]
    proc = _python(TINY.format(here=HERE, work=str(tmp_path))
                   + f"sys.exit(run.main({args!r}))\n")
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _declared(section: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


@pytest.mark.parametrize("workload", ["light_docs", "media_heavy", "lake_job"])
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_prints_with_its_unit(tmp_path, workload, trace, section):
    result, lines = _bench(tmp_path, workload, trace)
    declared = _declared(section)
    assert {n: m["unit"] for n, m in result["metrics"].items()} == declared
    for name, unit in declared.items():
        assert any(line.startswith(f"{workload} {name} = ")
                   and line.endswith(f" {unit}") for line in lines), name
    assert any(line.startswith(f"{workload} error_rate = 0 ratio")
               for line in lines)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    if trace:
        ledger = {n: m["value"] for n, m in result["metrics"].items()}
        shuffled = ledger["pipeline.shuffle_write_bytes"]
        if workload == "light_docs":
            assert shuffled == 0
        if workload == "media_heavy":
            assert shuffled > 0
        if workload == "lake_job":
            assert ledger["jobs.lake.files_written"] > 0
            assert ledger["extractors.media.unreadable"] > 0
        corpus_bytes = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(tmp_path, "corpus", "*", f"{workload}-seed7", "docs",
                         "*.parquet")))
        assert corpus_bytes > 0
        assert ledger["pipeline.input_bytes"] >= corpus_bytes


def test_count_failures_counts_dropped_altered_duplicated_and_unexpected():
    expected = {"a": "1", "b": "2", "c": "3", "d": "4"}
    assert count_failures(list(expected.items()), expected) == 0
    rows = [("a", "1"), ("a", "1"), ("c", "x"), ("d", "4"), ("z", "9")]
    # a duplicated, b dropped, c altered, z unexpected
    assert count_failures(rows, expected) == 4


def test_dropped_or_altered_result_doc_is_a_failure(tmp_path):
    code = TINY.format(here=HERE, work=str(tmp_path)) + """
import os
run.configure_env()
sys.path.insert(0, run.ROOT)
from pyspark.sql import functions as F
from ocr_documents_spark.pipeline import read_docs, run_pipeline
c = corpus.Corpus("light_docs", 7, os.path.join(run.WORK, "corpus"))
spark = run.start_session()
try:
    expected = run.expected_digests(spark, c)
    results = run_pipeline(read_docs(spark, c.docs_path)).cache()
    ids = sorted(r["doc_id"] for r in results.select("doc_id").collect())
    def failures(df):
        return run.count_failures(
            df.select("doc_id", run.digest_col()).collect(), expected)
    dropped = results.filter(F.col("doc_id") != ids[0])
    altered = results.withColumn("status", F.when(
        F.col("doc_id") == ids[1], F.lit("completed_x")).otherwise(F.col("status")))
    print(json.dumps([failures(results), failures(dropped), failures(altered),
                      failures(dropped.unionByName(
                          results.filter(F.col("doc_id") == ids[2])))]))
finally:
    run.stop_session(spark)
    run.reap_descendants()
"""
    proc = _python("import json\n" + code)
    assert proc.returncode == 0, proc.stderr[-4000:]
    clean, dropped, altered, dropped_and_dup = json.loads(
        proc.stdout.strip().splitlines()[-1])
    assert clean == 0
    assert dropped == 1
    assert altered == 1
    assert dropped_and_dup == 2


def test_tampered_lake_is_a_failure(tmp_path):
    """Each of lake_job's own checks fails a lake that breaks it."""
    code = TINY.format(here=HERE, work=str(tmp_path)) + """
import glob, json, os, shutil
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
run.configure_env()
sys.path.insert(0, run.ROOT)
c = corpus.Corpus("lake_job", 7, os.path.join(run.WORK, "corpus"))

def parts(lake, table):
    return sorted(glob.glob(os.path.join(lake, table, "**", "*.parquet"),
                            recursive=True))

def rewrite(f, table):
    # drop the file's checksum sidecar, which no longer matches
    os.remove(os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc"))
    pq.write_table(table, f)

def drop_reject_row(lake):
    f = next(f for f in parts(lake, "rejects") if pq.read_metadata(f).num_rows)
    rewrite(f, pq.read_table(f).slice(1))

def add_metrics_row(lake):
    f = parts(lake, "metrics")[0]
    pq.write_table(pq.read_table(f).slice(0, 1),
                   os.path.join(os.path.dirname(f), "part-extra.parquet"))

def filter_checkpoints(lake, keep):
    for f in parts(lake, "checkpoints"):
        t = pq.read_table(f)
        rewrite(f, t.filter(keep(t.column("bucket"))))

def drop_checkpoint_bucket(lake):
    filter_checkpoints(lake, lambda b: pc.not_equal(b, 0))

def add_checkpoint_bucket(lake):
    f = parts(lake, "checkpoints")[0]
    t = pq.read_table(f)
    row = t.slice(0, 1).to_pylist()[0]
    row["bucket"] += run.LAKE_BUCKETS      # outside the claim
    pq.write_table(pa.Table.from_pylist([row], schema=t.schema),
                   os.path.join(os.path.dirname(f), "part-extra.parquet"))

spark = run.start_session()
try:
    expected = run.expected_digests(spark, c)
    base = os.path.join(run.WORK, "lake", "base")
    run.run_workload(spark, "lake_job", c.docs_path, base)
    out = {}
    for name, tamper in [("clean", None),
                         ("drop_reject_row", drop_reject_row),
                         ("add_metrics_row", add_metrics_row),
                         ("drop_checkpoint_bucket", drop_checkpoint_bucket),
                         ("add_checkpoint_bucket", add_checkpoint_bucket)]:
        lake = os.path.join(run.WORK, "lake", name)
        shutil.copytree(base, lake)
        if tamper is not None:
            tamper(lake)
        out[name] = run.check_output(spark, c, None, lake, expected)[0]
    print(json.dumps(out))
finally:
    run.stop_session(spark)
    run.reap_descendants()
"""
    proc = _python(code)
    assert proc.returncode == 0, proc.stderr[-4000:]
    failed = json.loads(proc.stdout.strip().splitlines()[-1])
    assert failed.pop("clean") == 0
    assert all(n > 0 for n in failed.values()), failed
