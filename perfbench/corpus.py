"""Seeded workload corpora and their single-node oracle answers.

Every workload is drawn from ``fixtures.gen.make_document(i, seed)``; the
program under test only ever sees the parquet written here.  The oracle
(``extractors.pipeline_pure.process_document``) runs once per
(workload, seed, program source) and its answer is cached next to the
corpus, so output checking never sits inside a timed repetition.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("light_docs", "media_heavy", "lake_job")

# corpus sizes: a warm repetition takes ~1.5 s (light_docs), ~4.5 s
# (lake_job) and ~6 s (media_heavy) on local[4]
N_LIGHT_DOCS = 3000
N_HEAVY_DOCS = 12
N_LAKE_DOCS = 1000
# warm-up corpus (every workload): the first ordinary docs of the seed's
# stream, in enough files that every task slot starts a Python worker
N_WARM = 64
WARM_DOCS_PER_FILE = 16

# the generator's skew probes carry 512-4096 filler media spans; ordinary
# documents carry 2-6 spans
SKEW_PROBE_MIN_SPANS = 512

# one rule per ingest reject reason (sources/ingest._reject_reason), plus
# a media payload that no decoder can read (it stays a valid row)
REJECT_REASONS = ("null_doc_id", "empty_spans", "unknown_span_kind",
                  "media_span_without_ref", "null_offset",
                  "duplicate_offsets")
CORRUPT_MEDIA = "corrupt_media"
# bad rows per kind in lake_job: a coverage fixture, so that every reject
# rule and the unreadable-media path run and are checked; it does not
# model how much bad input real traffic carries
BAD_ROWS_PER_KIND = 1

DOCS_PER_FILE = 250      # same part-file layout as fixtures.gen.write_docs_parquet
ROW_GROUP_ROWS = 50


def is_skew_probe(doc: dict) -> bool:
    return len(doc["spans"]) >= SKEW_PROBE_MIN_SPANS


def _stream(seed: int, keep):
    """The generator's documents, in index order, that satisfy ``keep``."""
    from ocr_documents_spark.fixtures.gen import make_document
    return filter(keep, (make_document(i, seed) for i in itertools.count()))


def _ordinary(doc: dict) -> bool:
    return not is_skew_probe(doc)


def workload_docs(workload: str, seed: int) -> tuple[list, dict]:
    """-> (docs in input order, injected bad-row counts by reason)."""
    if workload == "light_docs":
        return list(itertools.islice(_stream(seed, _ordinary), N_LIGHT_DOCS)), {}
    if workload == "media_heavy":
        return list(itertools.islice(_stream(seed, is_skew_probe),
                                     N_HEAVY_DOCS)), {}
    if workload == "lake_job":
        # ordinary docs only: a task holding several skew probes would set
        # the wall, and how many land in one task varies with the seed
        docs = list(itertools.islice(_stream(seed, _ordinary), N_LAKE_DOCS))
        return docs, inject_bad_rows(docs, seed)
    raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")


def inject_bad_rows(docs: list, seed: int) -> dict:
    """Give ``BAD_ROWS_PER_KIND`` seeded docs each kind of bad input, in
    place; -> counts by kind.

    Only documents with a media span and at least two spans are picked, so
    every mutation trips exactly the rule it names (ingest evaluates its
    rules in order; a generated document passes all of them).
    """
    rng = random.Random(f"perfbench-bad-rows:{seed}")
    k = BAD_ROWS_PER_KIND
    pool = [i for i, d in enumerate(docs)
            if len(d["spans"]) >= 2
            and any(s["kind"] == "media" for s in d["spans"])]
    kinds = REJECT_REASONS + (CORRUPT_MEDIA,)
    picks = rng.sample(pool, k * len(kinds))
    for j, kind in enumerate(kinds):
        for i in picks[j * k:(j + 1) * k]:
            _mutate(docs[i], kind, rng)
    return {kind: k for kind in kinds}


def _mutate(doc: dict, kind: str, rng: random.Random) -> None:
    spans = doc["spans"]
    media = [s for s in spans if s["kind"] == "media"]
    if kind == "null_doc_id":
        doc["doc_id"] = None
    elif kind == "empty_spans":
        doc["spans"] = []
    elif kind == "unknown_span_kind":
        rng.choice(spans)["kind"] = "pdf"
    elif kind == "media_span_without_ref":
        rng.choice(media)["media_ref"] = None
    elif kind == "null_offset":
        rng.choice(spans)["offset"] = None
    elif kind == "duplicate_offsets":
        a, b = rng.sample(spans, 2)
        b["offset"] = a["offset"]
    elif kind == CORRUPT_MEDIA:
        # well-formed ref, payload that inflates to nothing readable
        s = rng.choice(media)
        s["media_ref"] = f"m:{doc['doc_id']}:{s['offset']}:AAAA"
    else:
        raise ValueError(kind)


_SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                     ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_T))])
# the result table's columns that span-sequence equality is judged on
EXPECTED_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("document_type", pa.string()),
    ("status", pa.string()),
    ("fields", pa.list_(pa.struct([
        ("name", pa.string()), ("value", pa.string()),
        ("confidence", pa.float64()), ("page", pa.int32()),
        ("media_ref", pa.string())]))),
    ("out_spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("order", pa.int32())]))),
])


def expected_result(doc: dict) -> dict:
    """The oracle's answer for one valid doc, as an EXPECTED_SCHEMA row."""
    from ocr_documents_spark.extractors.pipeline_pure import process_document

    r = process_document(doc["doc_id"], doc["spans"])
    return {"doc_id": doc["doc_id"], "document_type": r["document_type"],
            "status": r["status"],
            "fields": [{"name": name,
                        "value": None if d["value"] is None else str(d["value"]),
                        "confidence": float(d["confidence"]),
                        "page": d["page"], "media_ref": d["media_ref"]}
                       for name, d in r["fields"].items()],
            "out_spans": [{"kind": k, "text": t, "media_ref": m, "order": o}
                          for (k, t, m, o) in r["out_spans"]]}


def write_parquet(rows: list, path: str, schema: pa.Schema,
                  rows_per_file: int) -> None:
    os.makedirs(path)
    for part, lo in enumerate(range(0, len(rows), rows_per_file)):
        pq.write_table(pa.Table.from_pylist(rows[lo:lo + rows_per_file],
                                            schema=schema),
                       os.path.join(path, f"part-{part:05d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)


def source_key(root: str) -> str:
    """Hash of the program and benchmark sources: a cache built by other
    code is never reused."""
    h = hashlib.sha256()
    for top in ("ocr_documents_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class Corpus:
    """One workload at one seed, materialised under ``cache_dir``."""

    def __init__(self, workload: str, seed: int, cache_dir: str):
        self.workload = workload
        self.seed = seed
        self.dir = os.path.join(cache_dir, f"{workload}-seed{seed}")
        self.docs_path = os.path.join(self.dir, "docs")
        self.warm_path = os.path.join(self.dir, "warm")
        self.expected_path = os.path.join(self.dir, "expected")
        meta_path = os.path.join(self.dir, "meta.json")
        if not os.path.exists(meta_path):
            self._build(meta_path)
        with open(meta_path) as fh:
            meta = json.load(fh)
        self.n_docs = meta["n_docs"]
        self.injected = meta["injected"]
        self.n_media_spans = meta["n_media_spans"]

    def _build(self, meta_path: str) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        docs, injected = workload_docs(self.workload, self.seed)
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write_parquet(docs, os.path.join(tmp, "docs"), DOCS_SCHEMA,
                      DOCS_PER_FILE)
        write_parquet(list(itertools.islice(_stream(self.seed, _ordinary), N_WARM)),
                      os.path.join(tmp, "warm"), DOCS_SCHEMA, WARM_DOCS_PER_FILE)
        valid = [d for d in docs if not _is_rejected(d)]
        write_parquet([expected_result(d) for d in valid],
                      os.path.join(tmp, "expected"), EXPECTED_SCHEMA, len(valid))
        meta = {"n_docs": len(docs), "injected": injected,
                "n_media_spans": sum(s["kind"] == "media"
                                     for d in valid for s in d["spans"])}
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, self.dir)

    def valid_docs(self) -> list:
        """The input rows that pass ingest (all of them, but for lake_job),
        read back from the corpus parquet."""
        return [d for d in pq.read_table(self.docs_path).to_pylist()
                if not _is_rejected(d)]


def _is_rejected(doc: dict) -> bool:
    """Python twin of the ingest rules, applied to the injected rows only
    (generated rows pass every rule)."""
    spans = doc["spans"]
    offsets = [s["offset"] for s in spans]
    return (not doc["doc_id"] or not spans
            or any(s["kind"] not in ("text", "media", "html") for s in spans)
            or any(s["kind"] == "media" and s["media_ref"] is None
                   for s in spans)
            or any(o is None for o in offsets)
            or len(set(offsets)) != len(offsets))
