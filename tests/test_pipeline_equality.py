"""The correctness gate: per-document span-sequence equality
(kind, text, media_ref, order) between the Spark pipeline and the
single-node oracle (BASELINE.json per-row invariant).
"""

import pytest

from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.fixtures.gen import generate_docs

N_DOCS = 150


def expected_row(golden: dict) -> dict:
    """The oracle's result dict as the Spark result row it must equal,
    every RESULT_SCHEMA column included."""
    return {
        "doc_id": golden["doc_id"],
        "document_type": golden["document_type"],
        "classify_confidence": float(golden["classify_confidence"]),
        "overall_confidence": float(golden["overall_confidence"]),
        "status": golden["status"],
        "n_pages": golden["n_pages"],
        "fields": [{"name": name,
                    "value": None if d["value"] is None else str(d["value"]),
                    "confidence": float(d["confidence"]), "page": d["page"],
                    "media_ref": d["media_ref"]}
                   for name, d in golden["fields"].items()],
        "out_spans": [{"kind": k, "text": t, "media_ref": m, "order": o}
                      for (k, t, m, o) in golden["out_spans"]],
        "quality_issues": golden["quality_issues"],
        "quality_warnings": golden["quality_warnings"],
    }


@pytest.fixture(scope="module")
def corpus():
    return generate_docs(N_DOCS)


# None = cost-model auto (cheap synthetic decode -> zero-shuffle direct
# path); 16 = forced low threshold so media-heavy fixture docs exercise the
# salted explode/regroup path.  Equality must hold on BOTH physical plans.
@pytest.fixture(scope="module", params=[None, 16],
                ids=["auto-direct", "forced-salt"])
def spark_results(request, spark, corpus):
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline
    docs = spark.createDataFrame(
        [(d["doc_id"],
          [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in corpus],
        DOCS_SCHEMA)
    rows = run_pipeline(docs, heavy_threshold=request.param).collect()
    return {r["doc_id"]: r for r in rows}


def test_span_sequence_equality(spark_results, corpus):
    assert len(spark_results) == N_DOCS
    mismatches = []
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in got["out_spans"]]
        if got_spans != golden["out_spans"]:
            mismatches.append((d["doc_id"], golden["out_spans"], got_spans))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_status_and_confidence_equality(spark_results, corpus):
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        assert got["status"] == golden["status"], d["doc_id"]
        assert got["overall_confidence"] == pytest.approx(
            golden["overall_confidence"], abs=1e-9)
        if golden["status"] in ("completed", "partial"):
            assert got["document_type"] == golden["document_type"]
            assert [f["name"] for f in got["fields"]] == list(golden["fields"])


def test_every_result_column_equality(spark_results, corpus):
    """Whole result rows, not just spans and status: field values,
    confidences, pages and media refs, classify_confidence and n_pages
    must equal the oracle's exactly on both physical plans."""
    from ocr_documents_spark.pipeline import RESULT_SCHEMA
    mismatches = []
    for d in corpus:
        want = expected_row(process_document(d["doc_id"], d["spans"]))
        got = spark_results[d["doc_id"]].asDict(recursive=True)
        assert list(got) == list(want) == RESULT_SCHEMA.fieldNames()
        if got != want:
            mismatches.append((d["doc_id"], want, got))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_all_statuses_exercised(spark_results):
    statuses = {r["status"] for r in spark_results.values()}
    assert {"completed", "partial", "rejected_quality",
            "rejected_classification"} <= statuses


def test_quality_surface_equality(spark_results, corpus):
    """Q5: issues[]/warnings[] must match the oracle byte-for-byte on both
    physical plans (native format_string vs Python f-strings)."""
    seen_warn = seen_issue = 0
    for d in corpus:
        golden = process_document(d["doc_id"], d["spans"])
        got = spark_results[d["doc_id"]]
        assert list(got["quality_issues"]) == golden["quality_issues"], d["doc_id"]
        assert list(got["quality_warnings"]) == golden["quality_warnings"], d["doc_id"]
        seen_warn += bool(golden["quality_warnings"])
        seen_issue += bool(golden["quality_issues"])
    assert seen_warn > 0 and seen_issue > 0  # corpus exercises both channels


def test_native_gate_messages_match_oracle(spark):
    """Force the NATIVE gate (heavy path) on hand-built warn/fail docs of
    every QC variant and compare messages to the pure report."""
    from ocr_documents_spark.extractors.media import encode_media_ref
    from ocr_documents_spark.fixtures.gen import QC_FAILS, QC_GOOD, QC_WARNS
    from ocr_documents_spark.pipeline import DOCS_SCHEMA, run_pipeline

    docs = []
    for i, qc in enumerate(QC_FAILS + QC_WARNS + [QC_GOOD]):
        doc_id = f"qc{i:03d}"
        spans = [("media", None,
                  encode_media_ref(doc_id, off,
                                   [[3, 5, f"line {off}", 0.9]], qc), off)
                 for off in range(8)]  # > heavy_threshold=4 -> native gate
        docs.append((doc_id, spans))
    df = spark.createDataFrame(docs, DOCS_SCHEMA)
    got = {r["doc_id"]: r
           for r in run_pipeline(df, heavy_threshold=4).collect()}
    assert len(got) == len(docs)
    for doc_id, spans in docs:
        golden = process_document(
            doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o}
                     for (k, t, m, o) in spans])
        assert list(got[doc_id]["quality_issues"]) == golden["quality_issues"], doc_id
        assert list(got[doc_id]["quality_warnings"]) == golden["quality_warnings"], doc_id
        assert got[doc_id]["status"] == golden["status"]


def test_fields_long_explode(spark, spark_results):
    from ocr_documents_spark.pipeline import fields_long
    import pandas as pd  # noqa: F401
    from pyspark.sql import Row
    results_df = spark.createDataFrame(list(spark_results.values()))
    long_df = fields_long(results_df)
    total_fields = sum(len(r["fields"]) for r in spark_results.values()
                       if r["fields"] is not None)
    assert long_df.count() == total_fields
    assert set(long_df.columns) == {"doc_id", "document_type", "field_name",
                                    "field_value", "confidence", "page_number"}
