"""The Spark extraction pipeline: docs(doc_id, spans) -> results.

One job, one lineage (mirrors the reference's single live request path,
backend/main.py:94-234 — see SURVEY.md §3.1), **skew-split** into two paths
on ``size(spans)``:

* **light path** (~99% of documents, a handful of spans each): a single
  zero-shuffle ``mapInArrow`` stage runs recover + quality gate + classify
  + extract per document.  Parallelism comes from the input scan splits —
  no exploded spans ever cross the wire, so the common case is
  scan -> one Arrow stage -> sink.
* **heavy path** (media-heavy documents, the skew unit — hundreds to
  thousands of media spans in ONE row, invisible to AQE because skew hides
  inside a single row): native quality gate (ONE probe decode per doc,
  cheap-first; gate-failed docs stay in the same dataflow with spans
  blanked — no second scan, no duplicate probe eval) ->
  posexplode_outer(spans) -> salted repartition on (doc_id, span_idx) ->
  recover-text pandas UDF -> groupBy(doc_id) offset-ordered reassembly
  (native sort_array) -> finalize ``mapInArrow`` stage (synthesizes
  rejected results from the carried gate columns).  Exactly two shuffles,
  and only over the skewed ~1%.

Both paths end in the same Arrow adapter (``_map_documents``) and result
builder; they differ only in the list column it flattens (``spans`` or
``pages``) and the shared per-document function it calls.

Scale design (SURVEY.md §4.2):
* At production scale the input Iceberg table carries a ``size_class``
  ingest partition so each branch's filter partition-prunes to a disjoint
  scan (net one pass over the data).  On a raw parquet table the
  ``size(spans)`` filters evaluate post-scan; heavy docs are ~1% so the
  extra heavy-branch scan is skip-heavy.
* The regroup is a hash aggregation on doc_id whose per-group state is
  bounded by the per-doc span cap, so it partial-aggregates map-side.
* Everything between Arrow batches is native Catalyst (gate, reassembly),
  all UDF stages are Arrow-vectorized; there is no per-row Python UDF and
  no driver-side collect anywhere.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, StringType,
                               StructField, StructType)

from .extractors.pipeline_pure import (process_document, process_recovered,
                                       rejected_quality_result)
from .operators.gate import (quality_issues_col, quality_passed_col,
                             quality_warnings_col)
from .operators.recover import probe_first_media_qc, recover_span

DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])

OUT_SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("order", IntegerType()),
])

FIELD_TYPE = StructType([
    StructField("name", StringType()),
    StructField("value", StringType()),
    StructField("confidence", DoubleType()),
    StructField("page", IntegerType()),
    StructField("media_ref", StringType()),
])

RESULT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("document_type", StringType()),
    StructField("classify_confidence", DoubleType()),
    StructField("overall_confidence", DoubleType()),
    StructField("status", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("fields", ArrayType(FIELD_TYPE)),
    StructField("out_spans", ArrayType(OUT_SPAN_TYPE)),
    # Q5 triage surface (reference issues[]/warnings[],
    # image_quality_checker.py:56-62): issues explain a rejected_quality
    # status; warnings ride passing docs (skew, borderline sharpness,
    # 50<=score<70)
    StructField("quality_issues", ArrayType(StringType())),
    StructField("quality_warnings", ArrayType(StringType())),
])


# --- recovery-spread cost model ------------------------------------------
# Spreading one document's media spans across tasks costs two full-data
# shuffles (explode fan-out + doc_id regroup).  That price is right when a
# span's recovery is expensive (real OCR: O(100ms-1s)/span — a 4096-span
# doc would pin one task for 7-70 min) and wrong when recovery is cheap
# (the deterministic decoder: ~0.05ms/span — the same doc is 0.2s of work,
# far less than the shuffles cost).  The threshold therefore derives from
# the configured per-span recovery cost: salt only documents whose SERIAL
# recovery would exceed the target task time.  Deployments running a real
# OCR engine set SPARK_GRAFT_RECOVER_MS_PER_SPAN=300 (or their measured
# cost) and media-heavy docs fan out exactly as SURVEY.md §4.2 describes.
import os as _os

RECOVER_MS_PER_SPAN = float(
    _os.environ.get("SPARK_GRAFT_RECOVER_MS_PER_SPAN", "0.05"))
TARGET_TASK_SECONDS = 5.0
# floor of the cost-model split; tests force the heavy path by passing
# an explicit heavy_threshold (16, 4) instead
HEAVY_SPAN_THRESHOLD = 64


# when the cost model puts the split above this, no plausible document
# qualifies and the two-branch plan would only buy a second full scan of
# the input (array-size predicates cannot prune parquet row groups) —
# emit the single-scan direct plan instead
NO_SALT_CUTOFF = 32768


def auto_heavy_threshold(ms_per_span: float = None) -> int:
    ms = RECOVER_MS_PER_SPAN if ms_per_span is None else ms_per_span
    return max(HEAVY_SPAN_THRESHOLD, int(TARGET_TASK_SECONDS * 1000.0 / ms))


def _append_result(rows: dict, r: dict) -> None:
    rows["doc_id"].append(r["doc_id"])
    rows["document_type"].append(r["document_type"])
    rows["classify_confidence"].append(float(r["classify_confidence"]))
    rows["overall_confidence"].append(float(r["overall_confidence"]))
    rows["status"].append(r["status"])
    rows["n_pages"].append(r["n_pages"])
    rows["fields"].append([
        {"name": name, "value": None if d["value"] is None else str(d["value"]),
         "confidence": float(d["confidence"]), "page": d["page"],
         "media_ref": d["media_ref"]}
        for name, d in r["fields"].items()])
    rows["out_spans"].append([
        {"kind": k, "text": t, "media_ref": m, "order": o}
        for (k, t, m, o) in r["out_spans"]])
    rows["quality_issues"].append(list(r["quality_issues"]))
    rows["quality_warnings"].append(list(r["quality_warnings"]))


def _map_documents(df: DataFrame, list_col: str, per_doc) -> DataFrame:
    """The one extraction adapter: ``df`` -> RESULT_SCHEMA via mapInArrow.

    ``per_doc(row, items)`` is a shared per-document function from
    extractors/pipeline_pure.py (the oracle's own code, so span-sequence
    equality holds by construction).  ``row`` maps every column except
    ``list_col`` to its value; ``items`` is that row's ``list_col``
    elements as dicts keyed by struct field name.

    The list-of-struct column is flattened ONCE per batch into contiguous
    child arrays (one ``to_pylist`` each — cheap, they are flat) and the
    per-document item lists are slices of one batch-wide list.
    Arrow->pandas would instead materialize every element through numpy
    object arrays, which measured ~45% of the stage.
    """
    def fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(RESULT_SCHEMA)
        for batch in batches:
            nested = batch.column(list_col)
            lengths = nested.value_lengths().to_pylist()
            flat = nested.flatten()
            names = [f.name for f in flat.type]
            items = [dict(zip(names, vals)) for vals in zip(
                *(flat.field(i).to_pylist() for i in range(len(names))))]
            cols = {name: batch.column(name).to_pylist()
                    for name in batch.schema.names if name != list_col}
            rows = {name: [] for name in schema.names}
            pos = 0
            for i, ln in enumerate(lengths):
                ln = ln or 0
                row = {name: col[i] for name, col in cols.items()}
                _append_result(rows, per_doc(row, items[pos:pos + ln]))
                pos += ln
            yield pa.RecordBatch.from_pydict(
                {name: pa.array(rows[name], type=schema.field(name).type)
                 for name in rows}, schema=schema)
    return df.mapInArrow(fn, RESULT_SCHEMA)


def _document_result(row: dict, spans: list, skip_quality_check: bool,
                     forced_type: str | None) -> dict:
    """Light path: the whole oracle pipeline over one document's spans."""
    return process_document(row["doc_id"], spans,
                            skip_quality_check=skip_quality_check,
                            forced_type=forced_type)


def _recovered_result(row: dict, pages: list,
                      forced_type: str | None) -> dict:
    """Heavy path: classify + extract + status over the regrouped pages,
    or the rejected result the carried gate columns call for."""
    if not row["quality_ok"]:
        return rejected_quality_result(
            row["doc_id"], row["n_spans_total"], row["quality_issues"],
            row["quality_warnings"])
    return process_recovered(row["doc_id"], pages, forced_type,
                             quality_warnings=row["quality_warnings"])


def _direct_stage(docs: DataFrame, skip_quality_check: bool,
                  forced_type: str | None) -> DataFrame:
    """Whole-document single pass: gate, recover, classify, extract."""
    return _map_documents(docs, "spans", partial(
        _document_result, skip_quality_check=skip_quality_check,
        forced_type=forced_type))


def with_quality_gate(docs: DataFrame, skip_quality_check: bool = False) -> DataFrame:
    """Cheap-first gate BEFORE any recovery fan-out (Q1-Q6, S3).

    One probe decode of the FIRST media span per document (mirrors the
    reference's single-page reduced-dpi QC render,
    backend/image_quality_checker.py:242-254), then the pass/fail ladder as
    native JVM-side column arithmetic.  Documents that fail never pay
    recovery: heavy_branch blanks their spans, so they cross the two
    exchanges as single metadata rows.
    """
    # first media span = smallest OFFSET, not array position (spans may
    # arrive unordered); reorder the struct so sort_array keys on offset
    first_ref = F.try_element_at(
        F.sort_array(F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("media")),
            lambda s: F.struct(s["offset"].alias("offset"),
                               s["media_ref"].alias("media_ref")))),
        F.lit(1))["media_ref"]
    empty = F.array().cast("array<string>")
    if skip_quality_check:
        ok, issues, warnings = F.lit(True), empty, empty
    else:
        qc = probe_first_media_qc(first_ref)
        args = (qc["w"], qc["h"], qc["blur"], qc["brightness"], qc["contrast"])
        no_media = first_ref.isNull()
        ok = F.when(no_media, F.lit(True)).otherwise(quality_passed_col(*args))
        issues = F.when(no_media, empty).otherwise(quality_issues_col(*args))
        warnings = F.when(no_media, empty).otherwise(
            quality_warnings_col(*args, qc["skew"]))
    return (docs.withColumn("quality_ok", ok)
            .withColumn("quality_issues", issues)
            .withColumn("quality_warnings", warnings))


def recover_and_regroup(docs: DataFrame) -> DataFrame:
    """docs -> one row per doc with offset-ordered recovered pages (+ every
    doc-level column besides doc_id/spans — the gate's quality_* triage
    surface, n_spans_total — carried through the fan-out as riders).

    Each rider rides ONLY the first exploded row per document (null
    elsewhere), so the explode shuffle carries one copy per document, not
    one per span — a 4096-span doc would otherwise ship 4096 copies of
    every array through two shuffles.

    Documents whose spans array is EMPTY (the gate blanks rejected docs'
    spans so they ride this dataflow as metadata-only rows) survive the
    explode as a single null-span row (posexplode_outer) and regroup to
    ``pages = []`` — collect_list drops the null page struct.
    """
    riders = [c for c in docs.columns if c not in ("doc_id", "spans")]
    spans = docs.select("doc_id", *riders,
                        F.posexplode_outer("spans").alias("span_idx", "span"))
    first_row = F.coalesce(F.col("span_idx"), F.lit(0)) == 0
    spans = spans.select(
        "doc_id", "span_idx", "span",
        *[F.when(first_row, F.col(c)).alias(c) for c in riders])

    # spread media-heavy documents across tasks; without this, a doc
    # with 4096 media spans pins its entire recovery to one input split.
    # The partition count is EXPLICIT: AQE coalesces shuffles by bytes,
    # and a few thousand span rows look tiny even when each costs
    # ~100ms-1s of OCR — byte-based coalescing would serialize exactly
    # the work this shuffle exists to spread (user-specified counts are
    # exempt from AQE coalescing).
    sess = docs.sparkSession
    n_parts = max(sess.sparkContext.defaultParallelism * 2,
                  int(sess.conf.get("spark.sql.shuffle.partitions", "200")))
    spans = spans.repartition(n_parts, "doc_id", "span_idx")

    rec = spans.select(
        "doc_id",
        *riders,
        F.col("span").isNotNull().alias("is_span"),
        F.col("span.offset").alias("offset"),
        F.col("span.media_ref").alias("media_ref"),
        recover_span(F.col("span.kind"), F.col("span.text"),
                     F.col("span.media_ref")).alias("rec"),
    )

    page = F.when(F.col("is_span"), F.struct(
        F.col("offset"),
        F.col("rec.text").alias("text"),
        F.col("media_ref"),
        F.col("rec.confidence").alias("confidence"),
    ))
    return rec.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(page)).alias("pages"),
        *[F.first(c, ignorenulls=True).alias(c) for c in riders])


def run_pipeline(docs: DataFrame, skip_quality_check: bool = False,
                 heavy_threshold: int | None = None,
                 forced_type: str | None = None) -> DataFrame:
    """Full extraction: docs(doc_id, spans) -> RESULT_SCHEMA DataFrame.

    Skew-split: documents with ``size(spans) <= heavy_threshold`` run the
    zero-shuffle direct stage; bigger ones are gated first (one probe decode
    per doc), failed ones short-circuit to native result rows, and the rest
    run the salted explode/regroup path.  ``heavy_threshold=None`` derives
    the split from the recovery cost model (see auto_heavy_threshold):
    cheap recovery -> everything direct, zero shuffles; expensive OCR ->
    media-heavy docs fan out.  A split at or above ``NO_SALT_CUTOFF`` runs
    every document through the direct stage.

    ``forced_type`` skips classification and extracts every document as
    that type — the reference's explicit ``document_type`` upload parameter
    (backend/main.py:175-188), and the only path that can process
    LABOR_CONTRACT (no classifier rules exist for it, by parity).
    """
    if heavy_threshold is None:
        heavy_threshold = auto_heavy_threshold()
    # an over-split input scan (thousands of small files/splits) spends
    # more on per-task Python-worker setup than on extraction — merge
    # splits without a shuffle; no-op on a sanely-split scan
    from .functions.fanout import fan_in
    docs = fan_in(docs)
    if heavy_threshold >= NO_SALT_CUTOFF:
        return _direct_stage(docs, skip_quality_check, forced_type)
    return (light_branch(docs, heavy_threshold, skip_quality_check,
                         forced_type)
            .unionByName(heavy_branch(docs, heavy_threshold,
                                      skip_quality_check, forced_type)))


def light_branch(docs: DataFrame, heavy_threshold: int,
                 skip_quality_check: bool = False,
                 forced_type: str | None = None) -> DataFrame:
    """The zero-shuffle direct stage over docs at/below the split.

    Shared by run_pipeline and tools/heavy_diag.py so the diagnostic
    always measures the production branch shape, never a hand-copy.
    """
    return _direct_stage(docs.filter(F.size("spans") <= heavy_threshold),
                         skip_quality_check, forced_type)


def heavy_branch(docs: DataFrame, heavy_threshold: int,
                 skip_quality_check: bool = False,
                 forced_type: str | None = None) -> DataFrame:
    """Gate → salted recover/regroup/finalize over docs above the split
    (see light_branch for the sharing note).

    Gate-FAILED docs ride the SAME dataflow as metadata-only rows: their
    spans are blanked before the explode (no recovery work, one null-span
    row through the two exchanges) and the finalize stage synthesizes the
    rejected result from the carried quality columns via the shared pure
    function.  The earlier two-branch shape (filter quality_ok, union a
    native rejected projection) planned a SECOND FileScan of the heavy
    slice and — because Catalyst extracts Python UDFs per Filter/Project
    operator — evaluated the gate-probe pandas UDF up to FOUR times per
    document; with a real OCR probe at 10^12 docs that is a 4× tax on the
    single most expensive gate step.  Single dataflow: one scan, ONE
    probe evaluation, same two exchanges (plan-asserted in
    tests/test_plan_shapes.py).
    """
    gated = with_quality_gate(docs.filter(F.size("spans") > heavy_threshold),
                              skip_quality_check)
    pruned = gated.select(
        "doc_id",
        F.size("spans").alias("n_spans_total"),
        "quality_ok",
        "quality_issues",
        "quality_warnings",
        F.when(F.col("quality_ok"), F.col("spans"))
        .otherwise(F.array().cast(docs.schema["spans"].dataType))
        .alias("spans"),
    )
    return _map_documents(recover_and_regroup(pruned), "pages", partial(
        _recovered_result, forced_type=forced_type))


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCS_SCHEMA).parquet(path)


def fields_long(results: DataFrame) -> DataFrame:
    """S5: EAV long-format table (mirrors backend/main_v1.py:136-144)."""
    f = F.explode("fields").alias("f")
    return results.select("doc_id", "document_type", f).select(
        "doc_id", "document_type",
        F.col("f.name").alias("field_name"),
        F.col("f.value").alias("field_value"),
        F.col("f.confidence").alias("confidence"),
        F.col("f.page").alias("page_number"),
    )
