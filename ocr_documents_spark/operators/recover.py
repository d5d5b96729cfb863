"""O1-O4: span text recovery as an Arrow-batched pandas UDF.

Runs after ``posexplode(spans)`` at span granularity, so a media-heavy
document's spans are recovered in parallel across tasks (the skew unit per
SURVEY.md §4.2).  The per-span rule is the oracle's own
``pipeline_pure.recover_span_text``: text spans pass through with the 85.0
born-digital confidence, html spans are boilerplate-stripped, media spans
go through the deterministic decode seam in extractors/media.py
(production slot: pytesseract/easyocr per batch).

This is a SCALAR pandas UDF over three string columns returning a struct —
all traffic rides Arrow; no per-row Python UDF anywhere in the pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..extractors.media import decode_media_ref
from ..extractors.pipeline_pure import recover_span_text

RECOVERED_TYPE = StructType([
    StructField("text", StringType()),
    StructField("confidence", DoubleType()),
])

QC_TYPE = StructType([
    StructField("w", DoubleType()),
    StructField("h", DoubleType()),
    StructField("blur", DoubleType()),
    StructField("brightness", DoubleType()),
    StructField("contrast", DoubleType()),
    StructField("skew", DoubleType()),
])


@pandas_udf(RECOVERED_TYPE)
def recover_span(kind: pd.Series, text: pd.Series, media_ref: pd.Series) -> pd.DataFrame:
    """Slim per-span recovery: (text, confidence) only.

    QC metrics deliberately do NOT ride this struct — the gate probes just
    the FIRST media span per document (probe_first_media_qc), so shipping
    six floats per recovered span through two shuffles would be pure waste.
    """
    out = {"text": [], "confidence": []}
    for k, t, m in zip(kind.to_numpy(), text.to_numpy(), media_ref.to_numpy()):
        page_text, conf = recover_span_text(k, t, m)
        out["text"].append(page_text)
        out["confidence"].append(conf)
    return pd.DataFrame(out)


@pandas_udf(QC_TYPE)
def probe_first_media_qc(media_ref: pd.Series) -> pd.DataFrame:
    """Decode ONE media ref per document for the quality gate (S3/Q1-Q6).

    Mirrors the reference's cheap first-page 200-dpi QC probe
    (backend/image_quality_checker.py:242-254): one decode per document,
    before any span fan-out, so rejected documents never pay recovery.
    """
    n = len(media_ref)
    out = {k: [None] * n
           for k in ("w", "h", "blur", "brightness", "contrast", "skew")}
    refs = media_ref.to_numpy()
    for i in range(n):
        if refs[i] is not None:
            _text, _conf, qc = decode_media_ref(refs[i])
            out["w"][i] = float(qc.get("w", 0))
            out["h"][i] = float(qc.get("h", 0))
            out["blur"][i] = float(qc.get("blur", 0.0))
            out["brightness"][i] = float(qc.get("brightness", 0.0))
            out["contrast"][i] = float(qc.get("contrast", 0.0))
            out["skew"][i] = float(qc.get("skew", 0.0))
    return pd.DataFrame(out)
