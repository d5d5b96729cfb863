"""Pin the single-document oracle's output bit for bit.

``process_document`` is the answer key for everything else: the Spark
equality tests and the equality sweep compare against it, and the
benchmark derives its expected answers from the current source.  None of
those notices if the oracle itself drifts.  This test hashes the canonical
JSON of every result key over a fixed generated stream (ordinary docs,
skew probes, every status) and compares it with a digest recorded before
any optimisation of the extraction core.  A change that moves this digest
changes the extraction semantics and must say so.
"""

import hashlib
import json

from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.fixtures.gen import make_document

N_DOCS = 2000
SEED = 7
PINNED_SHA256 = "8b122d9e3715cca0a57be5f77a2b06c246ec41b0a3d5327ea969c1fd053d6c83"


def oracle_digest(n_docs: int = N_DOCS, seed: int = SEED) -> str:
    h = hashlib.sha256()
    for i in range(n_docs):
        doc = make_document(i, seed)
        result = process_document(doc["doc_id"], doc["spans"])
        h.update(json.dumps(result, sort_keys=True, ensure_ascii=True,
                            separators=(",", ":")).encode("ascii"))
        h.update(b"\n")
    return h.hexdigest()


def test_oracle_output_is_pinned():
    assert oracle_digest() == PINNED_SHA256

