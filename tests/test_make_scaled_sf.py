"""tools/make_scaled_sf.py: shared key spans and replica-distinct embeddings."""

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "make_scaled_sf.py")
_spec = importlib.util.spec_from_file_location("make_scaled_sf", _PATH)
msf = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(msf)


def _tables(part_max: int, lineitem_partkey_max: int) -> dict:
    return {
        "part": pa.table({"p_partkey": pa.array(range(1, part_max + 1),
                                                pa.int64())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array([1, 2], pa.int64()),
            "l_partkey": pa.array([1, lineitem_partkey_max], pa.int64()),
            "l_suppkey": pa.array([1, 1], pa.int64())}),
    }


def test_shared_key_gets_one_span_and_joins_survive_scaling():
    # fact max 95 and dimension max 120 straddle a power of ten: per-table
    # spans (100 vs 1000) would send replica 1's l_partkey 195 nowhere
    tables = _tables(part_max=120, lineitem_partkey_max=95)
    spans = msf.key_spans(tables)
    assert spans["l_partkey"] == spans["p_partkey"] == 1000
    part = msf.scale_table("part", tables["part"], 3, spans)
    line = msf.scale_table("lineitem", tables["lineitem"], 3, spans)
    assert set(line["l_partkey"].to_pylist()) <= set(part["p_partkey"].to_pylist())


def test_fact_max_above_dimension_max_raises():
    with pytest.raises(ValueError, match="l_partkey"):
        msf.key_spans(_tables(part_max=10, lineitem_partkey_max=11))


def test_no_replica_embedding_equals_replica_zero_when_k_exceeds_dim():
    dim, k = 4, 11
    emb = pa.table({
        "vec_id": pa.array([1, 2], pa.int64()),
        "embedding": pa.array([[1.0, 2.0, 3.0, 4.0], [0.5, -1.0, 2.0, 8.0]],
                              pa.list_(pa.float32())),
    })
    spans = msf.key_spans({"embeddings": emb})
    out = msf.scale_table("embeddings", emb, k, spans)
    vecs = np.array(out["embedding"].to_pylist()).reshape(k, 2, dim)
    for i in range(1, k):
        assert not np.array_equal(vecs[i], vecs[0]), i
        # rolling preserves every norm
        np.testing.assert_allclose(np.linalg.norm(vecs[i], axis=1),
                                   np.linalg.norm(vecs[0], axis=1))
