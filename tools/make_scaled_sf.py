"""Build a synthetic scaled copy of a testdata SF dir (measurement only).

The driver's sf1.0 directory is generated at measurement time and is not
kept in the sandbox, so optimization rounds need a stand-in at that scale
to check that plan shapes and timings hold beyond sf0.1.  This tool
replicates every table of a source SF dir K times with deterministic key
offsets so join/group cardinalities scale linearly instead of exploding:

* fact/dimension keys (orderkey, custkey, partkey, suppkey, doc_id,
  vec_id, event_id, user_id) are offset by ``replica * span`` so each
  replica is a disjoint key range; a key shared by several tables
  (l_partkey/p_partkey, ...) gets ONE span from its max across all of
  them, so replica foreign keys always land in the same replica's
  dimension rows (and the fact side must not exceed the dimension side);
* document text gets a per-replica prefix (and n_chars is recomputed) so
  exact/near-dup operators see distinct documents, not a 10x dup blowup
  the real generator would never produce;
* embeddings of replica ``i >= 1`` are rolled by ``1 + (i - 1) % (dim - 1)``
  positions (norm-preserving, never a multiple of ``dim``) so vector dedup
  does not collapse replicas into cosine-1.0 clusters;
* nation/region stay fixed (true dimensions).

Timings from the output are comparable across THIS tool's outputs (same
transformation), not bit-comparable to the driver's own generator.

Usage:
    python tools/make_scaled_sf.py /root/testdata/sf0.1 /root/sf_synth/sf1.0 10
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# per-table int64/32 key columns that must be offset per replica so that
# each replica occupies a disjoint key range
OFFSET_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED_DIMS = {"nation", "region"}

# columns that hold the same logical key share one span; the dimension
# column is the key's home table
LOGICAL_KEYS = {
    "orderkey": ("o_orderkey", ["l_orderkey"]),
    "custkey": ("c_custkey", ["o_custkey"]),
    "partkey": ("p_partkey", ["l_partkey"]),
    "suppkey": ("s_suppkey", ["l_suppkey"]),
}


def _span(mx: int) -> int:
    # power-of-10 span strictly above max(key) keeps ids readable and
    # guarantees disjoint ranges
    span = 1
    while span <= mx:
        span *= 10
    return span


def key_spans(tables: dict) -> dict:
    """Column -> offset span over ``{table name: pa.Table}``: one span per
    logical key from its max across every table that holds it, one per
    column for the rest.  Raises if a fact-side max exceeds its dimension's
    (a dangling foreign key would silently drop join rows)."""
    maxes = {c: pc.max(tbl[c]).as_py() or 0
             for name, tbl in tables.items()
             for c in OFFSET_KEYS.get(name, []) if c in tbl.column_names}
    spans = {c: _span(mx) for c, mx in maxes.items()}
    for key, (dim, facts) in LOGICAL_KEYS.items():
        cols = [c for c in [dim, *facts] if c in maxes]
        for fact in facts:
            if dim in maxes and fact in maxes and maxes[fact] > maxes[dim]:
                raise ValueError(f"{key}: {fact} max {maxes[fact]} exceeds "
                                 f"{dim} max {maxes[dim]}")
        span = _span(max((maxes[c] for c in cols), default=0))
        spans.update((c, span) for c in cols)
    return spans


def scale_table(name: str, tbl: pa.Table, k: int, spans: dict) -> pa.Table:
    if name in FIXED_DIMS or k == 1:
        return tbl
    keys = OFFSET_KEYS.get(name, [])
    reps = []
    for i in range(k):
        t = tbl
        for c in keys:
            off = pa.scalar(i * spans[c], type=t.schema.field(c).type)
            t = t.set_column(t.schema.get_field_index(c), c,
                             pc.add(t[c], off))
        if name == "documents" and i > 0:
            text = pc.binary_join_element_wise(
                pa.scalar(f"[r{i}] "), pc.cast(t["text"], pa.string()), "")
            t = t.set_column(t.schema.get_field_index("text"), "text",
                             pc.cast(text, t.schema.field("text").type))
            t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                             pc.cast(pc.utf8_length(t["text"]), pa.int64()))
        if name == "embeddings" and i > 0:
            emb = t["embedding"].combine_chunks()
            arrs = emb.to_numpy(zero_copy_only=False)
            rolled = [np.roll(np.asarray(a, dtype=np.float32),
                              1 + (i - 1) % max(len(a) - 1, 1))
                      for a in arrs]
            new = pa.array([list(map(float, a)) for a in rolled],
                           type=t.schema.field("embedding").type)
            t = t.set_column(t.schema.get_field_index("embedding"),
                             "embedding", new)
        reps.append(t)
    return pa.concat_tables(reps)


def main() -> None:
    src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src)
                   if f.endswith(".parquet"))
    spans = key_spans({
        name: pq.read_table(os.path.join(src, f"{name}.parquet"),
                            columns=OFFSET_KEYS[name])
        for name in names if name in OFFSET_KEYS})
    for name in names:
        f = f"{name}.parquet"
        tbl = pq.read_table(os.path.join(src, f))
        out = scale_table(name, tbl, k, spans)
        pq.write_table(out, os.path.join(dst, f))
        print(f"{name}: {tbl.num_rows} -> {out.num_rows}")


if __name__ == "__main__":
    main()
