"""Mergeable Misra-Gries heavy hitters: hot keys in ONE bounded pass.

An exact census (``groupBy(key).count()`` filtered by share) is
correct, and cheap in shuffle ROWS (partial aggregation sends one row
per distinct key per map task), but at 10^12 documents with ~10^10 distinct keys (URLs, templates,
customers) that is still a multi-terabyte exchange to answer a question
whose useful output is a handful of rows.  The Misra-Gries summary
(Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
Summaries", PODS'12/TODS'13) caps the exchange at ``k + 1`` rows PER
PARTITION regardless of key cardinality, with a deterministic,
distribution-free error bound:

* per partition, keep at most ``k`` counters; when a batch would
  overflow, subtract the (k+1)-th largest counter value ``m`` from every
  counter and drop the non-positive ones, accumulating ``m`` into the
  partition's DEFICIT.  Every surviving estimate underestimates the
  partition-true count by at most the deficit, and the deficit can never
  exceed ``n_partition / (k + 1)`` (each compression destroys at least
  ``m * (k + 1)`` mass and mass is conserved);
* merging = summing estimates per key and summing deficits: the merged
  estimate brackets the true global count as
  ``est <= true <= est + sum(deficits) <= est + n / (k + 1)``.

The per-partition pass is Arrow-batched pandas (``value_counts`` at C
speed per batch, then one dict merge + compression per batch) — the
sequential dependence of textbook MG is batched away because a batch's
exact ``value_counts`` is itself a zero-deficit summary being merged.

Exactness domain: when a partition never exceeds ``k`` distinct keys the
deficit is 0, and the output equals the exact census value-for-value —
that is the cross-engine DuckDB twin (``duckdb_exact_census_sql``); the
approximate domain is bracket-tested against the exact census instead
(same pattern as q33's HLL sketches — a lossy sketch can never
hash-match another engine, so the GUARANTEE is what gets tested).

NULL keys never enter the sketch (the NULL census is one exact
``count_if`` if needed); the NULL slot in the summary schema is the
partition TALLY row instead, carrying the partition's exact non-NULL row
count and its deficit — so total N, global deficit D, and every estimate
come out of ONE corpus pass.

Reference context: the reference app has no skew surface at all (every
document is one upload, ``backend/main_v1.py:43-120``); this is part of
the 100 TB operational surface the brief asks for beyond the reference.
"""
from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_K = 256


def _summary_schema(df: DataFrame, key_col: str) -> T.StructType:
    key_field = df.schema[key_col]
    return T.StructType([
        T.StructField(key_col, key_field.dataType, True),
        T.StructField("est", T.LongType(), False),
        T.StructField("deficit", T.LongType(), False),
    ])


def mg_partition_summaries(df: DataFrame, key_col: str,
                           k: int = DEFAULT_K) -> DataFrame:
    """Per-partition MG summaries: ≤ k counter rows (key, est, 0) plus
    exactly one tally row (NULL, n_partition_nonnull, deficit) per
    non-empty partition — the tally row's ``est`` carries the
    partition's exact non-NULL row count, so consumers get the global
    total from the sketch itself instead of a second corpus scan.

    This is the ONLY corpus-scale stage; everything downstream operates
    on ≤ (k + 1) × n_partitions rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    schema = _summary_schema(df, key_col)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        deficit = 0
        total = 0
        seen = False
        for batch in batches:
            seen = True
            vc = batch[key_col].value_counts()  # exact, C-speed, drops NULLs
            if vc.empty:
                continue
            total += int(vc.sum())
            counters = (vc if counters.empty
                        else counters.add(vc, fill_value=0).astype("int64"))
            if len(counters) > k:
                # subtract the (k+1)-th largest from everyone: at least
                # m * (k + 1) mass dies, so sum(m) <= n_partition / (k+1)
                m = int(counters.nlargest(k + 1).iloc[k])
                counters = counters - m
                counters = counters[counters > 0]
                deficit += m
        if not seen:
            return
        out = pd.DataFrame({key_col: counters.index,
                            "est": counters.to_numpy(dtype="int64"),
                            "deficit": 0})
        out = pd.concat(
            [out, pd.DataFrame({key_col: [None], "est": [total],
                                "deficit": [deficit]})],
            ignore_index=True)
        yield out

    from ..functions.fanout import fan_out
    # fan out a one-split scan so the per-partition sketches build in
    # parallel; hashing on the key keeps each key's mass in ONE
    # partition, which only tightens the MG estimate (per-partition
    # counts are then exact for their keys before the merge)
    return fan_out(df.select(key_col), key_col).mapInPandas(
        summarize, schema)


def _merged_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Merge partition summaries into (key, est_count, ub_count,
    __total_n) in ONE lineage (a single corpus scan).

    The global deficit D and total N come from an orderBy-less window
    over the ALREADY-MERGED table — bounded by ≤ (k+1) × n_partitions
    rows by construction, so moving it through one partition is
    control-plane work, not a corpus-scale sort (the rank.py rule
    targets unbounded data; this table carries its bound in its type).
    """
    from pyspark.sql import Window
    summaries = mg_partition_summaries(df, key_col, k)
    merged = (summaries.groupBy(key_col)
              .agg(F.sum("est").alias("est_count"),
                   F.sum("deficit").alias("__part_d")))
    w = Window.partitionBy()
    null_key = F.col(key_col).isNull()
    return (merged
            .withColumn("__total_d", F.sum("__part_d").over(w))
            .withColumn("__total_n", F.sum(
                F.when(null_key, F.col("est_count"))).over(w))
            .filter(~null_key)
            .withColumn("ub_count", F.col("est_count") + F.col("__total_d"))
            .drop("__part_d", "__total_d"))


def heavy_hitters(df: DataFrame, key_col: str,
                  k: int = DEFAULT_K) -> DataFrame:
    """-> (key_col, est_count, ub_count): every surviving key with its
    certain bracket ``est_count <= true <= ub_count``.

    ``ub_count - est_count`` is the same merged deficit D for every row
    (D <= n / (k+1)); any key whose true count exceeds D is GUARANTEED
    present.  Output is ≤ k × n_partitions rows — collectable for any
    sane k, like an exact census filtered at share ``threshold`` (at
    most 1/threshold rows).
    """
    return _merged_summaries(df, key_col, k).drop("__total_n")


def approx_hot_keys(df: DataFrame, key_col: str,
                    threshold_frac: float = 0.01,
                    safety: int = 4) -> DataFrame:
    """Sketch-backed twin of an exact share census: keys whose share MIGHT
    exceed ``threshold_frac``, guaranteed to include every key whose
    share truly does.

    k is sized ``safety / threshold_frac`` so the global deficit D is at
    most ``n * threshold_frac / safety`` — a true-hot key's estimate
    cannot fall below ``(1 - 1/safety)`` of the threshold, and every
    reported key's true share is at least ``threshold - threshold/safety``
    (no wild false positives).  Returns (key, est_count, ub_count,
    frac_lo, frac_hi) with the certain share bracket.  The total comes
    from the sketch's own tally rows — the whole readout is ONE pass
    over the corpus.
    """
    if not 0 < threshold_frac < 1:
        raise ValueError(f"threshold_frac in (0,1), got {threshold_frac}")
    k = int(math.ceil(safety / threshold_frac))
    hh = _merged_summaries(df, key_col, k)
    return (hh.filter(F.col("ub_count") / F.col("__total_n")
                      > threshold_frac)
            .withColumn("frac_lo",
                        F.round(F.col("est_count") / F.col("__total_n"), 6))
            .withColumn("frac_hi",
                        F.round(F.col("ub_count") / F.col("__total_n"), 6))
            .drop("__total_n"))


def duckdb_exact_census_sql(table: str, key_col: str) -> str:
    """Exact census twin — equals ``heavy_hitters`` value-for-value on
    the zero-deficit domain (every partition ≤ k distinct keys)."""
    return f"""
        SELECT {key_col}, count(*) AS est_count, count(*) AS ub_count
        FROM {table} WHERE {key_col} IS NOT NULL GROUP BY {key_col}
    """
