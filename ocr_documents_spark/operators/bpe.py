"""BPE tokenizer induction over the corpus (Sennrich et al., ACL'16).

A training-data pipeline does not just COUNT tokens (q45) — it must
LEARN the tokenizer from the corpus and then encode the corpus with it.
The scale structure is the point:

* ``word_census`` is the only corpus-scale stage: pretokenize every
  document with the GPT-2-shape regex (codegen ``regexp_extract_all``,
  identical semantics in Java regex / RE2 / Python ``re`` — no
  lookaround) and aggregate word frequencies.  BPE training provably
  needs nothing but this table: merge decisions depend on word counts
  only, so 100 TB of text collapses to ~10^7-10^8 (word, n) rows, and
  the standard ``top_words``/``min_count`` cap (subword-nmt, HF
  tokenizers do the same) makes the learning state BOUNDED and
  collectable — the same explicit-bound argument as a share-thresholded
  hot-key census (at most 1/threshold rows).
* ``learn_bpe_merges`` runs the inherently-sequential merge loop on the
  capped census driver-side (each merge depends on the previous one;
  distributing a 50k-iteration loop of tiny aggregations would add 100k
  shuffles to save work that fits in one process — wrong altitude).
  Deterministic tie-break: highest pair count, then lexicographic pair.
* ``distributed_pair_counts`` is the same pair census as a DataFrame
  aggregation (posexplode the symbol array, self-zip adjacent, weighted
  sum) — the scale path for the FIRST iterations if the uncapped census
  were ever kept distributed, and the cross-engine hook: its DuckDB twin
  (``duckdb_pair_counts_sql``) must agree value-for-value.
* ``encode_docs`` is corpus-scale again: the learned merge list
  broadcasts (closure, ~100 KB for 50k merges) and an Arrow-batched
  pass encodes each document, caching segmentations per distinct word
  within the batch.  Applying merges in learned order equals
  rank-priority encoding (a later merge can never create an occurrence
  of an earlier pair — earlier pairs are over symbols that already
  existed), so encode is a single ordered scan per word.

Round-trip invariant (tested, incl. hypothesis corpora): the
pretokenizer's alternation covers every character, and BPE merges only
ever concatenate adjacent symbols — so ``concat(tokens) == text``
exactly, for any corpus and any number of merges.

Reference context: the reference app has no tokenizer surface
(``backend/ocr_service.py`` splits on whitespace for field heuristics
only); this is part of the LLM-training-pipeline surface the brief asks
for beyond the reference.
"""
from __future__ import annotations

import re
from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GPT-2-style pretokenizer, minus the contraction alternates (corpus has
# none): space-prefixed lowercase runs / digit runs / other-symbol runs,
# plus whitespace runs — total coverage, so round-trip is exact.
# Shared with q45's census and its DuckDB oracle (queries.py imports it).
PRETOKEN_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


def word_census(docs: DataFrame, text_col: str = "text",
                min_count: int = 1,
                top_words: int | None = None) -> DataFrame:
    """-> (word, n): pretoken frequencies — ALL BPE training ever needs.

    ``top_words`` caps via top-k (TakeOrdered, not a full sort
    materialization); ties broken lexicographically so the cap is
    deterministic on any engine/partitioning.
    """
    from ..functions.fanout import fan_out
    # the per-row regex pretokenizer runs map-side — fan out a
    # one-split scan (no-op on a well-split lake)
    census = (fan_out(docs)
              .select(F.explode(F.regexp_extract_all(
                  text_col, F.lit(PRETOKEN_RE), 0)).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("n")))
    if min_count > 1:
        census = census.filter(F.col("n") >= min_count)
    if top_words is not None:
        census = census.orderBy(F.desc("n"), F.asc("word")).limit(top_words)
    return census


def _merge_word(symbols: list[str], a: str, b: str) -> list[str]:
    out, i, n = [], 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def learn_bpe_merges(census: DataFrame | Sequence[tuple[str, int]],
                     n_merges: int) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a (word, n) census.

    Accepts the ``word_census`` DataFrame (collected here — cap it with
    ``top_words`` first; the bound is the caller's explicit contract,
    exactly like a hot-key census's 1/threshold) or an already-local list.
    Ties break deterministically: max count, then lexicographically
    smallest (a, b).

    Incremental pair maintenance (the r4-verdict fix for the per-merge
    full recount): pair counts and a pair -> {word index} occurrence map
    are built once; each merge touches ONLY the words that contain the
    merged pair, accumulating per-pair NET deltas across them and
    applying each changed pair's count exactly once.  Selection rides a
    lazy max-heap — every net count change pushes one fresh
    (-count, pair) entry, stale entries are discarded on pop by checking
    the live count — so per-merge cost is
    O(affected words * their length + changed pairs * log-heap), not
    O(census).  A real 50k-merge vocab over a 10^6-word census is
    minutes, not hours; the greedy sequence (incl. tie-breaks) is
    identical to the full-recount reference for any census of POSITIVE
    counts (tests compare the two directly).  Zero/negative-count census
    rows are treated as absent — the one divergence from the reference,
    which would still "merge" pairs occurring zero times.
    """
    import heapq

    if isinstance(census, DataFrame):
        census = [(r["word"], r["n"]) for r in census.collect()]
    words: list[tuple[list[str], int]] = [
        (list(w), n) for w, n in census if len(w) > 0 and n > 0]

    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, n) in enumerate(words):
        for i in range(len(syms) - 1):
            pair = (syms[i], syms[i + 1])
            counts[pair] = counts.get(pair, 0) + n
            where.setdefault(pair, set()).add(wi)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            neg_c, p = heapq.heappop(heap)
            if counts.get(p, 0) == -neg_c and neg_c < 0:
                best = p
                break
        if best is None:
            break
        merges.append(best)
        delta: dict[tuple[str, str], int] = {}
        for wi in sorted(where.get(best, ())):
            syms, n = words[wi]
            old_pairs = list(zip(syms, syms[1:]))
            new_syms = _merge_word(syms, *best)
            new_pairs = list(zip(new_syms, new_syms[1:]))
            words[wi] = (new_syms, n)
            for p in old_pairs:
                delta[p] = delta.get(p, 0) - n
            for p in new_pairs:
                delta[p] = delta.get(p, 0) + n
            new_set = set(new_pairs)
            for p in set(old_pairs) - new_set:
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            for p in new_set:
                where.setdefault(p, set()).add(wi)
        for p, d in delta.items():
            if d == 0:
                continue
            c = counts.get(p, 0) + d
            counts[p] = c
            if c > 0:
                heapq.heappush(heap, (-c, p))
        where.pop(best, None)
        counts.pop(best, None)
    return merges


def encode_word(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Segment one word: apply merges in learned order (== rank-priority
    encoding, see module docstring)."""
    symbols = list(word)
    for a, b in merges:
        if len(symbols) < 2:
            break
        if a in symbols:
            symbols = _merge_word(symbols, a, b)
    return symbols


def encode_docs(docs: DataFrame, merges: Sequence[tuple[str, str]],
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """-> (id_col, tokens array<string>): the corpus encoded with the
    learned tokenizer.  Merge list rides the closure (broadcast-sized by
    construction); per-batch cache encodes each distinct word once."""
    merges = list(merges)
    pretoken = re.compile(PRETOKEN_RE)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc_text(text: str) -> list[str]:
            out: list[str] = []
            for w in pretoken.findall(text or ""):
                seg = cache.get(w)
                if seg is None:
                    seg = encode_word(w, merges)
                    cache[w] = seg
                out.extend(seg)
            return out

        for batch in batches:
            yield pd.DataFrame({
                id_col: batch[id_col],
                "tokens": [enc_text(t) for t in batch[text_col]]})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} {id_type}, tokens array<string>")


def token_census(encoded: DataFrame) -> DataFrame:
    """-> (token, n) over the encoded corpus (vocabulary usage audit)."""
    return (encoded.select(F.explode("tokens").alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("n")))


def distributed_pair_counts(census: DataFrame) -> DataFrame:
    """First-iteration pair census as a DataFrame aggregation: the scale
    path when even the capped word census stays distributed.  -> (a, b,
    n_pairs) for adjacent character pairs weighted by word count."""
    # substring-positional pairs (char-exact in both engines; avoids the
    # engine-specific empty-regex split); length-1 words have no pairs,
    # and sequence(1, 0) would count DOWN in Spark — filter them first
    pairs = (census.filter(F.length("word") >= 2)
             .select(F.col("n"), F.expr(
                 "transform(sequence(1, length(word) - 1), i -> "
                 "struct(substring(word, i, 1) AS a, "
                 "substring(word, i + 1, 1) AS b))").alias("ps")))
    return (pairs.select(F.explode("ps").alias("p"), "n")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("n_pairs")))


def duckdb_pair_counts_sql(census_table: str) -> str:
    """Exact DuckDB twin of ``distributed_pair_counts`` over a (word, n)
    census table: adjacent character pairs via substr positions."""
    return f"""
        SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
               sum(n) AS n_pairs
        FROM {census_table},
             LATERAL (SELECT unnest(range(1, length(word))) AS i)
        GROUP BY 1, 2
    """
