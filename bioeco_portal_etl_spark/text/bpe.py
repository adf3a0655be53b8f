"""Distributed BPE (byte-pair-encoding) tokenizer training — the pair-count
+ merge step that dominates tokenizer builds over a large corpus.

Training a BPE vocabulary over 100 TB of text is a *counting* problem:
each round scans the corpus's word-frequency table, counts adjacent symbol
pairs weighted by word frequency, picks the most frequent pair as the next
merge, and rewrites the table with the pair fused. The classic
implementation (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — public algorithm) compresses the corpus to a
``(word, count)`` table first, so each round's cost is proportional to the
*vocabulary*, not the corpus. That structure maps directly onto Spark:

- ``word_frequencies`` is one corpus scan + groupBy — the only stage that
  touches the full 100 TB; everything after runs on the reduced table.
- ``pair_counts`` is explode + groupBy(sum) — map-side partial aggregation
  applies, and the pair-key space is bounded by symbol-vocab², so the
  shuffle is tiny.
- ``top_merge`` is a 1-row reduction; it is broadcast (not collected) into
- ``apply_merge``, which rewrites each word's symbol sequence with a
  *greedy left-to-right non-overlapping* fold — the exact merge semantics
  of reference BPE — entirely inside a JVM ``aggregate`` expression (no
  Python UDF).

Words are held in a "spaced" representation (``'b a n a n a'``: symbols
joined by single spaces) so merged multi-char symbols stay first-class.
The greedy fold walks the symbol list with a string accumulator: a merge
fires only when the accumulator *ends with the left symbol at a symbol
boundary* and the incoming element equals the right symbol, which is
precisely greedy non-overlapping application (``a b a b`` -> ``ab ab``,
``a a a`` -> ``aa a``).

Scale posture: no collect() anywhere — the winning merge is a 1-row
broadcast join; pair counting is a partial-agg groupBy on a small key
space; the per-round rewrite is a narrow map over the word table. For a
full vocab build you iterate ``pair_counts -> top_merge -> apply_merge``
k times; each round's plan is truncated by the word table being a stable
cached/checkpointed frame (see operators/fixpoint.py for the localCheckpoint
pattern used for iterative plans).

Reference parity note: the reference ETL (iobis/bioeco-portal-etl) has no
tokenizer stage; this module is part of the LLM-training-data extension
surface the engine adds beyond the reference.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> (word, cnt) table: lowercase, split on non-letters.

    This is the single full-corpus scan of a BPE build; the groupBy's
    map-side combine collapses each partition's duplicates before the
    shuffle, so the shuffled volume is per-partition vocabulary, not raw
    token count."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def with_spaced(wf: DataFrame, word_col: str = "w") -> DataFrame:
    """Add the spaced symbol representation (round-0: one char per symbol)."""
    return wf.withColumn(
        "spaced",
        F.expr(f"trim(regexp_replace({word_col}, '(.)', '$1 '))"),
    )


def pair_counts(wf: DataFrame, spaced_col: str = "spaced") -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    Output: (pair, cnt) where ``pair`` is ``'left right'``. Single-symbol
    words contribute nothing (guarded: Spark's ``sequence(1, 0)`` counts
    DOWN, so an unguarded transform would fabricate pairs)."""
    syms = f"split({spaced_col}, ' ')"
    return (
        wf.withColumn(
            "pair",
            F.explode(
                F.expr(
                    f"CASE WHEN size({syms}) > 1 THEN "
                    f"transform(sequence(1, size({syms}) - 1), "
                    f"i -> concat(element_at({syms}, i), ' ', "
                    f"element_at({syms}, i + 1))) "
                    "ELSE array() END"
                )
            ),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("cnt"))
    )


def top_merge(pc: DataFrame) -> DataFrame:
    """The next merge rule: highest count, pair-string ascending tiebreak.

    1 row — meant to be broadcast-joined, never collected. The global
    window runs on the already-reduced pair table (symbol-vocab² keys at
    most), not on corpus-sized data."""
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        pc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("pair").alias("mp"),
            F.expr("split(pair, ' ')[0]").alias("ml"),
            F.expr("split(pair, ' ')[1]").alias("mr"),
        )
    )


def apply_merge(
    wf_spaced: DataFrame, merge: DataFrame, spaced_col: str = "spaced"
) -> DataFrame:
    """Rewrite every word with the merge applied greedily left-to-right.

    ``merge`` is the 1-row frame from :func:`top_merge`; it is broadcast
    cross-joined so the rewrite stays a narrow map stage. The fold's
    accumulator is the rewritten spaced string; a merge fires when the
    accumulator ends with the LEFT symbol at a symbol boundary (equals it
    outright, or ends with ``' ' || left``) and the next element is the
    RIGHT symbol — after firing, the fused symbol no longer equals the
    left symbol, which is exactly the non-overlap rule (``a a a`` with
    merge ``a a`` -> ``aa a``)."""
    syms = f"split({spaced_col}, ' ')"
    merged = (
        f"aggregate(slice({syms}, 2, size({syms}) - 1), "
        f"element_at({syms}, 1), "
        "(acc, x) -> CASE WHEN x = mr AND (acc = ml OR "
        "endswith(acc, concat(' ', ml))) "
        "THEN concat(substring(acc, 1, length(acc) - length(ml)), ml, mr) "
        "ELSE concat(acc, ' ', x) END)"
    )
    return wf_spaced.crossJoin(merge).withColumn(
        spaced_col, F.expr(merged)
    )


def bpe_rounds(
    corpus: DataFrame,
    text_col: str,
    n_rounds: int = 2,
    top_k: int = 8,
) -> DataFrame:
    """Run ``n_rounds`` of pair-count -> merge -> rewrite; emit the top-k
    pair table of each round plus the merge chosen from it.

    Output: (round, rank, pair, cnt, merged_pair) — ``merged_pair`` is the
    rule the round selected (constant within a round), so the frame is
    simultaneously the merge table and an audit of the counts that drove
    it. Deterministic: counts are exact integers; ties break on the pair
    string."""
    wf = with_spaced(word_frequencies(corpus, text_col))
    outs = []
    for rnd in range(1, n_rounds + 1):
        pc = pair_counts(wf)
        merge = top_merge(pc)
        w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
        outs.append(
            pc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .crossJoin(merge.select("mp"))
            .select(
                F.lit(rnd).cast("long").alias("round"),
                F.col("rank").cast("long").alias("rank"),
                "pair",
                F.col("cnt").cast("long").alias("cnt"),
                F.col("mp").alias("merged_pair"),
            )
        )
        if rnd < n_rounds:
            wf = apply_merge(wf, merge)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
