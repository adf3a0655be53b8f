"""Corpus-trained unigram LM quality scoring — the CCNet-style
"perplexity bucket" gate (Wenzek et al. 2020) with the LM reduced to a
unigram model so it stays pure Column algebra (no KenLM dependency, no
UDFs).

Score: for each document, the sum and average of per-token
``floor(ln(tf_corpus / total_tokens) * 1e4)`` — i.e. fixed-point token
log-probabilities under the corpus's own unigram distribution. Low
average ≈ rare-token soup (OCR noise, gibberish, wrong-language);
high ≈ fluent common text. Buckets of this score are what a curation
pipeline samples from (head/middle/tail in CCNet).

Engine-exactness: the per-token logprob is ONE ln per vocabulary entry
(deterministic double), quantized to e4 integers BEFORE any summation —
per-document sums are then exact integer arithmetic, immune to float
reassociation across partial aggregates. The average uses floor() on true
division (NOT integer div: Spark's ``div`` truncates toward zero while
DuckDB's ``//`` floors, and these scores are negative).

Scale shape: the vocabulary table is Heaps-law bounded (≪ corpus), so it
broadcasts; token scoring is a map-side hash join over the exploded
tokens inside the same stage as tokenization; one groupBy(doc) shuffle
ends the plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.text.tokenize import tokens


def unigram_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(token, lp_e4) unigram log-probability table trained on the corpus
    itself: lp_e4 = floor(ln(tf / total) * 1e4).

    The corpus-wide total is an UNPARTITIONED window sum over the token
    counts, not a crossJoin against a separate ``counts.agg(...)`` subtree:
    Spark shares no work between a plan and its broadcast side, so the
    crossJoin form tokenized and aggregated the ENTIRE corpus twice (the
    10x scale probe's worst ratio traced to exactly this). The window's
    single-partition exchange carries only the Heaps-bounded vocab rows —
    thousands, regardless of corpus size — so it is scale-safe where
    doubling the corpus pass is not."""
    tok = df.select(F.explode(tokens(text_col)).alias("__t"))
    counts = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__tf"))
    total = F.sum("__tf").over(Window.partitionBy())
    return counts.select(
        "__t",
        F.floor(
            F.log(F.col("__tf").cast("double") / total.cast("double")) * 10000
        )
        .cast("long")
        .alias("__lp_e4"),
    )


def unigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document (n_tokens, sum_lp_e4, avg_lp_e4) under the unigram LM
    trained on ``df`` itself, so every token is in the vocabulary. Zero-token
    documents carry no signal and are dropped (same contract as
    simhash/repetition). The vocab join is a broadcast hash join at the
    default threshold: its build side is Heaps-law bounded (pinned in
    tests/test_plans.py)."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    return (
        tok.join(unigram_vocab(df, text_col), "__t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lp_e4").alias("sum_lp_e4"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "sum_lp_e4",
            F.floor(
                F.col("sum_lp_e4").cast("double") / F.col("n_tokens").cast("double")
            )
            .cast("long")
            .alias("avg_lp_e4"),
        )
    )


def bigram_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, lp_e4) bigram JOINT log-probability table trained on the
    corpus: lp_e4 = floor(ln(c(w1,w2) / N) * 1e4) with N = total bigram
    occurrences — i.e. the unigram model lifted to transition tokens.

    Joint, not conditional, deliberately: a SELF-trained conditional LM
    p(w2|w1) assigns probability 1 to every transition out of a
    corpus-unique word, so exactly the rare-token soup the gate must catch
    scores perfectly (ln 1 = 0). The joint form keeps rare transitions
    rare regardless of their context's frequency; with an EXTERNAL vocab
    the conditional form is the better model, and composes from this table
    plus the unigram one (lp_cond = lp_joint - lp_unigram(w1)).

    The corpus-wide N is an unpartitioned window sum over the bigram TYPE
    table (Heaps-bounded), same one-pass shape as unigram_vocab above."""
    tok = df.select(tokens(text_col).alias("__tk")).filter(F.size("__tk") >= 2)
    big = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__tk") - 1),
                lambda i: F.struct(
                    F.element_at("__tk", i).alias("w1"),
                    F.element_at("__tk", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    total = F.sum("__c12").over(Window.partitionBy())
    return counts.select(
        "w1",
        "w2",
        F.floor(
            F.log(F.col("__c12").cast("double") / total.cast("double")) * 10000
        )
        .cast("long")
        .alias("__lp_e4"),
    )


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document (n_bigrams, sum_lp_e4, avg_lp_e4) under the
    corpus-trained bigram LM — the next-order CCNet-style fluency gate
    above :func:`unigram_lm_scores`: repeated-boilerplate docs score HIGH
    (their transitions dominate the corpus), rare-transition soup scores
    LOW. Docs with < 2 tokens carry no transition signal and are dropped.

    Plan: doc bigrams exploded in the scan stage -> broadcast join against
    the (Heaps-bounded) bigram vocab -> one groupBy(doc). The e4-quantized
    integers sum exactly; the average is floor() on true division (div
    truncates toward zero and these sums are negative)."""
    tok = df.select(F.col(id_col), tokens(text_col).alias("__tk")).filter(
        F.size("__tk") >= 2
    )
    big = tok.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__tk") - 1),
                lambda i: F.struct(
                    F.element_at("__tk", i).alias("w1"),
                    F.element_at("__tk", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select(F.col(id_col), "b.w1", "b.w2")
    joined = big.join(bigram_vocab(df, text_col), ["w1", "w2"])
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__lp_e4").alias("sum_lp_e4"),
        )
        .withColumn(
            "avg_lp_e4",
            F.floor(F.col("sum_lp_e4") / F.col("n_bigrams")).cast("long"),
        )
    )
