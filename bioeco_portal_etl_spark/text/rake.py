"""RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010, "Automatic
keyword extraction from individual documents") — the stopword-delimited
phrase scorer that complements tf-idf term ranking (text/analysis.py):
candidate keywords are maximal runs of non-stopwords, scored by their
member words' degree/frequency ratio, which prefers words that appear
inside longer multi-word phrases.

Engine-exact formulation: per word, freq = occurrences across all
candidate phrases, deg = Σ over its phrases of the phrase length
(self-inclusive co-occurrence degree — the standard RAKE degree); the
word score is ``floor(1e4 · deg / freq)`` (single division inside a
floor), and a phrase's score is the integer SUM of its word scores —
associative, so the per-phrase reduction is exact.

Plan shape: one token explode; the phrase segmenter is a running count
of stopword boundaries (window on (doc, pos) — the per-doc exchange
every doc-ordered op shares); word stats reduce to the Heaps-bounded
vocabulary and broadcast back; top-k phrases per doc via the usual
rank window. No Python anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.text.tokenize import duck_tokens, tokens


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str],
    top_k: int = 3,
    min_phrase_len: int = 1,
) -> DataFrame:
    """Top-``k`` RAKE phrases per document: (id, phrase, n_words,
    score_e4, rank); ties break on the phrase string. Phrases are
    per-document UNIQUE (repeated phrase occurrences re-score once —
    candidate extraction semantics), while word freq/deg count every
    occurrence corpus-wide."""
    pos = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    wseq = Window.partitionBy(id_col).orderBy("pos")
    seg = pos.withColumn(
        "seg",
        F.sum(F.col("w").isin(stopwords).cast("long")).over(wseq),
    ).filter(~F.col("w").isin(stopwords))
    phrases = (
        seg.groupBy(id_col, "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    word_in_phrase = seg.select(
        F.col(id_col), "seg", "w"
    ).join(phrases.select(id_col, "seg", "n_words"), [id_col, "seg"])
    stats = word_in_phrase.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("n_words").alias("deg"),
    )
    wscore = stats.select(
        "w",
        F.expr("CAST(floor(1e4 * deg / freq) AS BIGINT)").alias("ws_e4"),
    )
    scored = (
        word_in_phrase.join(wscore, "w")
        .groupBy(id_col, "seg")
        .agg(F.sum("ws_e4").alias("score_e4"))
        .join(phrases, [id_col, "seg"])
        .filter(F.col("n_words") >= min_phrase_len)
        .select(id_col, "phrase", "n_words", "score_e4")
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_e4"), F.asc("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def duck_rake_ctes(
    from_table: str,
    id_col: str,
    text_col: str,
    stopwords: list[str],
    top_k: int = 3,
    min_phrase_len: int = 1,
) -> str:
    """DuckDB mirror; exposes ``raker(id, phrase, n_words, score_e4,
    rank)``."""
    sw = ", ".join(f"'{s}'" for s in stopwords)
    return f"""
pos AS (
  SELECT {id_col}, i - 1 AS pos, toks[i] AS w FROM (
    SELECT {id_col}, {duck_tokens(text_col)} AS toks FROM {from_table}),
    unnest(range(1, len(toks) + 1)) AS u(i)
),
seg AS (
  SELECT {id_col}, pos, w,
         sum(CASE WHEN w IN ({sw}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY {id_col} ORDER BY pos) AS seg
  FROM pos
),
nonstop AS (SELECT * FROM seg WHERE w NOT IN ({sw})),
phrases AS (
  SELECT {id_col}, seg,
         array_to_string(list_transform(
           list_sort(list(struct_pack(pos := pos, w := w))),
           x -> x.w), ' ') AS phrase,
         count(*)::BIGINT AS n_words
  FROM nonstop GROUP BY {id_col}, seg
),
wip AS (
  SELECT n.{id_col}, n.seg, n.w, p.n_words
  FROM nonstop n JOIN phrases p
    ON p.{id_col} = n.{id_col} AND p.seg = n.seg
),
stats AS (
  SELECT w, count(*)::BIGINT AS freq, sum(n_words)::BIGINT AS deg
  FROM wip GROUP BY w
),
wscore AS (
  SELECT w, CAST(floor(1e4 * deg / freq) AS BIGINT) AS ws_e4 FROM stats
),
pscore AS (
  SELECT DISTINCT sc.{id_col}, p.phrase, p.n_words, sc.score_e4 FROM (
    SELECT wip.{id_col}, wip.seg,
           sum(ws_e4)::BIGINT AS score_e4
    FROM wip JOIN wscore USING (w)
    GROUP BY wip.{id_col}, wip.seg) sc
  JOIN phrases p ON p.{id_col} = sc.{id_col} AND p.seg = sc.seg
  WHERE p.n_words >= {min_phrase_len}
),
raker AS (
  SELECT * FROM (
    SELECT {id_col}, phrase, n_words, score_e4,
           row_number() OVER (PARTITION BY {id_col}
                              ORDER BY score_e4 DESC, phrase) AS rank
    FROM pscore)
  WHERE rank <= {top_k}
)"""
