"""Text catalog entries (tx*): token counts, language ID, quality and
fingerprint tables, BPE, BM25, TextRank/RAKE keywords, n-gram coverage and
novelty, burstiness, Zipf fits, Gopher and blocklist filters (text/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T
from bioeco_portal_etl_spark.text.analysis import (
    BPE_ISH,
    LANG_PROFILES,
    STOPWORDS,
    _profile_regex,
    fingerprint_table,
    lang_scores,
    language_id,
    quality_table,
    token_counts,
)
from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens, tokens


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def tx1_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    counts = token_counts("text")
    return d.select(
        "doc_id", *[c.alias(name) for name, c in counts.items()]
    ).orderBy("doc_id")


TX1_SQL = rf"""
SELECT doc_id,
       len(list_filter(string_split_regex(coalesce(text, ''), '\s+'), t -> t <> '')) AS n_ws_tokens,
       len({duck_tokens("coalesce(text, '')")}) AS n_word_tokens,
       len(regexp_extract_all(coalesce(text, ''), '{BPE_ISH}')) AS n_bpe_units
FROM documents ORDER BY doc_id
"""


def tx2_language_id(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    scores = lang_scores("text")
    return d.select(
        "doc_id",
        *[c.alias(f"s_{lang}") for lang, c in scores.items()],
        language_id("text").alias("lang_pred"),
    ).orderBy("doc_id")


_LANG_SCORE_COLS = ", ".join(
    f"len(regexp_extract_all(lower(text), '{_profile_regex(w)}')) AS s_{lang}"
    for lang, w in LANG_PROFILES
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang, _ in LANG_PROFILES) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {_LANG_BEST} THEN '{lang}'"
        for lang, _ in LANG_PROFILES
    )
    + " ELSE 'und' END"
)
TX2_SQL = f"""
WITH s AS (SELECT doc_id, {_LANG_SCORE_COLS} FROM documents)
SELECT doc_id, s_en, s_es, s_de, s_fr, {_LANG_CASE} AS lang_pred
FROM s ORDER BY doc_id
"""


def tx3_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return quality_table(d, "doc_id", "text").orderBy("doc_id")


TX3_SQL = rf"""
WITH tk AS (SELECT doc_id, coalesce(text, '') AS text,
                   {duck_tokens("coalesce(text, '')")} AS tk FROM documents),
f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(tk) AS n_tokens,
         coalesce(list_sum(list_transform(tk, t -> length(t))), 0) AS word_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '{_profile_regex(STOPWORDS)}')) AS n_stop
  FROM tk)
SELECT doc_id, n_chars, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN word_chars / n_tokens ELSE 0.0 END, 4) AS mean_word_len,
       round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 4) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 4) AS stopword_ratio,
       round(least(n_tokens / 50.0, 1.0)
             * (0.5 + 0.5 * least(n_stop / 5.0, 1.0))
             * (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.2 THEN 1.0 ELSE 0.5 END),
             4) AS quality
FROM f ORDER BY doc_id
"""


def tx4_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return fingerprint_table(d, "doc_id", "text").orderBy("doc_id")


TX4_SQL = f"""
WITH tk AS (SELECT doc_id, text, {duck_tokens('text')} AS tk FROM documents),
sh AS (SELECT doc_id, text, {duck_shingles('tk', 4)} AS sg FROM tk)
SELECT doc_id,
       substr(CASE WHEN len(sg) > 0
                   THEN list_min(list_transform(sg, s -> md5(s)))
                   ELSE md5(coalesce(text, '')) END, 1, 16) AS fingerprint
FROM sh ORDER BY doc_id
"""

def tx5_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Text normalization for curation: strip HTML-ish tags, collapse
    whitespace, trim — the canonical pre-tokenization cleanup chain (pure
    regexp_replace, scan-stage codegen)."""
    d = T(spark, sf, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"<[^>]{1,100}>", " "),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", cleaned.alias("text_clean")).orderBy("doc_id")


TX5_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(text, '<[^>]{1,100}>', ' ', 'g'),
                           '\s+', ' ', 'g')) AS text_clean
FROM documents ORDER BY doc_id
"""

# PII patterns (public-knowledge regex shapes; conservative by design —
# a real pipeline layers a validator behind the regex hit).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{1,3}[-. ]?\(?\d{2,3}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def tx6_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: redact email/phone/IP patterns, count hits — the
    standard pre-release curation pass. Patterns are injected into synthetic
    positions so the operator path is exercised even on clean fixtures."""
    d = T(spark, sf, "documents")
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" from 10.0.0.1")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-123-4567 soon")).otherwise(F.lit("")),
    )
    n_email = F.regexp_count(dirty, F.lit(PII_EMAIL))
    n_phone = F.regexp_count(dirty, F.lit(PII_PHONE))
    n_ip = F.regexp_count(dirty, F.lit(PII_IP))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ip.alias("n_ip"),
        F.substring(redacted, -40, 40).alias("tail_redacted"),
    ).orderBy("doc_id")


TX6_SQL = rf"""
WITH dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.1' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 soon' ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_email,
       len(regexp_extract_all(t, '{PII_PHONE}')) AS n_phone,
       len(regexp_extract_all(t, '{PII_IP}')) AS n_ip,
       CASE WHEN length(r) > 40 THEN substr(r, length(r) - 39, 40) ELSE r END AS tail_redacted
FROM (SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                            '{PII_PHONE}', '<PHONE>', 'g'),
                            '{PII_IP}', '<IP>', 'g') AS r
      FROM dirty)
ORDER BY doc_id
"""


def tx7_top_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus statistics: top-25 word bigrams — explode + hash agg + top-k,
    the vocabulary/contamination-audit shape (partial aggregation carries
    (bigram, count) not rows)."""
    d = T(spark, sf, "documents")
    tok = d.select(tokens("text").alias("tk")).filter(F.size("tk") >= 2)
    big = tok.select(
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat_ws(" ", F.element_at("tk", i), F.element_at("tk", i + 1)),
            )
        ).alias("bigram")
    )
    return (
        big.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(25)
    )


TX7_SQL = f"""
WITH tk AS (
  SELECT {duck_tokens('text')} AS t FROM documents
),
b AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM tk WHERE len(t) >= 2
)
SELECT bigram, count(*) AS n FROM b GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 25
"""


def tx8_length_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact length quantiles per source — the length-filter calibration
    query (exact percentile: single pass, mergeable sketch-free at this
    cardinality; at 100 TB swap for approx_percentile and drop the oracle
    to rows-only)."""
    d = T(spark, sf, "documents")
    q = F.percentile(F.col("n_chars").cast("double"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        d.groupBy("source")
        .agg(
            F.floor(F.element_at(q, 1) * 100).cast("long").alias("p25_e2"),
            F.floor(F.element_at(q, 2) * 100).cast("long").alias("p50_e2"),
            F.floor(F.element_at(q, 3) * 100).cast("long").alias("p75_e2"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


TX8_SQL = """
SELECT source,
       floor(quantile_cont(n_chars::DOUBLE, 0.25) * 100)::BIGINT AS p25_e2,
       floor(quantile_cont(n_chars::DOUBLE, 0.50) * 100)::BIGINT AS p50_e2,
       floor(quantile_cont(n_chars::DOUBLE, 0.75) * 100)::BIGINT AS p75_e2,
       count(*) AS n_docs
FROM documents GROUP BY source ORDER BY source
"""


def tx9_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-token fraction and
    duplicate-bigram fraction as floor-e4 ints (text/analysis.py
    repetition_table; Rae et al. 2021 A1.1)."""
    from bioeco_portal_etl_spark.text.analysis import repetition_table

    d = T(spark, sf, "documents")
    return repetition_table(d, "doc_id", "text").orderBy("doc_id")


TX9_SQL = f"""
WITH tok AS (SELECT doc_id, {duck_tokens('text')} AS tk FROM documents),
nz AS (SELECT * FROM tok WHERE len(tk) > 0),
ex AS (SELECT doc_id, unnest(tk) AS t FROM nz),
pt AS (SELECT doc_id, t, count(*) AS c FROM ex GROUP BY doc_id, t),
top AS (SELECT doc_id, max(c) AS maxc, sum(c) AS sumc FROM pt GROUP BY doc_id),
bgx AS (SELECT doc_id, unnest({duck_shingles('tk', 2, distinct=False)}) AS bg FROM nz),
bs AS (
  SELECT doc_id, count(*) AS btotal, count(DISTINCT bg) AS bdistinct
  FROM bgx GROUP BY doc_id
)
SELECT t.doc_id,
       ((10000 * maxc) // sumc)::BIGINT AS top_token_ratio_e4,
       coalesce((10000 * (btotal - bdistinct)) // btotal, 0)::BIGINT
         AS dup_bigram_ratio_e4
FROM top t LEFT JOIN bs USING (doc_id) ORDER BY doc_id
"""


def tx10_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 terms per doc by tf-idf (text/analysis.tfidf_top_terms)."""
    from bioeco_portal_etl_spark.text.analysis import tfidf_top_terms

    d = T(spark, sf, "documents")
    return tfidf_top_terms(d, "doc_id", "text", top_k=3).orderBy("doc_id", "rank")


TX10_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({duck_tokens('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
s AS (
  SELECT tf.doc_id, tf.term,
         floor(tf.tf * ln(n.n_docs::DOUBLE / dft.dfc) * 10000)::BIGINT AS score_e4
  FROM tf JOIN dft USING (term), n
)
SELECT doc_id, term, score_e4, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_e4 DESC, term) AS rank
  FROM s)
WHERE rank <= 3 ORDER BY doc_id, rank
"""



def tx11_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (text/lm.py) — the CCNet
    perplexity-bucket gate with the LM reduced to unigrams so scoring is
    pure Column algebra: per-token floor-e4 log-probs (quantized BEFORE
    summation → exact integer math through the shuffle), broadcast
    Heaps-bounded vocab, one groupBy(doc)."""
    from bioeco_portal_etl_spark.text.lm import unigram_lm_scores

    d = T(spark, sf, "documents")
    return unigram_lm_scores(d, "doc_id", "text").orderBy("doc_id")


TX11_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({duck_tokens('text')}) AS t FROM documents),
v AS (SELECT t, count(*)::BIGINT AS tf FROM tok GROUP BY t),
tot AS (SELECT sum(tf)::BIGINT AS total FROM v),
lp AS (
  SELECT t, floor(ln(tf::DOUBLE / total::DOUBLE) * 10000)::BIGINT AS lp_e4
  FROM v, tot
),
d AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(lp_e4)::BIGINT AS sum_lp_e4
  FROM tok JOIN lp USING (t) GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_lp_e4,
       floor(sum_lp_e4::DOUBLE / n_tokens::DOUBLE)::BIGINT AS avg_lp_e4
FROM d ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tx12 — per-source vocabulary growth / Zipf diagnostics
# ---------------------------------------------------------------------------


def tx12_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Zipf/Heaps fingerprint (text/analysis.py vocab_growth):
    token mass, type counts, hapax fraction, top-10 head share."""
    from bioeco_portal_etl_spark.text.analysis import vocab_growth

    d = T(spark, sf, "documents")
    return vocab_growth(d, "source", "text", top_k=10).orderBy("source")


def _tx12_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tok AS (
  SELECT source, unnest({duck_tokens("text")}) AS t FROM documents
),
tf AS (
  SELECT source, t, count(*) AS tfc FROM tok GROUP BY source, t
),
ranked AS (
  SELECT source, tfc,
         row_number() OVER (PARTITION BY source ORDER BY tfc DESC, t) AS rk
  FROM tf
)
SELECT source,
       CAST(sum(tfc) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN tfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
       CAST((1000000 * count(*)) // sum(tfc) AS BIGINT) AS ttr_e6,
       CAST((1000000 * sum(CASE WHEN rk <= 10 THEN tfc ELSE 0 END)) // sum(tfc)
         AS BIGINT) AS top_share_e6
FROM ranked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# tx13 — bigram LM fluency scoring
# ---------------------------------------------------------------------------


def tx13_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained bigram-LM scores per document (text/lm.py
    bigram_lm_scores) — the transition-level fluency gate above tx11's
    unigram model."""
    from bioeco_portal_etl_spark.text.lm import bigram_lm_scores

    d = T(spark, sf, "documents")
    return bigram_lm_scores(d, "doc_id", "text").orderBy("doc_id")


def _tx13_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tk AS (
  SELECT doc_id, {duck_tokens("text")} AS t FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM tk WHERE len(t) >= 2
),
v AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM big GROUP BY w1, w2),
lp AS (
  SELECT w1, w2,
         floor(ln(c12::DOUBLE / (sum(c12) OVER ())::DOUBLE)
               * 10000)::BIGINT AS lp_e4
  FROM v
),
d AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(lp_e4)::BIGINT AS sum_lp_e4
  FROM big JOIN lp USING (w1, w2) GROUP BY doc_id
)
SELECT doc_id, n_bigrams, sum_lp_e4,
       floor(sum_lp_e4::DOUBLE / n_bigrams::DOUBLE)::BIGINT AS avg_lp_e4
FROM d ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tx14 — readability scoring
# ---------------------------------------------------------------------------


def tx14_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-style readability per document from regex counts alone:
    words (alnum token runs), sentences ([.!?] runs, min 1), syllables
    (vowel-group runs, the standard approximation). The score is the
    literal expression 206.835 - 1.015*(W/S) - 84.6*(Y/W) evaluated in
    the SAME operation order on both engines (IEEE +-*/ only), then
    FLOOR-quantized e2 — floor, not round(2): the engines' round()
    implementations disagree on half-boundary doubles (85.165). Pure
    scan-stage column algebra — the cheapest quality signal in the text
    gate family."""
    d = T(spark, sf, "documents")
    wc = F.size(F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""))
    sc = F.greatest(F.lit(1), F.regexp_count(F.col("text"), F.lit("[.!?]+")))
    yc = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    flesch_e2 = F.floor(
        (
            F.lit(206.835)
            - F.lit(1.015) * (wc / sc)
            - F.lit(84.6) * (yc / wc)
        )
        * 100
    ).cast("long")
    return (
        d.select(
            "doc_id",
            wc.alias("n_words"),
            sc.alias("n_sentences"),
            yc.alias("n_syllables"),
            F.when(wc > 0, flesch_e2).alias("flesch_e2"),
        )
        .orderBy("doc_id")
    )


def _tx14_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH base AS (
  SELECT doc_id,
         len({duck_tokens("text")}) AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         CAST(floor((206.835 - 1.015 * (n_words / n_sentences)
               - 84.6 * (n_syllables / n_words)) * 100) AS BIGINT)
       END AS flesch_e2
FROM base
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tx15 — token-distribution entropy
# ---------------------------------------------------------------------------


def tx15_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc Shannon entropy quality axis (text/analysis.py
    token_entropy_table): per-term e4 quantization BEFORE the sum, one
    data-sized shuffle then Heaps-bounded stages."""
    from bioeco_portal_etl_spark.text.analysis import token_entropy_table

    d = T(spark, sf, "documents")
    return token_entropy_table(d, "doc_id", "text").orderBy("doc_id")


def _tx15_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({duck_tokens("text")}) AS t FROM documents
),
tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, t),
wn AS (
  SELECT doc_id, tf,
         (sum(tf) OVER (PARTITION BY doc_id))::BIGINT AS n
  FROM tf
),
term AS (
  SELECT doc_id, n,
         floor((tf::DOUBLE / n::DOUBLE) * ln(n::DOUBLE / tf::DOUBLE)
               * 10000)::BIGINT AS term_e4
  FROM wn
)
SELECT doc_id, max(n) AS n_tokens, count(*)::BIGINT AS n_types,
       sum(term_e4)::BIGINT AS entropy_e4
FROM term GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tx16 — PMI collocations
# ---------------------------------------------------------------------------


def tx16_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 PMI collocations (text/analysis.py pmi_bigrams): bigram
    count table + broadcast marginals, TakeOrdered ranking."""
    from bioeco_portal_etl_spark.text.analysis import pmi_bigrams

    d = T(spark, sf, "documents")
    return pmi_bigrams(d, "text", min_count=5, top_k=100)


def _tx16_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tk AS (
  SELECT {duck_tokens("text")} AS t FROM documents
),
big AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM tk WHERE len(t) >= 2
),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS cnt FROM big GROUP BY w1, w2),
lmarg AS (SELECT w1, sum(cnt)::BIGINT AS c1 FROM c12 GROUP BY w1),
rmarg AS (SELECT w2, sum(cnt)::BIGINT AS c2 FROM c12 GROUP BY w2),
tot AS (SELECT sum(cnt)::BIGINT AS n FROM c12)
SELECT c.w1, c.w2, c.cnt,
       floor(ln((c.cnt::DOUBLE / l.c1::DOUBLE) * (t.n::DOUBLE / r.c2::DOUBLE))
             * 10000)::BIGINT AS pmi_e4
FROM c12 c
JOIN lmarg l ON l.w1 = c.w1
JOIN rmarg r ON r.w2 = c.w2
CROSS JOIN tot t
WHERE c.cnt >= 5
ORDER BY pmi_e4 DESC, c.w1, c.w2
LIMIT 100
"""


# ---------------------------------------------------------------------------
# tx17 — inverted-index postings summary
# ---------------------------------------------------------------------------


def tx17_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Posting-list summary (text/analysis.py postings_table): one token-hash
    window resolves df / total-tf / best posting together."""
    from bioeco_portal_etl_spark.text.analysis import postings_table

    d = T(spark, sf, "documents")
    return postings_table(d, "doc_id", "text", min_df=5).orderBy("token")


def _tx17_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({duck_tokens("text")}) AS token FROM documents
),
tf AS (
  SELECT token, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY token, doc_id
),
wn AS (
  SELECT token, doc_id, tf,
         count(*) OVER (PARTITION BY token)::BIGINT AS df_docs,
         (sum(tf) OVER (PARTITION BY token))::BIGINT AS tf_total,
         row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id)
           AS rk
  FROM tf
)
SELECT token, df_docs, tf_total, doc_id AS top_doc
FROM wn WHERE rk = 1 AND df_docs >= 5
ORDER BY token
"""


# ---------------------------------------------------------------------------
# tx18 — Unicode script detection
# ---------------------------------------------------------------------------


def tx18_script_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc writing-system profile + dominant script
    (text/analysis.py script_profile): regexp_extract_all counts over
    Unicode block ranges, scan-stage only."""
    from bioeco_portal_etl_spark.text.analysis import script_profile

    d = T(spark, sf, "documents")
    return script_profile(d, "doc_id", "text").orderBy("doc_id")


def _tx18_sql() -> str:
    from bioeco_portal_etl_spark.text.analysis import SCRIPT_RANGES

    cols = ", ".join(
        f"len(regexp_extract_all(text, '[{duck_rng}]'))::BIGINT AS n_{name}"
        for name, _, duck_rng in SCRIPT_RANGES
    )
    order = [name for name, _, _ in SCRIPT_RANGES]
    # reverse fold matching the Spark side: earlier scripts win ties
    pick = "'none'"
    best = "0"
    for name in reversed(order):
        pick = f"CASE WHEN n_{name} >= {best} THEN '{name}' ELSE {pick} END"
        best = f"greatest(n_{name}, {best})" if best != "0" else f"n_{name}"
    zero = " AND ".join(f"n_{n} = 0" for n in order)
    return f"""
WITH c AS (SELECT doc_id, {cols} FROM documents)
SELECT doc_id, {', '.join('n_' + n for n in order)},
       CASE WHEN {zero} THEN 'none' ELSE {pick} END AS script
FROM c ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tx19 — boilerplate n-gram coverage
# ---------------------------------------------------------------------------


def tx19_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Template-contamination coverage per doc (text/analysis.py
    boilerplate_coverage): occurrence shingles vs the corpus shingle-df
    table, joined on the posting shard key."""
    from bioeco_portal_etl_spark.text.analysis import boilerplate_coverage

    d = T(spark, sf, "documents")
    return boilerplate_coverage(d, "doc_id", "text").orderBy("doc_id")


def _tx19_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens

    return f"""
WITH occ AS (
  SELECT doc_id,
         unnest({duck_shingles(duck_tokens("text"), 3, distinct=False)}) AS s
  FROM documents
),
dfreq AS (
  SELECT s, count(*)::BIGINT AS docs
  FROM (SELECT DISTINCT doc_id, s FROM occ) GROUP BY s
)
SELECT o.doc_id,
       count(*)::BIGINT AS n_shingles,
       sum((d.docs > 3)::INT)::BIGINT AS n_boiler,
       ((10000 * sum((d.docs > 3)::INT)) // count(*))::BIGINT AS coverage_e4
FROM occ o JOIN dfreq d ON d.s = o.s
GROUP BY o.doc_id ORDER BY o.doc_id
"""


# ---------------------------------------------------------------------------
# tx20 — winnowing fingerprints (MOSS), per-doc summary
# ---------------------------------------------------------------------------

_WINNOW_K, _WINNOW_W = 5, 4


def tx20_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc winnowing summary (text/winnow.py, k=5 char-grams, w=4
    windows): selected-fingerprint count plus the lexicographic min/max
    fingerprint — enough to pin the full selection set across engines
    without shipping every (doc, fp) row through the gate. Docs shorter
    than k+w-1 chars legitimately vanish (no complete window)."""
    from bioeco_portal_etl_spark.text.winnow import winnow_fingerprints

    d = T(spark, sf, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(
        d, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


def _tx20_sql() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
pos AS (
  SELECT doc_id, t, length(t) - {k + w - 2} AS nw,
         unnest(range(1, greatest(length(t) - {k - 1}, 0) + 1)) AS p
  FROM d
),
g AS (SELECT doc_id, nw, p, md5(substr(t, p, {k})) AS h FROM pos),
sel AS (
  SELECT doc_id, p, nw,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM g
),
fps AS (
  SELECT doc_id, fp, min(p) AS pos
  FROM sel WHERE p <= nw GROUP BY doc_id, fp
)
SELECT doc_id, count(*)::BIGINT AS n_fp,
       min(fp) AS min_fp, max(fp) AS max_fp
FROM fps
GROUP BY doc_id
ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx21 — BPE tokenizer-training rounds
# ---------------------------------------------------------------------------


def tx21_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Two BPE training rounds over the documents corpus: top-8 pair table
    per round plus the merge each round selected (text/bpe.py). The
    corpus scan reduces to a (word, cnt) table first — the Sennrich
    compression that makes per-round cost vocabulary-sized — and the
    round-1 winner is applied with the greedy left-to-right fold before
    round 2 recounts."""
    from bioeco_portal_etl_spark.text.bpe import bpe_rounds

    docs = T(spark, sf, "documents")
    return bpe_rounds(docs, "text", n_rounds=2, top_k=8).orderBy(
        "round", "rank"
    )


TX21_SQL = r"""
WITH wf AS (
  SELECT w, count(*)::BIGINT AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w
),
sp AS (
  SELECT w, cnt, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS spaced
  FROM wf
),
p1 AS (
  SELECT pair, sum(cnt)::BIGINT AS cnt
  FROM sp, unnest(list_transform(range(1, len(string_split(spaced, ' '))),
         i -> string_split(spaced, ' ')[i] || ' ' ||
              string_split(spaced, ' ')[i + 1])) AS u(pair)
  GROUP BY pair
),
best1 AS (
  SELECT pair AS mp, string_split(pair, ' ')[1] AS ml,
         string_split(pair, ' ')[2] AS mr
  FROM p1 ORDER BY cnt DESC, pair LIMIT 1
),
r1 AS (
  SELECT 1::BIGINT AS round,
         row_number() OVER (ORDER BY cnt DESC, pair)::BIGINT AS rank,
         pair, cnt, (SELECT mp FROM best1) AS merged_pair
  FROM p1
),
m1 AS (
  SELECT w, cnt,
         list_reduce(string_split(spaced, ' '),
           (acc, x) -> CASE WHEN x = mr AND (acc = ml OR
                                             ends_with(acc, ' ' || ml))
                       THEN acc[1:length(acc) - length(ml)] || ml || mr
                       ELSE acc || ' ' || x END) AS spaced
  FROM sp, best1
),
p2 AS (
  SELECT pair, sum(cnt)::BIGINT AS cnt
  FROM m1, unnest(list_transform(range(1, len(string_split(spaced, ' '))),
         i -> string_split(spaced, ' ')[i] || ' ' ||
              string_split(spaced, ' ')[i + 1])) AS u(pair)
  GROUP BY pair
),
best2 AS (SELECT pair AS mp FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
r2 AS (
  SELECT 2::BIGINT AS round,
         row_number() OVER (ORDER BY cnt DESC, pair)::BIGINT AS rank,
         pair, cnt, (SELECT mp FROM best2) AS merged_pair
  FROM p2
)
SELECT * FROM (
  SELECT * FROM r1 WHERE rank <= 8
  UNION ALL
  SELECT * FROM r2 WHERE rank <= 8)
ORDER BY round, rank
"""


# ---------------------------------------------------------------------------
# tx22 — BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "merge", "window"]


def tx22_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 documents for a 3-term query by BM25 (text/bm25.py):
    postings filtered in the scan stage, corpus stats and per-term
    document frequencies broadcast, per-term contributions e4-floored
    before the exact integer per-doc sum, distributed top-k."""
    from bioeco_portal_etl_spark.text.bm25 import bm25_topk

    docs = T(spark, sf, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=100).orderBy(
        "rank"
    )


def _tx22_sql() -> str:
    from bioeco_portal_etl_spark.text.bm25 import duck_bm25_ctes

    return f"""
WITH {duck_bm25_ctes("text", "doc_id", "documents", _BM25_TERMS, k=100)}
SELECT doc_id, n_hit_terms, bm25_e4, rank FROM bm25r ORDER BY rank"""


# ---------------------------------------------------------------------------
# tx23 — certified exact heavy hitters
# ---------------------------------------------------------------------------


def tx23_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-10 tokens of the documents corpus via the two-phase
    certified heavy-hitter plan; the result is provably the full
    groupBy's answer, which is what the oracle runs."""
    from bioeco_portal_etl_spark.operators.heavyhitters import (
        certified_heavy_hitters,
    )
    from bioeco_portal_etl_spark.text.tokenize import tokens

    docs = T(spark, sf, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    return certified_heavy_hitters(tok, "tok", k=10).orderBy("rank")


TX23_SQL = """
WITH tok AS (
  SELECT t AS key FROM documents,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS u(t)
),
cnts AS (SELECT key, count(*)::BIGINT AS cnt FROM tok GROUP BY key)
SELECT key, cnt, rank FROM (
  SELECT key, cnt,
         row_number() OVER (ORDER BY cnt DESC, key)::BIGINT AS rank
  FROM cnts)
WHERE rank <= 10 ORDER BY rank"""


# ---------------------------------------------------------------------------
# tx24 — BPE encode with the trained merges
# ---------------------------------------------------------------------------


def tx24_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Train 2 BPE merges on the corpus (the tx21 loop), then ENCODE:
    every word rewritten through both merges, per-document word and
    subtoken counts for the first 200 docs. The vocabulary table is
    Heaps-bounded, so the encode join is a broadcast against corpus-scale
    tokens — the standard tokenizer-inference layout."""
    from bioeco_portal_etl_spark.text.bpe import (
        apply_merge,
        pair_counts,
        top_merge,
        with_spaced,
        word_frequencies,
    )

    docs = T(spark, sf, "documents")
    wf = with_spaced(word_frequencies(docs, "text"))
    m1 = apply_merge(wf, top_merge(pair_counts(wf))).select(
        "w", "cnt", "spaced"
    )
    m2 = apply_merge(m1, top_merge(pair_counts(m1))).select("w", "spaced")
    vocab = m2.select(
        "w", F.size(F.split("spaced", " ")).cast("long").alias("n_sub")
    )
    tok = (
        docs.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subtokens"),
        )
        .orderBy("doc_id")
    )


TX24_SQL = r"""
WITH wf AS (
  SELECT w, count(*)::BIGINT AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w
),
sp AS (
  SELECT w, cnt, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS spaced
  FROM wf
),
p1 AS (
  SELECT pair, sum(cnt)::BIGINT AS cnt
  FROM sp, unnest(list_transform(range(1, len(string_split(spaced, ' '))),
         i -> string_split(spaced, ' ')[i] || ' ' ||
              string_split(spaced, ' ')[i + 1])) AS u(pair)
  GROUP BY pair
),
best1 AS (
  SELECT string_split(pair, ' ')[1] AS ml, string_split(pair, ' ')[2] AS mr
  FROM p1 ORDER BY cnt DESC, pair LIMIT 1
),
m1 AS (
  SELECT w, cnt,
         list_reduce(string_split(spaced, ' '),
           (acc, x) -> CASE WHEN x = mr AND (acc = ml OR
                                             ends_with(acc, ' ' || ml))
                       THEN acc[1:length(acc) - length(ml)] || ml || mr
                       ELSE acc || ' ' || x END) AS spaced
  FROM sp, best1
),
p2 AS (
  SELECT pair, sum(cnt)::BIGINT AS cnt
  FROM m1, unnest(list_transform(range(1, len(string_split(spaced, ' '))),
         i -> string_split(spaced, ' ')[i] || ' ' ||
              string_split(spaced, ' ')[i + 1])) AS u(pair)
  GROUP BY pair
),
best2 AS (
  SELECT string_split(pair, ' ')[1] AS ml, string_split(pair, ' ')[2] AS mr
  FROM p2 ORDER BY cnt DESC, pair LIMIT 1
),
m2 AS (
  SELECT w,
         list_reduce(string_split(spaced, ' '),
           (acc, x) -> CASE WHEN x = mr AND (acc = ml OR
                                             ends_with(acc, ' ' || ml))
                       THEN acc[1:length(acc) - length(ml)] || ml || mr
                       ELSE acc || ' ' || x END) AS spaced
  FROM m1, best2
),
vocab AS (
  SELECT w, len(string_split(spaced, ' '))::BIGINT AS n_sub FROM m2
),
tok AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents WHERE doc_id < 200)
  WHERE w <> ''
)
SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_subtokens
FROM tok JOIN vocab USING (w)
GROUP BY doc_id ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx25 — category blocklist filter
# ---------------------------------------------------------------------------

_TX25_CATS = {
    "infra": ["spark", "hash", "shard"],
    "ops": ["merge", "sort"],
}
_TX25_MAX = 2


def tx25_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Category blocklist hits + keep verdict for the first 300 docs
    (text/blocklist.py): exact-token matches against two term lists,
    keep iff every category stays within {m} hits — the wordlist policy
    filter next to tx6's PII redaction."""
    from bioeco_portal_etl_spark.text.blocklist import blocklist_hits

    d = T(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return blocklist_hits(
        d, "doc_id", "text", _TX25_CATS, max_hits=_TX25_MAX
    ).orderBy("doc_id")


tx25_blocklist_filter.__doc__ = tx25_blocklist_filter.__doc__.format(
    m=_TX25_MAX
)


def _tx25_sql() -> str:
    from bioeco_portal_etl_spark.text.blocklist import duck_blocklist_sql
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    ctes = duck_blocklist_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id < 300)",
        "doc_id",
        duck_tokens("text"),
        _TX25_CATS,
        max_hits=_TX25_MAX,
    )
    return f"""
WITH {ctes.lstrip()}
SELECT doc_id, n_tokens, hits_infra, hits_ops, keep
FROM verdicts ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx26 — RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_STOP = ["the", "order", "scan", "batch"]


def tx26_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 RAKE phrases per document (first 300 docs): stopword-
    delimited candidate runs scored by summed word degree/frequency
    ratios (text/rake.py); ties break on the phrase string."""
    from bioeco_portal_etl_spark.text.rake import rake_keywords

    d = T(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return rake_keywords(
        d, "doc_id", "text", _RAKE_STOP, top_k=3
    ).orderBy("doc_id", "rank")


def _tx26_sql() -> str:
    from bioeco_portal_etl_spark.text.rake import duck_rake_ctes

    ctes = duck_rake_ctes(
        "(SELECT doc_id, text FROM documents WHERE doc_id < 300)",
        "doc_id",
        "text",
        _RAKE_STOP,
        top_k=3,
    )
    return f"""
WITH {ctes.lstrip()}
SELECT doc_id, phrase, n_words, score_e4, rank
FROM raker ORDER BY doc_id, rank"""


# ---------------------------------------------------------------------------
# tx27 — Gopher structural-rule filter
# ---------------------------------------------------------------------------


def tx27_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Gopher rule table over the full corpus: raw signals
    (word count, mean word length e2, alphabetic-word fraction e6,
    required-stopword hits, symbol-per-word e6), one 0/1 column per rule,
    and the pass_all conjunction a filter stage applies."""
    from bioeco_portal_etl_spark.text.gopher import gopher_flags

    d = T(spark, sf, "documents").select("doc_id", "text")
    return gopher_flags(d, "doc_id", "text").orderBy("doc_id")


def _tx27_sql() -> str:
    from bioeco_portal_etl_spark.text.gopher import duck_gopher_sql

    return f"""
WITH {duck_gopher_sql("SELECT doc_id, text FROM documents", "doc_id", "text").lstrip()}
SELECT doc_id, n_words, mwl_e2, alpha_frac_e6, stop_hits, symbol_e6,
       r_words, r_mwl, r_alpha, r_stop, r_symbol, pass_all
FROM gopherr ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx29 — cross-document repeated n-gram coverage
# ---------------------------------------------------------------------------

_TX29_K, _TX29_MIN_DF = 3, 2


def tx29_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: fraction of token positions covered by {k}-grams
    that appear in >= {m} distinct documents — the sub-document span-
    reuse diagnostic (boilerplate/template mass) document-level dedup
    cannot see (text/ngram_coverage.py)."""
    from bioeco_portal_etl_spark.text.ngram_coverage import ngram_coverage

    d = T(spark, sf, "documents").select("doc_id", "text")
    return ngram_coverage(
        d, "doc_id", "text", k=_TX29_K, min_df=_TX29_MIN_DF
    ).orderBy("doc_id")


tx29_ngram_coverage.__doc__ = tx29_ngram_coverage.__doc__.format(
    k=_TX29_K, m=_TX29_MIN_DF
)


def _tx29_sql() -> str:
    from bioeco_portal_etl_spark.text.ngram_coverage import (
        duck_ngram_coverage_sql,
    )

    ctes = duck_ngram_coverage_sql(
        "SELECT doc_id, text FROM documents",
        "doc_id",
        "text",
        k=_TX29_K,
        min_df=_TX29_MIN_DF,
    )
    return f"""
WITH {ctes.lstrip()}
SELECT doc_id, n_tokens, covered, coverage_e6 FROM ngcov ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx30 — TextRank keywords
# ---------------------------------------------------------------------------


def tx30_textrank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TextRank keywords per document (doc_id < 120): grouped e9
    fixed-point PageRank over adjacent content-word pairs — 2 supersteps,
    each one equi-join + one partial-combinable sum keyed by
    (doc_id, word)."""
    from bioeco_portal_etl_spark.text.textrank import (
        cooccurrence_edges,
        textrank_keywords,
    )

    d = T(spark, sf, "documents").filter(F.col("doc_id") < 120)
    return textrank_keywords(
        cooccurrence_edges(d, "doc_id", "text"), iterations=2, k=3
    ).orderBy("doc_id", "rank")


def _tx30_sql() -> str:
    from bioeco_portal_etl_spark.text.textrank import duck_textrank

    body = duck_textrank(
        "SELECT doc_id, text FROM documents WHERE doc_id < 120",
        iterations=2,
        k=3,
    )
    return f"""
WITH {body}
SELECT doc_id, rank, word, pr_e9 FROM tr ORDER BY doc_id, rank"""


# ---------------------------------------------------------------------------
# tx31 — sparse doc-doc cosine via postings self-join
# ---------------------------------------------------------------------------


def tx31_doc_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Squared-cosine document pairs (e6) over rare 3-word SHINGLES
    (df <= 20) for doc_id < 300, threshold cos2 >= 1000 —
    text/doccosine.py.

    Round-6 retune (VERDICT r5 #1): the synthetic corpus has a ~24-word
    closed vocabulary, so every UNIGRAM is stopword-frequent and the
    original df<=20 cut left ZERO pairs at every SF — the gate entry
    hash-matched 0 rows against 0 rows. 3-word shingles restore a real
    rare tail (sf0.01: 4.5k df=2 shingles, none above df=20), giving a
    392-row deterministic gate set."""
    from bioeco_portal_etl_spark.text.doccosine import (
        doc_cosine2_pairs,
        term_counts,
    )

    d = T(spark, sf, "documents").filter(F.col("doc_id") < 300)
    tc = term_counts(d, "doc_id", "text", shingle_k=3)
    return doc_cosine2_pairs(tc, max_df=20, min_cos2_e6=1000).orderBy(
        "doc_a", "doc_b"
    )


def _tx31_sql() -> str:
    from bioeco_portal_etl_spark.text.doccosine import duck_doc_cosine2

    body = duck_doc_cosine2(
        "SELECT doc_id, text FROM documents WHERE doc_id < 300",
        max_df=20,
        min_cos2_e6=1000,
        shingle_k=3,
    )
    return f"""
WITH {body}
SELECT doc_a, doc_b, dot, cos2_e6 FROM dcos ORDER BY doc_a, doc_b"""


# ---------------------------------------------------------------------------
# tx32 — feature hashing collision audit
# ---------------------------------------------------------------------------

_FH_DIM = 64


def tx32_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick featurization audit at D = 64 for doc_id < 300:
    per-doc token/term/bucket counts and the e6 collision share —
    the number that picks D (text/feature_hash.py)."""
    from bioeco_portal_etl_spark.text.feature_hash import collision_audit

    d = T(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return collision_audit(d, "doc_id", "text", dim=_FH_DIM).orderBy(
        "doc_id"
    )


def _tx32_sql() -> str:
    from bioeco_portal_etl_spark.text.feature_hash import duck_hashed_features

    body = duck_hashed_features(
        "SELECT doc_id, text FROM documents WHERE doc_id < 300",
        dim=_FH_DIM,
    )
    return f"""
WITH {body}
SELECT doc_id, n_tokens, n_terms, n_buckets, collision_e6
FROM hf_audit ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx33 — Zipf fit
# ---------------------------------------------------------------------------

_ZIPF_K = 500


def tx33_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Log-log OLS slope of the corpus's top-500 term frequencies
    (text/zipf.py zipf_fit) — the vocabulary-shape QA number."""
    from bioeco_portal_etl_spark.text.zipf import zipf_fit

    return zipf_fit(
        T(spark, sf, "documents"), "text", top_k=_ZIPF_K
    ).orderBy("n_terms")


def _tx33_sql() -> str:
    from bioeco_portal_etl_spark.text.zipf import duck_zipf

    body = duck_zipf("SELECT text FROM documents", top_k=_ZIPF_K)
    return f"""
WITH {body}
SELECT n_terms, n_tokens, top1_share_e6, slope_e6
FROM zipf ORDER BY n_terms"""


# ---------------------------------------------------------------------------
# tx34 — n-gram novelty curve
# ---------------------------------------------------------------------------


def tx34_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-trigram novelty per document: how much of each doc first
    appears THERE (min doc_id over the corpus order) — text/novelty.py."""
    from bioeco_portal_etl_spark.text.novelty import ngram_novelty

    d = T(spark, sf, "documents")
    return ngram_novelty(d, "doc_id", "text", k=3).orderBy("doc_id")


def _tx34_sql() -> str:
    from bioeco_portal_etl_spark.text.novelty import duck_ngram_novelty

    body = duck_ngram_novelty("SELECT doc_id, text FROM documents", k=3)
    return f"""
WITH {body}
SELECT doc_id, n_grams, n_novel, novelty_e6 FROM nov ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx35 — term burstiness
# ---------------------------------------------------------------------------


def tx35_term_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 terms by corpus frequency with df / max_tf / per-doc rate
    (text/burst.py)."""
    from bioeco_portal_etl_spark.text.burst import term_burstiness

    d = T(spark, sf, "documents")
    return term_burstiness(d, "doc_id", "text", top_k=100).orderBy(
        F.desc("cf"), "term"
    )


def _tx35_sql() -> str:
    from bioeco_portal_etl_spark.text.burst import duck_term_burstiness

    body = duck_term_burstiness("SELECT doc_id, text FROM documents", top_k=100)
    return f"""
WITH {body}
SELECT term, cf, df, max_tf, rate_e6 FROM burst ORDER BY cf DESC, term"""


# ---------------------------------------------------------------------------
# tx36 — language-id confusion matrix
# ---------------------------------------------------------------------------


def tx36_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """(true_lang, pred_lang, n, share_of_true_e6): the n-gram language
    identifier (text/analysis.py language_id — tx2's operator) scored
    against the labeled lang column. The evaluation surface every
    classifier-shaped curation op needs next to its prediction op."""
    from bioeco_portal_etl_spark.text.analysis import language_id

    d = T(spark, sf, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("true_lang"),
        language_id("text").alias("pred_lang"),
    )
    cell = d.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("true_lang").agg(F.sum("n").alias("tn"))
    return (
        cell.join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            F.col("n").cast("long").alias("n"),
            F.expr("CAST((1000000 * n) div tn AS BIGINT)").alias(
                "share_of_true_e6"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


def _tx36_sql() -> str:
    # the tx2 oracle's langid mirror, aggregated to confusion cells
    pred = """CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
       WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
       WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
       WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
       ELSE 'und' END"""
    return f"""
WITH s AS (
  SELECT coalesce(lang, 'und') AS true_lang,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|and|is|in|to)\\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\\b(el|la|de|los|es|y|que)\\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein)\\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\\b(le|la|les|des|est|et|une)\\b')) AS s_fr
  FROM documents
),
cell AS (
  SELECT true_lang, {pred} AS pred_lang, count(*)::BIGINT AS n
  FROM s GROUP BY true_lang, pred_lang
),
tot AS (SELECT true_lang, sum(n)::BIGINT AS tn FROM cell GROUP BY true_lang)
SELECT c.true_lang, c.pred_lang, c.n,
       CAST((1000000 * c.n) // t.tn AS BIGINT) AS share_of_true_e6
FROM cell c JOIN tot t USING (true_lang)
ORDER BY true_lang, pred_lang"""


# ---------------------------------------------------------------------------
# tx37 — BPE fertility per language
# ---------------------------------------------------------------------------


def tx37_bpe_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Train 2 BPE merges (the tx21/tx24 loop), encode every word, and
    roll subtoken-per-word fertility up PER LANGUAGE: (lang, n_docs,
    n_words, n_subtokens, fertility_e4). The vocab is Heaps-bounded so
    the encode join broadcasts; fertility_e4 = (1e4·subtokens) div
    words."""
    from bioeco_portal_etl_spark.text.bpe import (
        apply_merge,
        pair_counts,
        top_merge,
        with_spaced,
        word_frequencies,
    )

    docs = T(spark, sf, "documents")
    wf = with_spaced(word_frequencies(docs, "text"))
    m1 = apply_merge(wf, top_merge(pair_counts(wf))).select(
        "w", "cnt", "spaced"
    )
    m2 = apply_merge(m1, top_merge(pair_counts(m1))).select("w", "spaced")
    vocab = m2.select(
        "w", F.size(F.split("spaced", " ")).cast("long").alias("n_sub")
    )
    # the BPE family tokenizes words on non-LETTERS (bpe.py
    # word_frequencies) — not the [^a-z0-9]+ TOKEN_SPLIT — so the
    # document-side explode must match or digit-bearing tokens would
    # silently drop in the vocab join
    tok = docs.select(
        F.coalesce("lang", F.lit("und")).alias("lang"),
        F.col("doc_id"),
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
    ).filter(F.col("w") != "")
    enc = tok.join(F.broadcast(vocab), "w")
    per_doc = enc.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).alias("words"), F.sum("n_sub").alias("subs")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("n_words"),
            F.sum("subs").cast("long").alias("n_subtokens"),
            F.expr(
                "CAST((10000 * sum(subs)) div sum(words) AS BIGINT)"
            ).alias("fertility_e4"),
        )
        .orderBy("lang")
    )


def _tx37_sql() -> str:
    # reuse the PROVEN tx24 oracle's merge/vocab CTE chain verbatim
    # (driver-green since round 5), swapping only the consumption head:
    # per-(lang, doc) encode rollup instead of per-doc counts
    marker = "tok AS ("
    assert marker in TX24_SQL, "tx24 oracle shape changed"
    prefix = TX24_SQL.split(marker)[0]
    return f"""{prefix}tok AS (
  SELECT lang, doc_id, w FROM (
    SELECT coalesce(lang, 'und') AS lang, doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents)
  WHERE w <> ''
),
per_doc AS (
  SELECT t.lang, t.doc_id, count(*)::BIGINT AS words,
         sum(v.n_sub)::BIGINT AS subs
  FROM tok t JOIN vocab v USING (w)
  GROUP BY t.lang, t.doc_id
)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(words)::BIGINT AS n_words,
       sum(subs)::BIGINT AS n_subtokens,
       CAST((10000 * sum(subs)) // sum(words) AS BIGINT) AS fertility_e4
FROM per_doc GROUP BY lang ORDER BY lang"""


# ---------------------------------------------------------------------------
# tx38 — garbage / mojibake heuristics
# ---------------------------------------------------------------------------


def tx38_garbage_score(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, n_letters, n_vowels, vowel_e6, max_consonant_run,
    is_garbage): the OCR-garbage triage rules — vowel share of letters
    and the longest unbroken consonant run (split on vowels and
    non-letters; both engines share the split semantics). Flag fires on
    vowel_e6 < 250000 or a run >= 8."""
    d = T(spark, sf, "documents")
    low = F.lower(F.coalesce("text", F.lit("")))
    letters = F.length(F.regexp_replace(low, "[^a-z]", ""))
    vowels = F.length(F.regexp_replace(low, "[^aeiou]", ""))
    run = F.array_max(
        F.transform(
            F.split(low, "[aeiou]|[^a-z]"), lambda s: F.length(s)
        )
    )
    vowel_e6 = F.expr(
        "CASE WHEN n_letters > 0"
        " THEN CAST((1000000 * n_vowels) div n_letters AS BIGINT) END"
    )
    return (
        d.select(
            "doc_id",
            letters.cast("long").alias("n_letters"),
            vowels.cast("long").alias("n_vowels"),
            F.coalesce(run, F.lit(0)).cast("long").alias("max_consonant_run"),
        )
        .select(
            "doc_id",
            "n_letters",
            "n_vowels",
            vowel_e6.alias("vowel_e6"),
            "max_consonant_run",
            (
                (
                    F.coalesce(vowel_e6, F.lit(0)) < 250_000
                ) | (F.col("max_consonant_run") >= 8)
            )
            .cast("long")
            .alias("is_garbage"),
        )
        .orderBy("doc_id")
    )


def _tx38_sql() -> str:
    return """
WITH base AS (
  SELECT doc_id,
         length(regexp_replace(lower(coalesce(text, '')),
                               '[^a-z]', '', 'g'))::BIGINT AS n_letters,
         length(regexp_replace(lower(coalesce(text, '')),
                               '[^aeiou]', '', 'g'))::BIGINT AS n_vowels,
         coalesce(list_max(list_transform(
             string_split_regex(lower(coalesce(text, '')),
                                '[aeiou]|[^a-z]'),
             s -> length(s))), 0)::BIGINT AS max_consonant_run
  FROM documents
),
scored AS (
  SELECT doc_id, n_letters, n_vowels,
         CASE WHEN n_letters > 0 THEN
           CAST((1000000 * n_vowels) // n_letters AS BIGINT) END AS vowel_e6,
         max_consonant_run
  FROM base
)
SELECT doc_id, n_letters, n_vowels, vowel_e6, max_consonant_run,
       (CASE WHEN coalesce(vowel_e6, 0) < 250000
              OR max_consonant_run >= 8
             THEN 1 ELSE 0 END)::BIGINT AS is_garbage
FROM scored ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# tx40 — hapax legomena ratio per language
# ---------------------------------------------------------------------------


def tx40_hapax_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """(lang, n_tokens, vocab, hapax, dis, hapax_e6): per-language
    vocabulary richness — hapax = terms with corpus frequency 1 inside
    the language, dis = frequency 2; hapax_e6 their vocab share."""
    from bioeco_portal_etl_spark.text.tokenize import tokens

    d = T(spark, sf, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("lang"),
        F.explode(tokens("text")).alias("tok"),
    )
    tc = d.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tc.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
            F.sum((F.col("c") == 2).cast("long")).cast("long").alias("dis"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
                " div count(1) AS BIGINT)"
            ).alias("hapax_e6"),
        )
        .orderBy("lang")
    )


def _tx40_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH tc AS (
  SELECT lang, tok, count(*)::BIGINT AS c FROM (
    SELECT coalesce(lang, 'und') AS lang,
           unnest({duck_tokens("text")}) AS tok
    FROM documents)
  GROUP BY lang, tok
)
SELECT lang, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
       sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS dis,
       CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS hapax_e6
FROM tc GROUP BY lang ORDER BY lang"""


# ---------------------------------------------------------------------------
# tx41 — shard rank-stability (Spearman over term rankings)
# ---------------------------------------------------------------------------


def tx41_rank_stability(spark: SparkSession, sf: str) -> DataFrame:
    """Are two shards of the corpus linguistically exchangeable? Spearman
    rank correlation between the term-frequency RANKINGS of the
    even-doc_id and odd-doc_id halves, over their top-200 shared terms —
    the split-QA twin of dq3 (leakage) and dq12 (stratum balance) for
    the vocabulary axis: rho near 1e6 means any half trains like the
    whole; a low rho flags a content-skewed shard assignment. Entirely
    integer arithmetic (counts, ranks, d^2 sums) until one final IEEE
    division inside a floor."""
    return rank_stability_frame(
        T(spark, sf, "documents").select("doc_id", "text")
    )


def rank_stability_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of tx41 over a (doc_id, text) projection."""
    from bioeco_portal_etl_spark.text.tokenize import tokens

    terms = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
        )
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
    )
    # bounded surface: top-200 shared terms by combined count — a
    # TakeOrdered heap, never a vocabulary-wide sort
    top = terms.orderBy(
        F.desc(F.col("ca") + F.col("cb")), F.asc("t")
    ).limit(200)
    ranked = top.select(
        "t",
        F.row_number()
        .over(Window.orderBy(F.desc("ca"), F.asc("t")))
        .cast("long")
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.desc("cb"), F.asc("t")))
        .cast("long")
        .alias("rb"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
        ).alias("d2"),
    )
    return agg.select(
        F.col("n").alias("n_common_terms"),
        F.col("d2").alias("d2_sum"),
        F.floor(
            (
                F.lit(1.0)
                - F.lit(6.0)
                * F.col("d2").cast("double")
                / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double")
            )
            * 1000000.0
        )
        .cast("long")
        .alias("spearman_e6"),
    )


def _tx41_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH toks AS (
  SELECT doc_id % 2 AS half, unnest({duck_tokens("text")}) AS t
  FROM documents
),
terms AS (
  SELECT t,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM toks GROUP BY t
  HAVING ca > 0 AND cb > 0
),
top AS (
  SELECT t, ca, cb FROM terms ORDER BY ca + cb DESC, t ASC LIMIT 200
),
ranked AS (
  SELECT t,
         row_number() OVER (ORDER BY ca DESC, t ASC)::BIGINT AS ra,
         row_number() OVER (ORDER BY cb DESC, t ASC)::BIGINT AS rb
  FROM top
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum((ra - rb) * (ra - rb))::BIGINT AS d2
  FROM ranked
)
SELECT n AS n_common_terms, d2 AS d2_sum,
       floor((1.0 - 6.0 * CAST(d2 AS DOUBLE)
              / CAST(n * (n * n - 1) AS DOUBLE)) * 1000000.0)::BIGINT
         AS spearman_e6
FROM agg"""


# ---------------------------------------------------------------------------
# tx42 — Jensen-Shannon divergence between language pairs
# ---------------------------------------------------------------------------


def tx42_js_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """JS(p_la || p_lb) over unigram term distributions for every
    language pair — bounded in [0, 1] bit, symmetric, finite on disjoint
    support (a term absent from one side contributes p*log2(2) = p).
    Per-term contributions are computed in IEEE doubles with pinned
    literals and floor-e12-quantized BEFORE the sum, so cross-partition
    float order cannot flip the hash. Term tables are Heaps-bounded;
    the pair grid is |langs|^2 rows, a broadcast."""
    return js_divergence_frame(
        T(spark, sf, "documents").select(
            F.coalesce("lang", F.lit("und")).alias("grp"), "text"
        )
    )


def js_divergence_frame(docs: DataFrame) -> DataFrame:
    from bioeco_portal_etl_spark.text.tokenize import tokens

    terms = (
        docs.select("grp", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = terms.groupBy("grp").agg(F.sum("c").alias("tot"))
    pairs = (
        totals.select(F.col("grp").alias("grp_a"), F.col("tot").alias("tot_a"))
        .crossJoin(
            F.broadcast(
                totals.select(
                    F.col("grp").alias("grp_b"), F.col("tot").alias("tot_b")
                )
            )
        )
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    # union-of-support term grid per pair
    support = (
        pairs.join(
            terms.select(F.col("grp").alias("g"), "t").distinct(),
            (F.col("g") == F.col("grp_a")) | (F.col("g") == F.col("grp_b")),
        )
        .select("grp_a", "grp_b", "tot_a", "tot_b", "t")
        .distinct()
    )
    ca = terms.select(
        F.col("grp").alias("grp_a"), F.col("t").alias("ta"), F.col("c").alias("c_a")
    )
    cb = terms.select(
        F.col("grp").alias("grp_b"), F.col("t").alias("tb"), F.col("c").alias("c_b")
    )
    j = (
        support.join(
            ca, (support.grp_a == ca.grp_a) & (support.t == ca.ta), "left"
        )
        .drop(ca.grp_a)
        .drop("ta")
        .join(cb, (support.grp_b == cb.grp_b) & (support.t == cb.tb), "left")
        .drop(cb.grp_b)
        .drop("tb")
    )
    pa = F.coalesce(F.col("c_a"), F.lit(0)).cast("double") / F.col(
        "tot_a"
    ).cast("double")
    pb = F.coalesce(F.col("c_b"), F.lit(0)).cast("double") / F.col(
        "tot_b"
    ).cast("double")
    mm = (pa + pb) / F.lit(2.0)
    contrib = F.when(pa > 0, pa * F.log2(pa / mm)).otherwise(
        F.lit(0.0)
    ) + F.when(pb > 0, pb * F.log2(pb / mm)).otherwise(F.lit(0.0))
    q = j.select(
        "grp_a",
        "grp_b",
        F.floor(contrib * 1000000000000.0).cast("long").alias("cq"),
    )
    return (
        q.groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("cq").alias("sq"))
        .select(
            "grp_a",
            "grp_b",
            "n_terms",
            # JS = sum/2; e6 surface from the e12 quantized sum
            F.floor(F.col("sq").cast("double") / 2000000.0)
            .cast("long")
            .alias("js_e6"),
        )
        .orderBy("grp_a", "grp_b")
    )


def _tx42_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_tokens

    return f"""
WITH docs AS (
  SELECT coalesce(lang, 'und') AS grp, text FROM documents
),
terms AS (
  SELECT grp, t, count(*)::BIGINT AS c
  FROM (SELECT grp, unnest({duck_tokens("text")}) AS t FROM docs)
  GROUP BY grp, t
),
totals AS (SELECT grp, sum(c)::BIGINT AS tot FROM terms GROUP BY grp),
pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, a.tot AS tot_a, b.tot AS tot_b
  FROM totals a JOIN totals b ON a.grp < b.grp
),
support AS (
  SELECT DISTINCT p.grp_a, p.grp_b, p.tot_a, p.tot_b, u.t
  FROM pairs p
  JOIN (SELECT DISTINCT grp AS g, t FROM terms) u
    ON u.g = p.grp_a OR u.g = p.grp_b
),
j AS (
  SELECT s.grp_a, s.grp_b, s.tot_a, s.tot_b, s.t,
         coalesce(ca.c, 0)::BIGINT AS c_a, coalesce(cb.c, 0)::BIGINT AS c_b
  FROM support s
  LEFT JOIN terms ca ON ca.grp = s.grp_a AND ca.t = s.t
  LEFT JOIN terms cb ON cb.grp = s.grp_b AND cb.t = s.t
),
q AS (
  SELECT grp_a, grp_b,
         floor((
           CASE WHEN c_a > 0 THEN
             (CAST(c_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
             * log2((CAST(c_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                    / (((CAST(c_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                        + (CAST(c_b AS DOUBLE) / CAST(tot_b AS DOUBLE)))
                       / 2.0))
           ELSE 0.0 END
           +
           CASE WHEN c_b > 0 THEN
             (CAST(c_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
             * log2((CAST(c_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
                    / (((CAST(c_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                        + (CAST(c_b AS DOUBLE) / CAST(tot_b AS DOUBLE)))
                       / 2.0))
           ELSE 0.0 END
         ) * 1000000000000.0)::BIGINT AS cq
  FROM j
)
SELECT grp_a, grp_b, count(*)::BIGINT AS n_terms,
       floor(CAST(sum(cq)::BIGINT AS DOUBLE) / 2000000.0)::BIGINT AS js_e6
FROM q GROUP BY grp_a, grp_b ORDER BY grp_a, grp_b"""


CATALOG = {
    "tx1_token_counts": (tx1_token_counts, TX1_SQL),
    "tx2_language_id": (tx2_language_id, TX2_SQL),
    "tx3_quality": (tx3_quality, TX3_SQL),
    "tx4_fingerprint": (tx4_fingerprint, TX4_SQL),
    "tx5_normalize": (tx5_normalize, TX5_SQL),
    "tx6_pii_redact": (tx6_pii_redact, TX6_SQL),
    "tx7_top_bigrams": (tx7_top_bigrams, TX7_SQL),
    "tx8_length_quantiles": (tx8_length_quantiles, TX8_SQL),
    "tx9_repetition": (tx9_repetition, TX9_SQL),
    "tx10_tfidf_top_terms": (tx10_tfidf_top_terms, TX10_SQL),
    "tx11_lm_score": (tx11_lm_score, TX11_SQL),
    "tx12_vocab_growth": (tx12_vocab_growth, _tx12_sql()),
    "tx13_bigram_lm": (tx13_bigram_lm, _tx13_sql()),
    "tx14_readability": (tx14_readability, _tx14_sql()),
    "tx15_token_entropy": (tx15_token_entropy, _tx15_sql()),
    "tx16_pmi_bigrams": (tx16_pmi_bigrams, _tx16_sql()),
    "tx17_postings": (tx17_postings, _tx17_sql()),
    "tx18_script_detect": (tx18_script_detect, _tx18_sql()),
    "tx19_boilerplate": (tx19_boilerplate, _tx19_sql()),
    "tx20_winnow_fingerprints": (tx20_winnow_fingerprints, _tx20_sql()),
    "tx21_bpe_merges": (tx21_bpe_merges, TX21_SQL),
    "tx22_bm25": (tx22_bm25, _tx22_sql()),
    "tx23_heavy_hitters": (tx23_heavy_hitters, TX23_SQL),
    "tx24_bpe_encode": (tx24_bpe_encode, TX24_SQL),
    "tx25_blocklist_filter": (tx25_blocklist_filter, _tx25_sql()),
    "tx26_rake_keywords": (tx26_rake_keywords, _tx26_sql()),
    "tx27_gopher_rules": (tx27_gopher_rules, _tx27_sql()),
    "tx29_ngram_coverage": (tx29_ngram_coverage, _tx29_sql()),
    "tx30_textrank": (tx30_textrank, _tx30_sql()),
    "tx31_doc_cosine": (tx31_doc_cosine, _tx31_sql()),
    "tx32_feature_hashing": (tx32_feature_hashing, _tx32_sql()),
    "tx33_zipf_fit": (tx33_zipf_fit, _tx33_sql()),
    "tx34_ngram_novelty": (tx34_ngram_novelty, _tx34_sql()),
    "tx35_term_burstiness": (tx35_term_burstiness, _tx35_sql()),
    "tx36_langid_confusion": (tx36_langid_confusion, _tx36_sql()),
    "tx37_bpe_fertility": (tx37_bpe_fertility, _tx37_sql()),
    "tx38_garbage_score": (tx38_garbage_score, _tx38_sql()),
    "tx40_hapax_ratio": (tx40_hapax_ratio, _tx40_sql()),
    "tx41_rank_stability": (tx41_rank_stability, _tx41_sql()),
    "tx42_js_divergence": (tx42_js_divergence, _tx42_sql()),
}
