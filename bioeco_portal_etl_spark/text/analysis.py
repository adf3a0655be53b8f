"""Text analysis: language ID, quality scoring, token counting, fingerprints.

Training-data curation heuristics (the CCNet / Gopher-rules family of filters,
re-expressed as Column algebra). No ML models, no UDFs: n-gram/stopword
profiles are literal regexes evaluated JVM-side, so at 100 TB these run inside
the scan stage's codegen span.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from bioeco_portal_etl_spark.text.tokenize import shingles, tokens, ws_tokens

# Tiny per-language stopword profiles (public-knowledge function words). The
# predicted language is the profile with the most word-boundary hits; ties
# resolve in PROFILE order; zero hits everywhere -> 'und' (BCP-47 undetermined).
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "is", "in", "to"]),
    ("es", ["el", "la", "de", "los", "es", "y", "que"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht", "ein"]),
    ("fr", ["le", "la", "les", "des", "est", "et", "une"]),
]

# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation —
# the GPT-2 pre-tokenization shape without the library dependency.
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _profile_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (word-boundary regex, case-folded)."""
    low = F.lower(_c(col))
    return {
        lang: F.regexp_count(low, F.lit(_profile_regex(words)))
        for lang, words in LANG_PROFILES
    }


def language_id(col: Column | str) -> Column:
    """Argmax over the profile scores; first profile wins ties; 'und' if all
    zero."""
    scores = lang_scores(col)
    all_scores = list(scores.values())
    best = F.greatest(*all_scores) if len(all_scores) > 1 else all_scores[0]
    out = F.lit("und")
    for lang, _ in reversed(LANG_PROFILES):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


# Quality-score thresholds — the ONE definition both the Column API and the
# DataFrame-level table share (and the TX3 oracle mirrors).
LEN_SATURATION = 50.0  # tokens at which length score saturates
STOP_SATURATION = 5.0  # stopword hits at which stop score saturates
PUNCT_MAX_RATIO = 0.2  # above this punctuation ratio the score halves
PUNCT_PATTERN = r"[^A-Za-z0-9\s]"


def _nn(col: Column) -> Column:
    """Null text behaves as empty text — matches content_hash/multimodal
    convention and keeps counts at 0 instead of Spark's size(null) = -1."""
    return F.coalesce(col, F.lit(""))


def _score_expr(n_tok: Column, n_chars: Column, n_stop: Column, n_punct: Column) -> Column:
    len_score = F.least(n_tok / F.lit(LEN_SATURATION), F.lit(1.0))
    stop_score = F.least(n_stop / F.lit(STOP_SATURATION), F.lit(1.0))
    punct_ok = F.when(
        (n_chars > 0) & (n_punct / n_chars <= PUNCT_MAX_RATIO), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(len_score * (F.lit(0.5) + F.lit(0.5) * stop_score) * punct_ok, 4)


def token_counts(col: Column | str) -> dict[str, Column]:
    """Whitespace tokens, normalized word tokens, BPE-ish unit count.
    Null text counts as empty (0s, never -1)."""
    c = _nn(_c(col))
    return {
        "n_ws_tokens": F.size(ws_tokens(c)),
        "n_word_tokens": F.size(tokens(c)),
        "n_bpe_units": F.regexp_count(c, F.lit(BPE_ISH)),
    }


def fingerprint(col: Column | str, k: int = 4, width: int = 16) -> Column:
    """Document fingerprint: min-md5 over k-word shingles (winnowing-style
    selection of one representative k-gram hash), truncated to ``width`` hex
    chars; short docs (< k tokens) fall back to md5 of the whole text.

    NOTE: single-expression form — fine for one-off use, but it inlines the
    token split several times. Hot paths should use :func:`fingerprint_table`."""
    c = _c(col)
    sh = shingles(tokens(c), k)
    fp = F.when(
        F.size(sh) > 0,
        F.array_min(F.transform(sh, lambda s: F.md5(s))),
    ).otherwise(F.md5(F.coalesce(c, F.lit(""))))
    return F.substring(fp, 1, width)


def fingerprint_table(
    df, id_col: str, text_col: str, k: int = 4, width: int = 16
):
    """DataFrame-level fingerprint with the token/shingle arrays materialized
    as columns (one split, one shingle pass — see dedupe.shingled's note on
    CollapseProject)."""
    c = _c(text_col)
    tok = df.select(F.col(id_col), c.alias("__text"), tokens(c).alias("__tok"))
    sh = tok.select(
        F.col(id_col), F.col("__text"), shingles(F.col("__tok"), k).alias("__sh")
    )
    fp = F.when(
        F.size("__sh") > 0,
        F.array_min(F.transform(F.col("__sh"), lambda s: F.md5(s))),
    ).otherwise(F.md5(F.coalesce(F.col("__text"), F.lit(""))))
    return sh.select(F.col(id_col), F.substring(fp, 1, width).alias("fingerprint"))


def quality_table(df, id_col: str, text_col: str):
    """DataFrame-level quality features + composite score, computing the
    token array and every regexp count exactly once (layered selects). Score
    formula comes from _score_expr, which the TX3 oracle mirrors. Null text counts as empty."""
    c = _nn(_c(text_col))
    tok = df.select(F.col(id_col), c.alias("__text"), tokens(c).alias("__tok"))
    feats = tok.select(
        F.col(id_col),
        F.length("__text").alias("n_chars"),
        F.size("__tok").alias("n_tokens"),
        F.aggregate(F.col("__tok"), F.lit(0), lambda acc, t: acc + F.length(t)).alias(
            "__word_chars"
        ),
        F.regexp_count(F.col("__text"), F.lit(PUNCT_PATTERN)).alias("__n_punct"),
        F.regexp_count(
            F.lower(F.col("__text")), F.lit(_profile_regex(STOPWORDS))
        ).alias("__n_stop"),
    )
    n_tok, n_chars = F.col("n_tokens"), F.col("n_chars")
    n_punct, n_stop = F.col("__n_punct"), F.col("__n_stop")
    return feats.select(
        F.col(id_col),
        "n_chars",
        "n_tokens",
        F.round(
            F.when(n_tok > 0, F.col("__word_chars") / n_tok).otherwise(F.lit(0.0)), 4
        ).alias("mean_word_len"),
        F.round(F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 4).alias(
            "punct_ratio"
        ),
        F.round(F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)), 4).alias(
            "stopword_ratio"
        ),
        _score_expr(n_tok, n_chars, n_stop, n_punct).alias("quality"),
    )


def repetition_table(df, id_col: str, text_col: str):
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filters — the standard "repetitive document" gates a curation pipeline
    applies alongside quality_table):

      - ``top_token_ratio_e4``: fraction of tokens taken by the single most
        frequent token (boilerplate / keyword-stuffing detector);
      - ``dup_bigram_ratio_e4``: fraction of word-bigram OCCURRENCES that
        are repeats of an already-seen bigram (loop/spam detector).

    Both exposed as floor(ratio*1e4) integers via long division (engine-
    exact; the oracle runs identical arithmetic). Docs with zero tokens are
    dropped (no signal — same contract as simhash). Plan: one explode +
    two hash aggregates keyed by doc (map-side partials), one broadcast-or-
    shuffle join keyed by doc; no windows, no UDFs."""
    tok = df.select(F.col(id_col), tokens(text_col).alias("__tok")).filter(
        F.size("__tok") > 0
    )
    ex = tok.select(F.col(id_col), F.explode_outer("__tok").alias("__t"))
    per_tok = ex.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__c"))
    top = per_tok.groupBy(id_col).agg(
        F.max("__c").alias("__maxc"), F.sum("__c").alias("__sumc")
    )
    # bigrams with multiplicity (distinct=False): repeats are the signal
    bg = tok.select(
        F.col(id_col),
        F.explode_outer(shingles(F.col("__tok"), 2, distinct=False)).alias("__b"),
    ).filter(F.col("__b").isNotNull())
    bstats = bg.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__btotal"),
        F.count_distinct("__b").alias("__bdistinct"),
    )
    out = top.join(bstats, id_col, "left")
    return out.select(
        F.col(id_col),
        F.expr("(10000 * __maxc) div __sumc").alias("top_token_ratio_e4"),
        F.coalesce(
            F.expr("(10000 * (__btotal - __bdistinct)) div __btotal"), F.lit(0)
        ).cast("long").alias("dup_bigram_ratio_e4"),
    )


def tfidf_top_terms(df, id_col: str, text_col: str, top_k: int = 3):
    """Top-k terms per document by tf-idf (tf * ln(N/df)) — the classic
    keyword-extraction / relevance-weighting op.

    Plan: one explode -> (doc, term, tf) hash aggregate -> term document
    frequencies (second aggregate over the distinct pairs) -> broadcast
    join of the (tiny) per-term df and the one-row corpus size -> per-doc
    top-k window. Scores exposed floor-e4 with a term tiebreak so rankings
    are engine-exact; ln() is IEEE double in both engines and the e4 floor
    absorbs any last-ulp libm difference."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("__t")).filter(
        F.col("__t").isNotNull()
    )
    tf = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dft = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n = tok.agg(F.count_distinct(id_col).alias("__n"))
    scored = (
        tf.join(dft, "__t")
        .join(n)
        .select(
            F.col(id_col),
            F.col("__t").alias("term"),
            F.floor(
                F.col("__tf")
                * F.log(F.col("__n").cast("double") / F.col("__df"))
                * 10000
            )
            .cast("long")
            .alias("score_e4"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_e4"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def vocab_growth(df, group_col: str, text_col: str, top_k: int = 10):
    """Per-group Zipf/Heaps vocabulary diagnostics — the corpus-mix
    fingerprint a curation dashboard tracks per source: token mass,
    type count, hapax fraction and head concentration expose template
    spam (low type/token ratio, high head share) and OCR noise (hapax
    explosion) without any transcendental regression.

    Columns (all integer / e6 fixed-point — engine-exact):
      n_tokens     total token occurrences
      n_types      distinct tokens
      hapax_types  tokens occurring exactly once
      ttr_e6       floor(1e6 * n_types / n_tokens)  (type-token ratio)
      top_share_e6 floor(1e6 * mass of the top_k most frequent tokens
                   / n_tokens); frequency ties broken lexicographically

    Plan: explode -> groupBy(group, token) count (the one data-sized
    shuffle, map-side combined) -> everything after runs on the
    Heaps-bounded vocab table: a row_number window for the top-k head and
    one final groupBy. At 100 TB the vocab stage is MBs per group.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(group_col), F.explode(tokens(text_col)).alias("__t"))
    tf = tok.groupBy(group_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    w = Window.partitionBy(group_col).orderBy(F.desc("__tf"), F.asc("__t"))
    ranked = tf.withColumn("__rk", F.row_number().over(w))
    return ranked.groupBy(group_col).agg(
        F.sum("__tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__tf") == 1).cast("long")).alias("hapax_types"),
        F.expr("(1000000 * count(*)) div sum(__tf)").alias("ttr_e6"),
        F.expr(
            f"(1000000 * sum(CASE WHEN __rk <= {top_k} THEN __tf ELSE 0 END))"
            " div sum(__tf)"
        ).alias("top_share_e6"),
    )


def token_entropy_table(df, id_col: str, text_col: str):
    """Per-document Shannon entropy of the token distribution — the
    repetitiveness/diversity quality axis: template spam and looped decode
    output sit near 0 bits-equivalent, natural prose near ln(n_types).

    Columns: (id, n_tokens, n_types, entropy_e4) with
    entropy_e4 = Σ_types floor(1e4 · (tf/n) · ln(n/tf)) — each term is
    quantized BEFORE the sum (PORTABILITY: integer addition is
    associative; the per-term floor absorbs libm ln() ulp skew, and
    tf/n, n/tf are correctly-rounded rational divisions identical in
    both engines). Zero-token documents are dropped (entropy undefined).

    Plan: explode -> (doc, token) count (the data-sized shuffle,
    map-side combined) -> per-doc total via a window on the doc hash ->
    final groupBy on the SAME partitioning (no extra exchange). The
    token-type table is Heaps-bounded per doc, so the post-explode
    stages shrink with vocabulary, not corpus size."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    tf = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    n = F.sum("__tf").over(Window.partitionBy(id_col))
    term = tf.select(
        F.col(id_col),
        F.col("__tf"),
        n.alias("__n"),
        F.floor(
            (F.col("__tf").cast("double") / n.cast("double"))
            * F.log(n.cast("double") / F.col("__tf").cast("double"))
            * 10000
        )
        .cast("long")
        .alias("__term_e4"),
    )
    return term.groupBy(id_col).agg(
        F.max("__n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("__term_e4").alias("entropy_e4"),
    )


def pmi_bigrams(df, text_col: str, min_count: int = 5, top_k: int = 100):
    """Corpus-level PMI-ranked bigram collocations — the co-occurrence
    weighting step of GloVe/word2vec-style embedding prep and phrase
    mining (Church & Hanks 1990).

    PMI over the bigram event space: pmi_e4 =
    floor(1e4 · ln((c12/c1·) · (N/c·2))) where c1· / c·2 are the
    left/right marginals of the bigram table and N its total mass. The
    two divisions and one multiply are correctly-rounded IEEE on both
    engines (and keep intermediates < 2^53 where c12·N would overflow);
    the e4 floor absorbs ln() ulp skew.

    Plan: one explode of in-scan-stage transition pairs -> (w1,w2) count
    (map-side combined); marginals are vocab-sized aggregates broadcast
    back; ranking is orderBy+limit = TakeOrdered (per-partition top-k,
    no global sort). Ties break on (w1, w2)."""
    tok = df.select(tokens(text_col).alias("__tk")).filter(F.size("__tk") >= 2)
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__tk") - 1),
                lambda i: F.struct(
                    F.element_at("__tk", i).alias("w1"),
                    F.element_at("__tk", i + 1).alias("w2"),
                ),
            )
        ).alias("__b")
    ).select("__b.w1", "__b.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    left = c12.groupBy("w1").agg(F.sum("cnt").alias("__c1"))
    right = c12.groupBy("w2").agg(F.sum("cnt").alias("__c2"))
    total = c12.agg(F.sum("cnt").alias("__n"))
    scored = (
        c12.filter(F.col("cnt") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .join(total)
        .select(
            "w1",
            "w2",
            "cnt",
            F.floor(
                F.log(
                    (F.col("cnt").cast("double") / F.col("__c1").cast("double"))
                    * (F.col("__n").cast("double") / F.col("__c2").cast("double"))
                )
                * 10000
            )
            .cast("long")
            .alias("pmi_e4"),
        )
    )
    return scored.orderBy(F.desc("pmi_e4"), "w1", "w2").limit(top_k)


def postings_table(df, id_col: str, text_col: str, min_df: int = 5):
    """Inverted-index summary: per token, its document frequency, total
    term frequency, and the highest-tf posting (the seed of a full
    posting-list build; capped output keeps the demo deterministic).

    Columns: (token, df_docs, tf_total, top_doc) — top_doc is the doc
    with max tf, ties to the LOWEST doc id. All integers, engine-exact.

    Plan: explode -> (doc, token) tf aggregate -> ONE token-hash window
    resolves df/tf-total/top-doc together (no second aggregate + join);
    posting lists at 100 TB shard by token hash exactly like this."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("__tf"))
    w = Window.partitionBy("token")
    rk = Window.partitionBy("token").orderBy(F.desc("__tf"), F.asc(id_col))
    return (
        tf.select(
            "token",
            F.col(id_col),
            F.col("__tf"),
            F.count(F.lit(1)).over(w).alias("df_docs"),
            F.sum("__tf").over(w).alias("tf_total"),
            F.row_number().over(rk).alias("__rk"),
        )
        .filter((F.col("__rk") == 1) & (F.col("df_docs") >= min_df))
        .select("token", "df_docs", "tf_total", F.col(id_col).alias("top_doc"))
    )


# Unicode script ranges (BMP core blocks) — public Unicode block bounds.
# Counted via regexp_extract_all: same count on Spark (JVM regex, \uXXXX
# escapes) and DuckDB (RE2, literal range endpoints) — pinned by the
# tx18 oracle at the gate.
SCRIPT_RANGES: list[tuple[str, str, str]] = [
    ("latin", "A-Za-z", "A-Za-z"),
    ("cyrillic", r"\\u0400-\\u04FF", "Ѐ-ӿ"),
    ("cjk", r"\\u4E00-\\u9FFF", "一-鿿"),
    ("arabic", r"\\u0600-\\u06FF", "؀-ۿ"),
    ("greek", r"\\u0370-\\u03FF", "Ͱ-Ͽ"),
]


def script_profile(df, id_col: str, text_col: str):
    """Per-document Unicode-script character profile + dominant script —
    the writing-system router that precedes any per-language model in a
    multilingual curation pipeline (the stopword lang-id of tx2 only
    works on Latin-script text; this decides whether it even applies).

    Columns: (id, n_latin, n_cyrillic, n_cjk, n_arabic, n_greek, script)
    where script is the argmax count, ties broken in SCRIPT_RANGES order,
    zero everywhere -> 'none'. Counts are regexp_extract_all sizes —
    scan-stage codegen, no explode, no UDF."""
    counts = {
        name: F.size(
            F.expr(f"regexp_extract_all({text_col}, '[{spark_rng}]', 0)")
        ).alias(f"n_{name}")
        for name, spark_rng, _ in SCRIPT_RANGES
    }
    out = df.select(F.col(id_col), *counts.values())
    best = F.lit("none")
    best_n = F.lit(0)
    # fold in REVERSE so earlier ranges win ties (> replaces only when
    # strictly greater than every later candidate)
    for name, _, _ in reversed(SCRIPT_RANGES):
        n = F.col(f"n_{name}")
        best = F.when(n >= best_n, F.lit(name)).otherwise(best)
        best_n = F.greatest(n, best_n)
    zero = None
    for name, _, _ in SCRIPT_RANGES:
        z = F.col(f"n_{name}") == 0
        zero = z if zero is None else (zero & z)
    return out.withColumn("script", F.when(zero, F.lit("none")).otherwise(best))


def boilerplate_coverage(df, id_col: str, text_col: str, k: int = 3, min_docs: int = 3):
    """Per-doc boilerplate coverage: the fraction of a document's k-shingle
    OCCURRENCES that also appear in >= ``min_docs`` other documents — the
    RefinedWeb/Gopher-style template-contamination signal (a page whose
    text is mostly site-chrome shows high coverage even when no single
    duplicate pair exists).

    Columns: (id, n_shingles, n_boiler, coverage_e4) — integer counts,
    coverage = floor(1e4·n_boiler/n_shingles) via the div spelling on
    non-negative longs.

    Plan: shingles with MULTIPLICITY (occurrences, not the set) explode
    once; the shingle->doc-frequency table is vocab-bounded and joins
    back BROADCAST-free as a plain key join on the shingle hash (the df
    table is Heaps-bounded but can exceed broadcast size at 100 TB —
    the equi-join co-partitions on the shingle, which is the posting
    shard key anyway)."""
    from bioeco_portal_etl_spark.text.tokenize import shingles, tokens

    tok = df.select(F.col(id_col), tokens(text_col).alias("__tok")).filter(
        F.size("__tok") >= k
    )
    occ = tok.select(
        F.col(id_col),
        F.explode(shingles(F.col("__tok"), k, distinct=False)).alias("__s"),
    )
    dfreq = (
        occ.select(F.col(id_col), F.col("__s")).distinct()
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__docs"))
    )
    joined = occ.join(dfreq, "__s").select(
        F.col(id_col),
        (F.col("__docs") > min_docs).cast("long").alias("__b"),
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("__b").alias("n_boiler"),
        F.expr("(10000 * sum(__b)) div count(*)").alias("coverage_e4"),
    )
