"""Bloom membership gate with md5-derived positions.

One scan of the history folds bit positions into 64-bit words via
``groupBy(word).agg(bit_or)``; membership is a broadcast join of the word
table against the batch's exploded positions. The hash family is
md5-derived so a second engine can rebuild the identical bitset and
reproduce membership decisions bit-for-bit — false positives included.
That turns the Bloom from a property-tested component into a hash-gated
one.

Packing: 60 bits per word, not 64 — DuckDB range-checks ``1 << 63``
(signed overflow), and 60 keeps every shift strictly positive-safe in
both engines with no semantic loss (m is sized in bits regardless).

Double hashing (Kirsch & Mitzenmacher 2006): position_i = (h1 + i*h2)
mod m with h1, h2 two independent md5 prefixes — all k functions from two
digests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bioeco_portal_etl_spark.sketches import h60

WORD_BITS = 60


def bloom_build_md5(
    history: DataFrame, key_col: Column | str, m_bits: int, k: int
) -> DataFrame:
    """(word, bits) bitset over the history keys: one scan, map-side
    bit_or combine, <= ceil(m_bits/60) rows out of the shuffle."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    # h1/h2 materialized as named columns: referencing them from inside
    # the transform() lambda would re-run the md5 chain per array element
    # (k times) — the CollapseProject trap (see cms_build)
    pos = history.select(
        h60(c.cast("string")).alias("__h1"),
        h60(F.concat(F.lit("b2:"), c.cast("string"))).alias("__h2"),
    ).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(F.col("__h1") + i * F.col("__h2"), F.lit(m_bits)),
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr(f"pos div {WORD_BITS}").alias("word"),
            F.expr(f"shiftleft(1L, CAST(pos % {WORD_BITS} AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_contains_md5(
    batch: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int,
    k: int,
    out_col: str = "possibly_seen",
) -> DataFrame:
    """Append ``out_col`` (boolean): every one of the key's k bits is set.
    The word table broadcasts (bounded by m_bits/60 rows); the only
    shuffle is the groupBy collapsing the k probes per batch row."""
    keyed = batch.select(
        key_col,
        h60(F.col(key_col).cast("string")).alias("__h1"),
        h60(F.concat(F.lit("b2:"), F.col(key_col).cast("string"))).alias(
            "__h2"
        ),
    ).select(
        key_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(F.col("__h1") + i * F.col("__h2"), F.lit(m_bits)),
            )
        ).alias("pos"),
    ).select(
        key_col,
        F.expr(f"pos div {WORD_BITS}").alias("word"),
        (F.col("pos") % WORD_BITS).cast("int").alias("bitpos"),
    )
    # shiftright() takes a Python int shift; a per-row shift count needs the
    # SQL form. bits is always >= 0 (max bit index 59 < sign bit).
    probed = keyed.join(bloom, "word", "left").select(
        key_col,
        F.coalesce(
            F.expr("shiftright(bits, bitpos) % 2 != 0"), F.lit(False)
        ).alias("__hit"),
    )
    hits = probed.groupBy(key_col).agg(
        F.min(F.col("__hit").cast("int")).alias("__all")
    )
    return batch.join(hits, key_col, "left").withColumn(
        out_col, F.coalesce(F.col("__all") == 1, F.lit(False))
    ).drop("__all")


def duck_bloom(
    history_select: str, batch_table: str, key_expr: str, m_bits: int, k: int
) -> str:
    """DuckDB CTE body mirroring build + membership; exposes
    ``bloomed(key, possibly_seen)``. ``history_select`` must project one
    column named ``key``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h1 = duck_h60("CAST(key AS VARCHAR)")
    h2 = duck_h60("'b2:' || CAST(key AS VARCHAR)")
    return f"""
hkeys AS ({history_select}),
hpos AS (
  SELECT unnest(list_transform(range(0, {k}),
           i -> ({h1} + i * {h2}) % {m_bits})) AS pos
  FROM hkeys
),
bloom AS (
  SELECT pos // {WORD_BITS} AS word,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM hpos GROUP BY pos // {WORD_BITS}
),
bkeys AS (SELECT {key_expr} AS key FROM {batch_table}),
bpos AS (
  SELECT key,
         unnest(list_transform(range(0, {k}),
           i -> ({h1} + i * {h2}) % {m_bits})) AS pos
  FROM bkeys
),
bloomed AS (
  SELECT p.key,
         min(CASE WHEN b.bits IS NOT NULL
                   AND (b.bits >> CAST(p.pos % {WORD_BITS} AS INT)) % 2 <> 0
              THEN 1 ELSE 0 END) = 1 AS possibly_seen
  FROM bpos p LEFT JOIN bloom b ON b.word = p.pos // {WORD_BITS}
  GROUP BY p.key
)"""
