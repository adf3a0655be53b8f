"""Consistent-hash ring sharding — placement planning with a movement
certificate.

Plain modulo sharding (``hash(key) % N``) remaps nearly EVERY key when N
changes; the consistent-hash ring (Karger et al. 1997) remaps ~1/(N+1)
of them, which is why it underlies memcached/Dynamo/Cassandra placement.
This module builds the ring relationally — V virtual nodes per shard,
positions from the engine's md5 h60, a key routes to the first vnode
clockwise — and emits the two tables a capacity plan needs:

- the per-shard balance audit (row counts + share, the reason virtual
  nodes exist: V=1 gives wildly uneven arcs), and
- the MOVEMENT certificate between ring(N) and ring(N+1): the measured
  fraction of keys whose shard changed, which the consistent-hashing
  contract says should be ~ 1/(N+1) — and which modulo sharding fails
  catastrophically (the certified-approximation pattern: the operator
  ships with the check that proves its reason to exist).

Everything is md5-exact: ring positions and key hashes reproduce in the
DuckDB oracle bit-for-bit. The ring itself is tiny (N*V rows) and rides
broadcast joins; keys are never shuffled by ring position.

Routing form: a key at position p routes to the vnode with the SMALLEST
position >= p, wrapping to the global minimum — expressed as one
min(CASE) aggregate over the broadcast ring per key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.sketches import h60

RING_MOD = 1_000_000_007  # ring positions in [0, RING_MOD)


def hash_ring(spark, n_shards: int, vnodes: int = 16) -> DataFrame:
    """(shard, vpos): the ring — V deterministic md5 positions per
    shard, derived from the literal string 'shard:<s>:<v>'."""
    rows = [(s, v) for s in range(n_shards) for v in range(vnodes)]
    base = spark.createDataFrame(rows, "shard long, vnode long")
    return base.select(
        "shard",
        (
            h60(F.concat_ws(":", F.lit("shard"), F.col("shard"), F.col("vnode")))
            % RING_MOD
        ).alias("vpos"),
    )


def ring_assign(
    df: DataFrame, key_col: str, ring: DataFrame, out_col: str = "shard"
) -> DataFrame:
    """Route every key to its ring shard: keys hash to [0, RING_MOD);
    the owner is the vnode at the smallest position >= the key's, wrap
    to the ring minimum. The ring broadcasts; per key the routing is a
    min(CASE) + a wrap fallback in ONE grouped aggregate."""
    keyed = df.select(
        F.col(key_col).alias("__k"),
        (h60(F.col(key_col).cast("string")) % RING_MOD).alias("__kpos"),
    )
    # the ring cross-join multiplies rows N*V-fold BEFORE the per-key
    # fold — if the key source arrives as a handful of input splits (one
    # small parquet file), that explosion runs in a handful of tasks.
    # Spread the keys first when the input is narrower than the cluster;
    # at real scale inputs have plenty of splits and this is a no-op.
    sc = df.sparkSession.sparkContext
    if keyed.rdd.getNumPartitions() < sc.defaultParallelism:
        keyed = keyed.repartition(sc.defaultParallelism, "__k")
    # without the hint x39 broadcasts the keyed rows instead of the ring
    j = keyed.join(F.broadcast(ring), how="cross")
    per_key = j.groupBy("__k", "__kpos").agg(
        F.min(
            F.when(F.col("vpos") >= F.col("__kpos"), F.col("vpos"))
        ).alias("__own_pos"),
        F.min("vpos").alias("__min_pos"),
        F.min(
            F.when(
                F.col("vpos") >= F.col("__kpos"),
                F.col("vpos") * F.lit(1_000_000) + F.col("shard"),
            )
        ).alias("__own_enc"),
        F.min(F.col("vpos") * F.lit(1_000_000) + F.col("shard")).alias(
            "__wrap_enc"
        ),
    )
    # owner = encoded (pos, shard) min — the shard rides the low digits so
    # position ties (never expected with md5) break deterministically
    return per_key.select(
        F.col("__k").alias(key_col),
        (
            F.coalesce(F.col("__own_enc"), F.col("__wrap_enc"))
            % F.lit(1_000_000)
        )
        .cast("long")
        .alias(out_col),
    )


def resharding_report(
    df: DataFrame, key_col: str, ring_a: DataFrame, ring_b: DataFrame
) -> DataFrame:
    """The movement certificate: route the same keys through ring A and
    ring B and report (n_keys, n_moved, moved_e6) — consistent hashing
    promises moved_e6 ~= 1e6/(N_b) when one shard is added."""
    a = ring_assign(df, key_col, ring_a, "shard_a")
    b = ring_assign(df, key_col, ring_b, "shard_b")
    both = a.join(b, key_col)
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("shard_a") != F.col("shard_b")).cast("long"))
        .cast("long")
        .alias("n_moved"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN shard_a != shard_b THEN 1 ELSE 0 END))"
            " div count(1) AS BIGINT)"
        ).alias("moved_e6"),
    )


def duck_ring(n_shards: int, vnodes: int = 16) -> str:
    """DuckDB expression for the ring as a VALUES-free CTE body; exposes
    ``ring_{n_shards}(shard, vpos)``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60(f"concat_ws(':', 'shard', shard, vnode)")
    return f"""ring_{n_shards} AS (
  SELECT shard, ({h}) % {RING_MOD} AS vpos
  FROM (SELECT unnest(range(0, {n_shards})) AS shard),
       (SELECT unnest(range(0, {vnodes})) AS vnode)
)"""


def duck_ring_assign(keys_sql: str, ring_name: str, out: str) -> str:
    """CTE body routing ``keys_sql`` (must project ``k``) through
    ``ring_name``; exposes ``{out}(k, shard)``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60("CAST(k AS VARCHAR)")
    return f"""__ka_{out} AS (
  SELECT k, ({h}) % {RING_MOD} AS kpos FROM ({keys_sql})
),
{out} AS (
  SELECT k,
         CAST(coalesce(
           min(CASE WHEN vpos >= kpos THEN vpos * 1000000 + shard END),
           min(vpos * 1000000 + shard)
         ) % 1000000 AS BIGINT) AS shard
  FROM __ka_{out} CROSS JOIN {ring_name}
  GROUP BY k, kpos
)"""
