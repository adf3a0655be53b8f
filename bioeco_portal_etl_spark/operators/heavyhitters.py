"""Certified exact heavy hitters: per-partition candidate generation +
exact recount, with a machine-checked completeness certificate.

The classic scale problem: "top-k most frequent keys" over a corpus whose
key cardinality (tokens, URLs, user-agents) is far larger than any
executor's memory. A plain ``groupBy(key).count()`` shuffles one partial
row per distinct key per partition — at 100 TB that exchange is the
bottleneck. The two-phase heavy-hitter plan (the Misra–Gries/SpaceSaving
family — Misra & Gries 1982, "Finding repeated elements") cuts the
shuffle to candidate keys only:

  1. CANDIDATES: each partition counts ITS OWN rows exactly (bounded by
     the partition's distinct keys — one Arrow pass, no shuffle) and
     emits only its local top-M, plus one RESIDUAL number: the largest
     count any non-emitted local key could have (= the M-th local count,
     0 if the partition had <= M distinct keys).
  2. RECOUNT: exact global counts of the candidate union via a broadcast
     semi filter + combinable groupBy — this shuffle carries candidate
     keys only (<= M x partitions rows instead of |vocab| x partitions).
  3. CERTIFICATE: a key absent from EVERY partition's top-M has global
     count <= Σ residuals. If the k-th recounted count is STRICTLY above
     that bound, the top-k is provably the exact global top-k (a
     non-candidate tying the k-th count could otherwise displace it on
     the key tie-break). The operator raises otherwise — it never
     silently returns an uncertified list; callers raise M or fall back
     to the full groupBy.

The candidate table is one bounded driver collect (<= M x partitions +
one residual row per partition) — the same bounded-driver-state class as
the k-means centroid fetch (similarity/kmeans.py); corpus rows never
leave the executors. Determinism: the output is the exact recount's
top-k (count DESC, key ASC), partition-layout-independent whenever the
certificate holds; local selection also orders (-count, key) so the
intermediate set is reproducible too.
"""

from __future__ import annotations

from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_CAND_SCHEMA = "key string, cnt long, residual long"


def certified_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    per_partition_m: int = 64,
) -> DataFrame:
    """Exact global top-``k`` (key, cnt, rank) of a string key column.

    Raises RuntimeError when the completeness certificate fails (k too
    close to per_partition_m for this key distribution)."""
    keys = df.select(F.col(key_col).cast("string").alias("key"))

    def local_top(batches: Iterator) -> Iterator:
        from collections import Counter

        import pandas as pd

        c: Counter = Counter()
        seen = False
        for pdf in batches:
            seen = True
            c.update(pdf["key"].dropna())
        if not seen:
            return
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        top, rest = ranked[:per_partition_m], ranked[per_partition_m:]
        residual = rest[0][1] if rest else 0
        yield pd.DataFrame(
            {
                "key": [t[0] for t in top] + [None],
                "cnt": [t[1] for t in top] + [0],
                "residual": [0] * len(top) + [residual],
            }
        )

    local = keys.mapInPandas(local_top, _CAND_SCHEMA).collect()
    cand_keys = sorted({r["key"] for r in local if r["key"] is not None})
    bound = sum(r["residual"] for r in local if r["key"] is None)
    cand = df.sparkSession.createDataFrame(
        [(c,) for c in cand_keys], "key string"
    )
    recount = (
        # acts in tx23's build-time collect: without it that collect broadcasts the keys instead (sf0.1)
        keys.join(F.broadcast(cand), "key")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = recount.orderBy(F.desc("cnt"), F.asc("key")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    out = top.withColumn("rank", F.row_number().over(w))
    rows = out.collect()
    if rows and bound and rows[-1]["cnt"] <= bound:
        raise RuntimeError(
            f"heavy-hitter certificate failed: kth count {rows[-1]['cnt']}"
            f" <= residual bound {bound}; raise per_partition_m"
        )
    return df.sparkSession.createDataFrame(rows, out.schema)
