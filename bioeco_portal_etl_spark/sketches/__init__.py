"""Distributed data sketches — sublinear-state summaries for 100 TB scans.

Exact distinct counts, heavy hitters, and membership at corpus scale force
either a full shuffle of the key domain or unbounded executor state; the
sketches here bound BOTH at a few KB per group while staying pure Column
algebra (map-side combinable, whole-stage codegen, no UDFs, no driver
state):

  - :mod:`kmv`   — K-Minimum-Values distinct-count sketch (Bar-Yossef et
    al. 2002): per-group state is the k smallest 60-bit hashes.
  - :mod:`hll`   — HyperLogLog registers (Flajolet et al. 2007): per-group
    state is m=64 max-rank bytes.
  - :mod:`cms`   — Count-Min sketch (Cormode & Muthukrishnan 2005): a d*w
    counter grid with min-over-rows point estimates.
  - :mod:`bloom_md5` — Bloom membership gate with md5-derived positions
    (Kirsch-Mitzenmacher double hashing), so a second engine rebuilds the
    identical bitset.

Engine exactness: every hash is md5-derived (byte-identical in DuckDB),
every estimate either stays in 64-bit integer arithmetic or performs a
single IEEE +-*/ chain on exactly-representable operands — never a
transcendental — so the DuckDB oracles reproduce the sketches bit-for-bit,
false positives and estimation error included.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: 2^60 — the hash domain size; exactly representable as a double (power of
#: two), so double arithmetic against it rounds identically in any engine.
H60_DOMAIN = 1 << 60


def h60(c: Column) -> Column:
    """60-bit uniform hash of a string column: first 15 hex chars of md5 as
    a long. Identical to the MinHash base hash (text/dedupe.py) so the
    DuckDB mirror (``duck_h60``) is already proven byte-equal."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def duck_h60(expr: str) -> str:
    """DuckDB expression mirroring :func:`h60` — folds the first 15 hex
    chars of md5 into a bigint (no base-16 conv builtin in DuckDB)."""
    return (
        "list_reduce(list_transform(range(1, 16),"
        f" i -> strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1),"
        " (a, b) -> a * 16 + b)"
    )
