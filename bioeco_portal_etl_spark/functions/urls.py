"""URL canonicalization — the normalization step in front of web-corpus
dedupe (the first dedupe tier every crawl pipeline runs: exact-match on
canonical URL, before any content hashing touches bytes).

Rules (the common-crawl style subset that is pure string algebra):
  - fragment dropped;
  - scheme and host lowercased; leading ``www.`` stripped;
  - default port stripped (``:80`` for http, ``:443`` for https);
  - duplicate path slashes collapsed, trailing slashes stripped;
  - tracking params (``utm_*``, ``fbclid``, ``gclid``, ``ref``) removed,
    remaining query params sorted (order-insensitive equality).

Everything is ``instr``/``substr``/``regexp_replace``/array ops — stays in
whole-stage codegen, so at 100 TB the canonicalizer runs inside the scan
stage at zero extra cost, exactly like the tokenizer (text/tokenize.py).
``duck_canonical_url`` emits the equivalent DuckDB expression so the
operator is oracle-checkable end-to-end; both sides share the 1-based
``instr``/``strpos`` and ``substr`` semantics, left-anchored regexes, and
binary string sort, which is what makes the mirror exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

TRACKING_RE = "^(utm_[^=]*|fbclid|gclid|ref)(=|$)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonicalize_urls(
    df, url_col, out_col: str = "canonical_url", keep: list[str] | None = None
):
    """Canonical form of an absolute ``scheme://host[:port]/path?query#frag``
    URL in ``out_col``. Null-safe: null in, null out. Strings without
    ``://`` (relative or malformed URLs) are returned UNCHANGED — guarded
    explicitly, because with instr()==0 the substring arithmetic would
    silently eat the first two characters and prepend '://'.

    Staged projections, not one Column: a single nested expression puts
    each stage inside the next (``rest`` references ``base`` twice,
    ``hostpath`` references ``rest`` twice, …), so the tree contains
    exponentially many copies of the input expression and codegen
    re-evaluates them all (measured ~10× slower at sf0.1 on the x10
    fixture). Here every stage is a NAMED column referenced multiply by
    the next projection — Catalyst's CollapseProject keeps
    multiply-referenced non-cheap aliases materialized (the same property
    text/dedupe.shingled relies on), so each stage computes exactly once
    per row."""
    keep = keep if keep is not None else [c for c in df.columns]
    u = _c(url_col)
    h = F.instr(u, "#")
    s1 = df.select(
        *keep,
        u.alias("__orig"),
        F.when(h > 0, F.substring(u, F.lit(1), h - 1)).otherwise(u).alias("__base"),
    )
    b = F.col("__base")
    p = F.instr(b, "://")
    s2 = s1.select(
        *keep,
        "__orig",
        (p > 0).alias("__abs"),
        F.lower(F.substring(b, F.lit(1), p - 1)).alias("__scheme"),
        F.substring(b, p + 3, F.length(b)).alias("__rest"),
    )
    r = F.col("__rest")
    qp = F.instr(r, "?")
    s3 = s2.select(
        *keep,
        "__orig",
        "__abs",
        "__scheme",
        F.when(qp > 0, F.substring(r, F.lit(1), qp - 1)).otherwise(r).alias("__hostpath"),
        F.when(qp > 0, F.substring(r, qp + 1, F.length(r)))
        .otherwise(F.lit(""))
        .alias("__query"),
    )
    hp = F.col("__hostpath")
    sl = F.instr(hp, "/")
    s4 = s3.select(
        *keep,
        "__orig",
        "__abs",
        "__scheme",
        "__query",
        F.when(sl > 0, F.substring(hp, F.lit(1), sl - 1)).otherwise(hp).alias("__host_raw"),
        F.when(sl > 0, F.substring(hp, sl, F.length(hp)))
        .otherwise(F.lit(""))
        .alias("__path_raw"),
    )
    s5 = s4.select(
        *keep,
        "__orig",
        "__abs",
        "__scheme",
        "__query",
        "__path_raw",
        F.regexp_replace(F.lower(F.col("__host_raw")), r"^www\.", "").alias("__host1"),
    )
    host = (
        F.when(
            F.col("__scheme") == "http",
            F.regexp_replace(F.col("__host1"), ":80$", ""),
        )
        .when(
            F.col("__scheme") == "https",
            F.regexp_replace(F.col("__host1"), ":443$", ""),
        )
        .otherwise(F.col("__host1"))
    )
    path = F.regexp_replace(
        F.regexp_replace(F.col("__path_raw"), "/{2,}", "/"), "/+$", ""
    )
    params = F.array_sort(
        F.filter(
            F.split(F.col("__query"), "&"),
            lambda t: (t != "") & ~t.rlike(TRACKING_RE),
        )
    )
    s6 = s5.select(
        *keep,
        "__orig",
        "__abs",
        "__scheme",
        host.alias("__host"),
        path.alias("__path"),
        F.array_join(params, "&").alias("__q"),
    )
    return s6.select(
        *keep,
        F.when(
            F.col("__abs"),
            F.concat(
                F.col("__scheme"),
                F.lit("://"),
                F.col("__host"),
                F.col("__path"),
                F.when(
                    F.col("__q") != "", F.concat(F.lit("?"), F.col("__q"))
                ).otherwise(F.lit("")),
            ),
        )
        .otherwise(F.col("__orig"))
        .alias(out_col),
    )


def duck_canonical_url(expr: str) -> str:
    """DuckDB expression mirroring :func:`canonicalize_urls` (oracle side).

    'g' flags on every regexp_replace: DuckDB replaces first-match by
    default while Spark replaces all — the mirror must match Spark."""
    base = f"CASE WHEN strpos({expr}, '#') > 0 THEN substr({expr}, 1, strpos({expr}, '#') - 1) ELSE {expr} END"
    t = f"""(
WITH x(u) AS (SELECT {base})
SELECT CASE WHEN strpos(u, '://') = 0 THEN {expr} ELSE
  lower(substr(u, 1, strpos(u, '://') - 1)) || '://' ||
  CASE lower(substr(u, 1, strpos(u, '://') - 1))
    WHEN 'http'  THEN regexp_replace(hostc, ':80$', '', 'g')
    WHEN 'https' THEN regexp_replace(hostc, ':443$', '', 'g')
    ELSE hostc END ||
  regexp_replace(regexp_replace(pathc, '/{{2,}}', '/', 'g'), '/+$', '', 'g') ||
  CASE WHEN qc <> '' THEN '?' || qc ELSE '' END
END
FROM (
  SELECT u,
    regexp_replace(lower(CASE WHEN strpos(hp, '/') > 0
         THEN substr(hp, 1, strpos(hp, '/') - 1) ELSE hp END), '^www\\.', '', 'g')
      AS hostc,
    CASE WHEN strpos(hp, '/') > 0 THEN substr(hp, strpos(hp, '/')) ELSE '' END
      AS pathc,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
         t -> t <> '' AND NOT regexp_matches(t, '{TRACKING_RE}'))), '&') AS qc
  FROM (
    SELECT u,
      CASE WHEN strpos(r, '?') > 0 THEN substr(r, 1, strpos(r, '?') - 1) ELSE r END AS hp,
      CASE WHEN strpos(r, '?') > 0 THEN substr(r, strpos(r, '?') + 1) ELSE '' END AS q
    FROM (SELECT u, substr(u, strpos(u, '://') + 3) AS r FROM x)
  )
))"""
    return t.replace("\n", " ")
