"""Date scalar functions.

Reference parity:
  - year_to_date -> notebooks/index.Rmd:103,182 (parse_date_time(orders="y"))
  - end_of_year  -> notebooks/index.Rmd:104,183 (ceiling_date(., "year") - days(1))

P9 boundary semantics (SURVEY.md §2.3): lubridate's ``ceiling_date`` rounds
**Date-class** inputs with change_on_boundary=TRUE (a Date represents the
whole day, so Jan 1's year-ceiling is the NEXT Jan 1). year_to_date always
produces Jan 1 of the year, so the reference's end-of-year is **Dec 31 of
the SAME year** — confirmed against the published run (docs/index.html:
ACCOBAMS end year 2018 -> 2018-12-31; pinned in
tests/test_reference_golden_counts.py). The change_on_boundary=FALSE
reading (Dec 31 of year-1) is wrong for Dates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def year_to_date(col: Column | str) -> Column:
    """Parse a year-precision string to Jan 1 of that year; non-year strings
    ("active", "current", "0", "NA") -> null."""
    c = F.trim(_c(col).cast("string"))
    year = F.regexp_extract(c, r"^(\d{4})(?:\.0)?$", 1)
    return F.when(
        year != "", F.to_date(F.concat(year, F.lit("-01-01")))
    ).otherwise(F.lit(None).cast("date"))


def end_of_year(col: Column | str) -> Column:
    """Reference semantics (lubridate ceiling_date on Date class,
    change_on_boundary=TRUE): ceiling to the NEXT year boundary, minus one
    day => Dec 31 of the SAME year."""
    d = _c(col)
    return F.to_date(F.concat(F.year(d).cast("string"), F.lit("-12-31")))
