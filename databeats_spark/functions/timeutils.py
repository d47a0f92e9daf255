"""Time/scalar functions (SURVEY §2.9).

The reference buckets dates into weeks with row-wise ``.apply``
lambdas (reference dag.py:69-76); here the week index is a single
codegen'd expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS_PER_WEEK = 7 * 24 * 3600


def _c(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def week_index(col: str | Column) -> Column:
    """Dense integer week number since epoch (Mondays map to distinct
    consecutive ints) — the period index for streak/islands logic."""
    return F.floor(F.unix_timestamp(F.date_trunc("week", _c(col))) / SECONDS_PER_WEEK).cast("long")
