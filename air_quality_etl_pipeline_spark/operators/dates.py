"""Date-derivation operators (reference X4-X6 and the dim_date build;
X12's month truncation lives in the ``month_rollup`` query).

The reference derives ``year, month, dayofmonth, dayofweek, quarter``,
month/day display names and an ``is_weekend`` flag when building
``dim_date`` (``Notebooks/Batch_Silver_to_Gold.Notebook/
notebook-content.py:76-83``; ``Automated_Silver_to_Gold:128-135``).

Weekend semantics: Spark's ``dayofweek`` is 1=Sunday … 7=Saturday, so
weekend = ``{1, 7}``. The reference's two variants disagree (batch uses
``{6,7}`` under a wrong "1=Monday" comment, automated uses ``{1,7}``);
we implement the correct automated variant, per SURVEY §2.2 X6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_date_parts(df: DataFrame, date_col: str, prefix: str = "") -> DataFrame:
    """X4/X5/X6 — attach year/month/day/quarter parts, display names and
    the weekend flag for *date_col*."""
    c = F.col(date_col)
    return df.withColumns(
        {
            f"{prefix}year": F.year(c),
            f"{prefix}month": F.month(c),
            f"{prefix}day": F.dayofmonth(c),
            f"{prefix}quarter": F.quarter(c),
            f"{prefix}month_name": F.date_format(c, "MMMM"),
            f"{prefix}day_name": F.date_format(c, "EEEE"),
            f"{prefix}day_of_week": F.dayofweek(c),
            f"{prefix}is_weekend": F.dayofweek(c).isin(1, 7),
        }
    )

