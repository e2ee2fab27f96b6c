"""Projection / rename / cast surface (SURVEY.md §2.2 P1-P7).

The reference's normalize step (oracle_to_snowflake.py:38-43): conditional
``EVENT_DATE -> DT`` rename for the documented schema drift, plus a
defensive date cast. Here as pure, lazy Column ops — no row loops
(the reference's row-wise coercions at oracle_to_snowflake.py:90-102 are
replaced by column casts, SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import ADS_DATA


def rename_if_present(df: DataFrame, old: str, new: str) -> DataFrame:
    """Reference P4 (oracle_to_snowflake.py:39-40): rename only when the
    source actually carries the drifted name."""
    cols = {c.lower() for c in df.columns}
    if old.lower() in cols and new.lower() not in cols:
        return df.withColumnRenamed(old, new)
    return df


def normalize_ads_df(df: DataFrame) -> DataFrame:
    """Bring any ads_data-shaped input (CSV/JDBC/parquet, possibly with the
    EVENT_DATE drift or string dates) to the canonical ADS_DATA schema.

    Mirrors reference steps: rename (oracle_to_snowflake.py:39-40), date
    cast (:43), numeric coercions (insert_ads_data.py:42-49) — all as one
    lazy projection that Catalyst collapses into the scan.
    """
    df = rename_if_present(df, "EVENT_DATE", "dt")
    lower = {c.lower(): c for c in df.columns}
    projections = []
    for field in ADS_DATA.fields:
        src = lower.get(field.name)
        if src is None:
            raise ValueError(f"missing column {field.name!r}; have {df.columns}")
        col = F.col(src)
        if field.dataType.simpleString() == "date":
            col = F.to_date(col)  # accepts date, timestamp, 'yyyy-MM-dd' string (F7/F9)
        else:
            col = col.cast(field.dataType)
        projections.append(col.alias(field.name))
    return df.select(*projections)
