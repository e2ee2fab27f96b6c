"""Incremental ("new rows only") load — the reference's only join, J1.

Reference semantics (insert_ads_data.py:30-31; oracle_to_snowflake.py:84-86):
left-join source against the target's key projection with an indicator, keep
``left_only``, i.e. a LEFT ANTI JOIN on the 4-column composite key. Re-runs
are idempotent: second run inserts 0 rows (oracle_to_snowflake.py:87).

Scale strategy (SURVEY.md §7.3): the join strategy decision belongs to the
RUNTIME, not to a driver-side probe. AQE (on in session.py, and on by
default in Spark 4) observes the actual shuffle-map sizes and converts the
sort-merge anti-join to a broadcast hash join when the key side fits under
``spark.sql.autoBroadcastJoinThreshold`` — no extra job, no scan of the
target before the real work starts. (v1 ran a ``count()`` probe here: at
100 TB that is a full scan of the key column per load, strictly worse than
letting AQE decide from sizes it already measured.)

On a Delta/Iceberg table the same semantics are `MERGE WHEN NOT MATCHED
THEN INSERT`; this module is the pure-Spark strategy that needs no extra
table format.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from ..schemas import ADS_KEY_COLS


def incremental_delta(source: DataFrame, existing_keys: DataFrame,
                      key_cols: list[str] | None = None) -> DataFrame:
    """Rows of ``source`` whose composite key is absent from
    ``existing_keys`` (reference J1).

    ``existing_keys`` may be a full target table; it is pruned to the key
    columns before the join (the reference's manual column pruning at
    oracle_to_snowflake.py:78 — Catalyst would prune anyway, but pruning
    before a broadcast also shrinks the broadcast payload). AQE picks
    broadcast-vs-SMJ from measured shuffle sizes, which is the right
    call at every scale without any extra probe job.
    """
    keys = key_cols or ADS_KEY_COLS
    return source.join(existing_keys.select(*keys), on=keys, how="left_anti")


def _read_target_keys(spark, target_path: str, keys: list[str]) -> DataFrame | None:
    """Key projection of the target, or None when the target does not
    exist yet. Any OTHER read failure (corrupt footer, permissions,
    transient IO) re-raises: silently treating it as "no target" would
    append the entire source and break the exactly-once-effect contract.
    """
    try:
        return spark.read.parquet(target_path).select(*keys)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        if cond == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def incremental_append(source: DataFrame, target_path: str,
                       key_cols: list[str] | None = None,
                       partition_by: list[str] | None = None) -> int:
    """Full J1+S7 pipeline against a parquet target dir: compute delta vs
    the current target, append it, return the appended row count (the
    reference logs this count at oracle_to_snowflake.py:87,112).

    First run (no target yet) appends everything.
    """
    spark = source.sparkSession
    keys = key_cols or ADS_KEY_COLS
    existing = _read_target_keys(spark, target_path, keys)
    delta = source if existing is None else incremental_delta(source, existing, keys)
    # Persist the delta before counting+writing so the anti-join runs once.
    delta = delta.cache()
    n = delta.count()
    if n:
        w = delta.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target_path)
    delta.unpersist()
    return n
