"""Cross-engine deterministic hashing primitives.

Everything in the dedup / fingerprinting operator family
(operators/dedup.py, operators/textstats.py) must be *bit-identical*
between Spark and the DuckDB differential oracle (SURVEY.md §5.2.1), and
identical regardless of partitioning. Engine-native hashes differ
(Spark xxhash64/murmur3 vs DuckDB's internal hash), so all content hashes
here derive from **md5**, which both engines expose with identical UTF-8
semantics. A 60-bit integer is taken from the first 15 hex chars:

    Spark : cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)
    DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)::BIGINT

60 bits always fits a signed 64-bit int, so no overflow on either side.

This is the slow-path-free design: md5 is a JVM intrinsic inside
whole-stage codegen — no Python UDFs anywhere in the hash pipeline
(SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: number of value bits in a content hash (15 hex chars)
HASH_BITS = 60


def hash60(col: Column, prefix: str = "") -> Column:
    """60-bit deterministic content hash of a string column (md5-derived)."""
    s = F.concat(F.lit(prefix), col) if prefix else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str, prefix: str = "") -> str:
    """Spark SQL string form of :func:`hash60` (for selectExpr pipelines)."""
    s = f"concat('{prefix}', {expr})" if prefix else expr
    return f"cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"


def duck_hash60_sql(expr: str, prefix: str = "") -> str:
    """DuckDB SQL producing the identical 60-bit hash (oracle side)."""
    s = f"concat('{prefix}', {expr})" if prefix else expr
    return f"CAST(('0x' || substr(md5({s}), 1, 15)) AS UBIGINT)::BIGINT"


def quantize_sql(expr: str, scale: int = 1_000_000) -> str:
    """Spark SQL: quantize a float to a scaled bigint.

    ``floor(x*scale + 0.5)`` (not ``round``) so both engines share one
    deterministic convention; integer arithmetic downstream is then exact
    and order-independent — the trick that makes cosine similarity
    hash-comparable across engines (operators/similarity.py).
    """
    return f"cast(floor(cast({expr} as double) * {scale} + 0.5) as bigint)"
