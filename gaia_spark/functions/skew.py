"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly").

AQE's skew-join splitting (enabled in session.py) covers skewed SHUFFLE
partitions at join time; two-level aggregation over a Zipf-hot grouping
key (the top domain is ~30% of the corpus in the synthetic fixture, by
design) needs explicit code (SURVEY.md §4.3.1): ``salted_group_count``
aggregates (key, salt) partially, then merges per key — partial
map-side combine happens automatically, the salt bounds the final
reducer's key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_salt(df: DataFrame, salt_buckets: int):
    """Deterministic per-ROW salt: hash of the full row, not of the hot
    key (a key-derived salt would be constant per key and spread
    nothing).  Deterministic across retries because it is a pure
    function of row content."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns], F.lit(0x5417)),
        F.lit(salt_buckets),
    )


def salted_group_count(
    df: DataFrame, key: str, salt_buckets: int = 16
) -> DataFrame:
    partial = (
        df.withColumn("_salt", _row_salt(df, salt_buckets))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("count"))
