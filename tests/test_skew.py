"""M4 skew hygiene: a Zipf-hot key concentrates without a salt; salted
counts stay exact."""

import pytest
from pyspark.sql import functions as F

from gaia_spark.functions.skew import salted_group_count


@pytest.fixture(scope="module")
def skewed_df(spark):
    """One domain owns 50% of rows (harsher than the corpus's 30%)."""
    rows = [(f"u{i}", "hot.example" if i % 2 == 0
             else f"site{i % 37}.example") for i in range(4000)]
    return spark.createDataFrame(rows, "url string, parent_uid string")


def test_unsalted_repartition_concentrates(spark, skewed_df):
    """Control: hash-partitioning by key alone puts the hot key on ONE
    partition — the straggler reducer salted_group_count's salt
    spreads."""
    parts = (
        skewed_df.repartition(16, F.col("parent_uid"))
        .filter(F.col("parent_uid") == "hot.example")
        .select(F.spark_partition_id().alias("pid"))
        .distinct().collect()
    )
    assert len(parts) == 1


def test_salted_group_count_exact(spark, skewed_df):
    plain = {r.parent_uid: r["count"] for r in
             skewed_df.groupBy("parent_uid").count().collect()}
    salted = {r.parent_uid: r["count"] for r in
              salted_group_count(skewed_df, "parent_uid",
                                 salt_buckets=8).collect()}
    assert salted == plain
