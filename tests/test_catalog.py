"""Catalog stage writes: lineage from parquet footers, one Spark job per
write, and input fingerprints that see sub-second rewrites."""

import os

import pyarrow.parquet as pq

from gaia_spark.catalog import Catalog, input_fingerprint


def _pages(spark, n=300):
    return spark.createDataFrame(
        [(f"https://ex{i % 7}.com/p{i:04d}", ["en", "ru", "uk"][i % 3], i)
         for i in range(n)],
        "url string, lang string, v int").repartition(4)


def test_footer_lineage_is_per_output_file(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    m = cat.write(_pages(spark), "t", "h", "r1", partition_by=["lang"])
    root = cat.data_path("t")
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
        if f.endswith(".parquet"))
    assert [r["file"] for r in m["lineage"]] == files
    assert m["n_partitions"] == len(files) > 1
    assert m["rows"] == 300
    for r in m["lineage"]:
        urls = pq.read_table(os.path.join(root, r["file"]),
                             columns=["url"]).column("url").to_pylist()
        assert r["out_rows"] == len(urls)
        assert (r["key_min"], r["key_max"]) == (min(urls), max(urls))
    assert cat.lineage(spark).count() == len(files)


def test_lineage_key_absent_from_files(spark, tmp_path):
    """A lineage key that is a partition column is not in the files:
    bounds are None, counts still come from the footers."""
    cat = Catalog(str(tmp_path / "cat"))
    m = cat.write(_pages(spark), "t", "h", "r1", partition_by=["lang"],
                  lineage_key="lang")
    assert m["rows"] == 300
    assert all(r["key_min"] is None and r["key_max"] is None
               for r in m["lineage"])


def test_write_is_one_spark_job(spark, tmp_path):
    """The lineage needs no read-back job: a stage write is one job."""
    sc = spark.sparkContext
    df = spark.range(1000).selectExpr("cast(id as string) as url")
    cat = Catalog(str(tmp_path / "cat"))
    sc.setJobGroup("catalog_write_jobs", "catalog write")
    try:
        cat.write(df, "t", "h", "r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(
        "catalog_write_jobs")) == 1


def test_write_elapsed_counts_from_started(spark, tmp_path):
    import time

    cat = Catalog(str(tmp_path / "cat"))
    m = cat.write(spark.range(10).selectExpr("cast(id as string) as url"),
                  "t", "h", "r1", started=time.perf_counter() - 5.0)
    assert m["metrics"]["elapsed_sec"] >= 5.0


def test_input_fingerprint_sees_sub_second_mtime(tmp_path):
    """A same-size rewrite within one second must change the
    fingerprint, or a resume would accept stale checkpoints."""
    p = tmp_path / "pages.parquet"
    p.write_bytes(b"x" * 64)
    t = 1_700_000_000_000_000_000
    os.utime(p, ns=(t, t))
    before = input_fingerprint(str(p))
    os.utime(p, ns=(t + 1_000, t + 1_000))
    assert input_fingerprint(str(p)) != before
