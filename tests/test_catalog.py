"""catalog.table: the parquet schema cache and input sizing off the
plain local path (``file://`` URIs, ``p``/``pb`` sizes, a zero split
size)."""

from __future__ import annotations

from conftest import SF_SMALL, count_jobs

from poet_cloud_cost_etl_spark.catalog import _parse_spark_bytes, load_tables, table


def test_schema_cache_skips_inference_until_the_file_changes(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "id * 2 AS x").write.parquet(path)

    jobs, first = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "cache-1")
    assert jobs >= 1  # inference
    jobs, second = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "cache-2")
    assert jobs == 0
    assert second.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(second.collect()) == sorted(first.collect())

    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS y").write.mode(
        "overwrite"
    ).parquet(path)
    jobs, third = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "cache-3")
    assert jobs >= 1  # rewritten: inferred again
    assert third.columns == ["id", "y"]
    assert third.count() == 5


def test_file_uri_reads_like_the_plain_path(spark):
    plain = table(spark, SF_SMALL, "orders")
    uri = table(spark, "file://" + SF_SMALL, "orders")
    assert uri.schema == plain.schema
    assert sorted(uri.collect()) == sorted(plain.collect())
    assert uri.__dict__["_sg_scan_est_splits"] == plain.__dict__["_sg_scan_est_splits"]


def test_load_tables_registers_file_uri_tables(spark):
    tables = load_tables(spark, "file://" + SF_SMALL)
    assert set(tables) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }


def test_parse_spark_bytes_peta_suffixes():
    assert _parse_spark_bytes("1p") == 1024**5
    assert _parse_spark_bytes("2PB") == 2 * 1024**5


def test_zero_max_partition_bytes_is_clamped(spark):
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "0")
        d = table(spark, SF_SMALL, "region")
        assert d.__dict__["_sg_scan_est_splits"] >= 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_other_schemes_read_through_spark_unstamped(spark, monkeypatch):
    """A scheme the local disk cannot serve (``s3a://``, ``hdfs://``)
    is checked for existence through Spark's Hadoop FileSystem and
    read with inference, without a split stamp. Simulated by hiding
    the local path of a ``file://`` URI from the catalog."""
    import poet_cloud_cost_etl_spark.catalog as cat

    monkeypatch.setattr(cat, "_local_path", lambda path: None)
    uri = "file://" + SF_SMALL
    assert len(cat.load_tables(spark, uri)) == 10
    assert not cat._exists(spark, uri + "/no_such_table.parquet")
    d = cat.table(spark, uri, "orders")
    assert "_sg_scan_est_splits" not in d.__dict__
    assert d.count() == 1500
