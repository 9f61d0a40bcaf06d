"""Session-level settings the catalog derives from its input."""

from __future__ import annotations

from aquiles_etl_pipeline_spark.session import tune_batch_shuffle_partitions

KEY = "spark.sql.shuffle.partitions"


def test_shuffle_partitions_untouched_without_measurable_input(spark, tmp_path):
    """A dataset dir that is missing, remote, or empty gives no byte
    count to size from, so the setting must stay what it was."""
    empty = tmp_path / "empty"
    empty.mkdir()
    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "13")
    try:
        for data_dir in (tmp_path / "missing", "s3a://bucket/sf0.1", empty):
            tune_batch_shuffle_partitions(spark, str(data_dir))
            assert spark.conf.get(KEY) == "13", data_dir
    finally:
        spark.conf.set(KEY, before)


def test_shuffle_partitions_sized_from_local_bytes(spark, tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x" * 1024)
    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "13")
    try:
        tune_batch_shuffle_partitions(spark, str(tmp_path))
        par = spark.sparkContext.defaultParallelism
        assert spark.conf.get(KEY) == str(max(1, par // 8))
    finally:
        spark.conf.set(KEY, before)
