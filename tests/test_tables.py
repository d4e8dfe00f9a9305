"""parallelize_scan's split width, judged by partition counts."""

from __future__ import annotations

from sec_xbrl_finwarehouse_spark.sources.tables import parallelize_scan


def test_row_clamp_applies_to_many_small_files(spark, tmp_path):
    # 40 files of 5 rows: the byte estimate alone already reaches the
    # target, but 200 rows at 100 rows per split is 2 splits
    path = str(tmp_path / "small_files")
    spark.range(200).repartition(40).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 40
    out = parallelize_scan(df, target=8, min_split_rows=100)
    assert out.rdd.getNumPartitions() == 2


def test_many_files_without_row_clamp_are_left_alone(spark, tmp_path):
    path = str(tmp_path / "small_files")
    spark.range(200).repartition(40).write.parquet(path)
    df = spark.read.parquet(path)
    assert parallelize_scan(df, target=8) is df


def test_in_memory_frame_keeps_target_width(spark):
    # no input files: the row count is unknown, not zero
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    assert df.inputFiles() == []
    out = parallelize_scan(df, target=4, min_split_rows=1000)
    assert out.rdd.getNumPartitions() == 4
