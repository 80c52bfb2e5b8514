"""Unpersist audit: no algorithm run() may leave cached blocks behind.

Every persist point in the engine (DeltaLoad's delta, DeltaLakeLoad's
raw+condensed frames, FullMaterialization's to_cache) must be released
by the time run() returns — a long-lived session (thrift server, notebook, orchestrated
batch loop) would otherwise accumulate executor storage until eviction
thrash. The base Algorithm.run() owns the guarantee via the
``_persisted`` registry; this test pins it for the algorithms that
actually persist, so a future persist point cannot ship without joining
the registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from m3d_engine_spark.config import ParamsFile


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def _purge_persistent_rdds(spark) -> None:
    """Drop leftover persistent RDDs from OTHER tests (localCheckpoint
    blocks — e.g. the connected-components rounds — stay registered
    until the JVM ContextCleaner GCs them, which is timing-dependent).
    The audit's subject is what the algorithm UNDER TEST leaves behind,
    so the precondition must be enforced, not assumed."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()  # noqa: SLF001
    while it.hasNext():
        it.next()._2().unpersist(False)


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    _purge_persistent_rdds(spark)
    assert _n_persistent_rdds(spark) == 0
    yield
    spark.catalog.clearCache()


def test_append_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.append_load import AppendLoad

    src = tmp_path / "landing"
    src.mkdir()
    (src / "data_20240101.psv").write_text("1|a\n2|b\n")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "year", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "month", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "day", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    params = ParamsFile(
        {
            "source_dir": str(src),
            "target_location": str(tmp_path / "lake"),
            "file_format": "dsv",
            "delimiter": "|",
            "has_header": False,
            "schema": schema,
            "target_partitions": ["year", "month", "day"],
            "regex_filename": [
                "data_([0-9]{4})",
                "data_[0-9]{4}([0-9]{2})",
                "data_[0-9]{6}([0-9]{2})",
            ],
        }
    )
    AppendLoad(spark, params).run()
    assert _n_persistent_rdds(spark) == 0


def test_delta_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.delta_load import DeltaLoadAlgorithm as DeltaLoad

    delta_path = str(tmp_path / "delta")
    spark.createDataFrame(
        [
            Row(ts=1, k=1, v=10, date=20240101, recordmode="N"),
            Row(ts=2, k=2, v=20, date=20240102, recordmode=""),
        ]
    ).write.parquet(delta_path)
    spark.createDataFrame(
        [Row(k=3, v=30, date=20240101, year=2024, month=1, day=1)]
    ).write.mode("overwrite").partitionBy("year", "month", "day").saveAsTable(
        "audit_active"
    )
    params = ParamsFile(
        {
            "delta_records_file_path": delta_path,
            "active_records_table_lake": "audit_active",
            "business_key": ["k"],
            "technical_key": ["ts"],
            "target_partitions": ["year", "month", "day"],
            "partition_column": "date",
            "partition_column_format": "yyyyMMdd",
            "target_location": str(tmp_path / "out"),
            "load_mode": "OverwritePartitionsWithAddedColumns",
        }
    )
    try:
        DeltaLoad(spark, params).run()
        assert _n_persistent_rdds(spark) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_active")


def test_full_materialization_to_cache_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.materialization import FullMaterialization

    spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]).write.mode(
        "overwrite"
    ).saveAsTable("audit_src")
    params = ParamsFile(
        {
            "source_table": "audit_src",
            "target_dir": str(tmp_path / "mat"),
            "output_files_num": 1,
            "to_cache": True,
        }
    )
    try:
        FullMaterialization(spark, params).run()
        assert _n_persistent_rdds(spark) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_src")


def test_delta_lake_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.delta_lake_load import DeltaLakeLoadAlgorithm as DeltaLakeLoad

    src = tmp_path / "raw"
    spark.createDataFrame(
        [
            Row(ts=1, k=1, v=10, date=20240101, recordmode="N"),
            Row(ts=1, k=2, v=20, date=20240102, recordmode="N"),
        ]
    ).coalesce(1).write.json(str(src))
    params = ParamsFile(
        {
            "source_location": str(src),
            "file_format": "json",
            "delta_table_dir": str(tmp_path / "delta_table"),
            "target_location": str(tmp_path / "lake"),
            "business_key": ["k"],
            "technical_key": ["ts"],
            "record_mode_column": "recordmode",
            "target_partitions": ["year", "month", "day"],
            "partition_column": "date",
            "partition_column_format": "yyyyMMdd",
            "load_mode": "OverwritePartitions",
        }
    )
    DeltaLakeLoad(spark, params).run()
    assert _n_persistent_rdds(spark) == 0
