"""Load modes + atomic partition-overwrite protocol."""

import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode, write_output
from tests.conftest import multiset_equal


def _write(spark, tmp, rows, partition_cols, mode, **kw):
    w = AtomicWriter(spark, tmp, partition_columns=partition_cols, **kw)
    w.write(spark.createDataFrame(rows), mode)
    return spark.read.parquet(tmp)


def test_overwrite_table(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(a=1)], [], LoadMode.OVERWRITE_TABLE)
    out = _write(spark, tgt, [Row(a=2)], [], LoadMode.OVERWRITE_TABLE)
    assert [r.a for r in out.collect()] == [2]


def test_overwrite_partitions_replaces_only_affected(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016), Row(k=2, year=2017)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    out = _write(spark, tgt, [Row(k=99, year=2017)], ["year"], LoadMode.OVERWRITE_PARTITIONS)
    rows = {r.year: r.k for r in out.collect()}
    assert rows == {2016: 1, 2017: 99}


def test_overwrite_partitions_with_added_columns(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, extra="e", year=2016)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    # new data lacks `extra` → padded with NULL to the on-disk schema
    out = _write(
        spark, tgt, [Row(k=5, year=2016)], ["year"],
        LoadMode.OVERWRITE_PARTITIONS_WITH_ADDED_COLUMNS,
    )
    r = out.collect()[0]
    assert (r.k, r.extra, r.year) == (5, None, 2016)


def test_append_union_partitions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, year=2016), Row(k=2, year=2017)], ["year"], LoadMode.OVERWRITE_TABLE)
    out = _write(spark, tgt, [Row(k=3, year=2017)], ["year"], LoadMode.APPEND_UNION_PARTITIONS)
    expected = spark.createDataFrame([Row(k=1, year=2016), Row(k=2, year=2017), Row(k=3, year=2017)])
    assert multiset_equal(out.select("k", "year"), expected)


def test_append_join_partitions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, a="old", year=2016)], ["year"], LoadMode.OVERWRITE_TABLE)
    out = _write(
        spark, tgt, [Row(k=1, b="new", year=2016)], ["year"], LoadMode.APPEND_JOIN_PARTITIONS
    )
    r = out.collect()[0]
    assert (r.k, r.a, r.b) == (1, "old", "new")


def test_output_files_num_controls_file_count(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt, [Row(a=i) for i in range(100)], [],
        LoadMode.OVERWRITE_TABLE, output_files_num=3,
    )
    files = [f for f in os.listdir(tgt) if f.endswith(".parquet")]
    assert len(files) == 3


def test_empty_string_partition_value_commits(spark, tmp_path):
    """Spark writes '' partition values as __HIVE_DEFAULT_PARTITION__;
    the rename-based commit must target that directory, not 'col='
    (which raised FileNotFoundException mid-commit, or silently
    dropped the rows where rename returns false)."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, cust="a"), Row(k=2, cust="")],
        ["cust"], LoadMode.OVERWRITE_TABLE,
    )
    out = _write(
        spark, tgt, [Row(k=9, cust="")], ["cust"],
        LoadMode.OVERWRITE_PARTITIONS,
    )
    rows = {r.k: r.cust for r in out.collect()}
    # '' comes back as NULL (Hive default-partition round-trip)
    assert rows == {1: "a", 9: None}


def test_union_append_preserves_on_disk_only_columns(spark, tmp_path):
    """A batch missing a column that exists on disk must not destroy
    that column's data in the rewritten partitions."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016, address="x")],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    df = spark.createDataFrame([Row(k=2, year=2016)])
    AtomicWriter(spark, tgt, partition_columns=["year"]).write(
        df, LoadMode.APPEND_UNION_PARTITIONS
    )
    rows = {r.k: r.address for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "x", 2: None}


def test_affected_criteria_delete_emptied_partition(spark, tmp_path):
    """A CDC delta that deletes every row of a partition produces zero
    output rows there; passing the delta's criteria must still rewrite
    (i.e. remove) the partition instead of leaving its stale rows."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016), Row(k=2, year=2017)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    merged = spark.createDataFrame([Row(k=99, year=2017)])
    AtomicWriter(spark, tgt, partition_columns=["year"]).write(
        merged,
        LoadMode.OVERWRITE_PARTITIONS,
        affected=[[("year", 2016)], [("year", 2017)]],
    )
    rows = {r.year: r.k for r in spark.read.parquet(tgt).collect()}
    assert rows == {2017: 99}  # 2016 emptied, not stale


def _jobs_in(spark, action) -> int:
    """Spark jobs ``action`` launches, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "mode", [LoadMode.OVERWRITE_TABLE, LoadMode.OVERWRITE_PARTITIONS]
)
def test_failed_write_leaves_target_and_no_temp_dir(spark, tmp_path, mode):
    """A frame that raises while the temp dir is being written leaves
    the target as it was and no ``__tmp_``/``__bak_`` sibling."""
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, year=2016)], ["year"], LoadMode.OVERWRITE_TABLE)
    bad = spark.range(4).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("k"),
        F.lit(2016).alias("year"),
    )
    with pytest.raises(Exception, match="boom"):
        AtomicWriter(spark, tgt, partition_columns=["year"]).write(bad, mode)
    assert os.listdir(tmp_path) == ["t"]
    rows = {(r.k, r.year) for r in spark.read.parquet(tgt).collect()}
    assert rows == {(1, 2016)}


def test_partitions_missing_from_affected_still_commit(spark, tmp_path):
    """Caller criteria that leave out a partition the frame wrote must
    not drop its rows: the written partitions commit too."""
    tgt = str(tmp_path / "t")
    w = AtomicWriter(spark, tgt, partition_columns=["p"])
    w.write(
        spark.createDataFrame([Row(k=1, p="a"), Row(k=2, p="b")]),
        LoadMode.OVERWRITE_PARTITIONS,
        affected=[[("p", "a")]],
    )
    rows = {(r.k, r.p) for r in spark.read.parquet(tgt).collect()}
    assert rows == {(1, "a"), (2, "b")}
    assert sorted(w.last_affected) == [[("p", "a")], [("p", "b")]]


def test_overwrite_partitions_runs_as_one_plain_write(spark, tmp_path):
    """The partition rewrite of a post-shuffle frame costs no more jobs
    than a plain partitioned write of it, caches nothing, and keeps
    AQE's coalescing: one file per partition dir."""
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=0, year=2016)], ["year"], LoadMode.OVERWRITE_TABLE)
    df = (
        spark.range(3000)
        .select((F.col("id") % 50).alias("k"), (2016 + F.col("id") % 3).alias("year"))
        .groupBy("year", "k")
        .count()
    )
    plain = _jobs_in(
        spark, lambda: df.write.partitionBy("year").parquet(str(tmp_path / "plain"))
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached = persistent().size()
    atomic = _jobs_in(
        spark,
        lambda: AtomicWriter(spark, tgt, partition_columns=["year"]).write(
            df, LoadMode.OVERWRITE_PARTITIONS
        ),
    )
    assert atomic <= plain, (atomic, plain)
    assert persistent().size() == cached
    for year in (2016, 2017, 2018):
        files = [
            f for f in os.listdir(f"{tgt}/year={year}") if f.endswith(".parquet")
        ]
        assert len(files) == 1, (year, files)
    assert spark.read.parquet(tgt).count() == 150


def test_write_output_table_insert_runs_as_one_plain_insert(spark):
    """The partition-scoped insert learns which partitions it wrote from
    the insert job itself: with emptied partitions to drop, it costs no
    more jobs than a plain insert of the same frame."""
    table = "t_writers_insert_jobs"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        spark.createDataFrame(
            [(1, 2016), (2, 2017), (3, 2018)], "id INT, yr INT"
        ).write.partitionBy("yr").saveAsTable(table)
        batch = spark.range(100).select(
            F.col("id").cast("int").alias("id"), F.lit(2017).alias("yr")
        )
        plain = _jobs_in(
            spark, lambda: batch.write.insertInto(table, overwrite=False)
        )
        params = ParamsFile(
            {
                "target_table": table,
                "target_partitions": ["yr"],
                "load_mode": "OverwritePartitions",
            }
        )
        scoped = _jobs_in(
            spark,
            lambda: write_output(
                spark, batch, params, affected=[[("yr", 2017)], [("yr", 2018)]]
            ),
        )
        assert scoped <= plain, (scoped, plain)
        got = {
            (r.yr, r.n)
            for r in spark.table(table).groupBy("yr").agg(F.count("*").alias("n")).collect()
        }
        assert got == {(2016, 1), (2017, 100)}  # 2018 emptied and dropped
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _full_load_stats(spark, tmp_path, table, years):
    """FullLoad swap of ``years`` (year i holding i+1 rows) with
    compute_table_statistics; returns the jobs its ANALYZE step ran."""
    land = tmp_path / f"{table}_landing"
    land.mkdir()
    (land / "data.psv").write_text(
        "".join(
            f"{k}|{y}0101\n" for i, y in enumerate(years) for k in range(i + 1)
        )
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (k INT, orderdate INT, year INT) USING PARQUET "
        f"PARTITIONED BY (year) LOCATION '{tmp_path / table / '20000101_000000'}'"
    )
    from m3d_engine_spark.operators.full_load import FullLoad

    load = FullLoad(
        spark,
        ParamsFile(
            {
                "source_dir": str(land),
                "file_format": "dsv",
                "delimiter": "|",
                "target_table": table,
                "target_dir": str(tmp_path / table),
                "target_partitions": ["year"],
                "partition_column": "orderdate",
                "partition_column_format": "yyyyMMdd",
                "output_files_num": 2,
                "compute_table_statistics": True,
            }
        ),
    )
    analyze = load.update_statistics
    jobs = []
    load.update_statistics = lambda: jobs.append(_jobs_in(spark, analyze))
    load.run()
    assert len(jobs) == 1
    return jobs[0]


def _partition_rows(spark, table, year) -> str:
    return (
        spark.sql(f"DESCRIBE EXTENDED {table} PARTITION(year={year})")
        .filter(F.col("col_name") == "Partition Statistics")
        .collect()[0]["data_type"]
    )


def test_full_load_analyze_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """A full swap's ANALYZE covers every partition in one grouped query:
    as many jobs for 7 partitions as for 2, and every partition gets
    its row count."""
    few, many = list(range(2016, 2018)), list(range(2016, 2023))
    try:
        jobs_few = _full_load_stats(spark, tmp_path, "t_fl_stats_few", few)
        jobs_many = _full_load_stats(spark, tmp_path, "t_fl_stats_many", many)
        assert jobs_few == jobs_many, (jobs_few, jobs_many)
        for table, years in (("t_fl_stats_few", few), ("t_fl_stats_many", many)):
            for i, year in enumerate(years):
                stats = _partition_rows(spark, table, year)
                assert f"{i + 1} rows" in stats, (table, year, stats)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fl_stats_few")
        spark.sql("DROP TABLE IF EXISTS t_fl_stats_many")
