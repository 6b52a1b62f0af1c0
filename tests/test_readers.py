"""Scan contract of ``sources.readers.read_parquet_table``: a file's schema
is inferred at most once per process, every read is still a fresh relation,
and a SQL query registers only the tables it reads."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from inf_553_datamining_mapreduce_spark.plans.sql import run_sql
from inf_553_datamining_mapreduce_spark.schemas import TESTDATA_SCHEMAS
from inf_553_datamining_mapreduce_spark.sources.readers import (
    _stat_signature,
    read_parquet_table,
)


def _read_counting_jobs(spark, sf_dir, name, group):
    """``read_parquet_table`` under its own job group -> (df, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = read_parquet_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The tracker is fed asynchronously by the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_runs_no_job_and_rewrite_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "t", "readers-first")
    assert jobs == 1 and df.dtypes == [("a", "bigint")]
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "t", "readers-repeat")
    assert jobs == 0 and sorted(r["a"] for r in df.collect()) == [1, 2]

    # A rewrite (new size and mtime) must not be read with the old schema.
    pq.write_table(pa.table({"a": ["x"], "b": [1.5]}), path)
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "t", "readers-rewrite")
    assert jobs == 1 and df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_events_repeat_read_runs_no_job_and_ts_stays_timestamp(spark, sf_dir):
    first = read_parquet_table(spark, sf_dir, "events")
    again, jobs = _read_counting_jobs(spark, sf_dir, "events", "readers-events")
    assert jobs == 0
    for df in (first, again):
        assert dict(df.dtypes)["ts"] == "timestamp"


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    a = read_parquet_table(spark, sf_dir, "lineitem")
    b = read_parquet_table(spark, sf_dir, "lineitem")
    on = (a.l_orderkey == b.l_orderkey) & (a.l_linenumber == b.l_linenumber)
    keys = a.groupBy("l_orderkey", "l_linenumber").count().collect()
    assert a.join(b, on).count() == sum(r["count"] ** 2 for r in keys)


def test_run_sql_registers_only_the_tables_it_reads(spark, sf_dir):
    for t in TESTDATA_SCHEMAS:
        spark.catalog.dropTempView(t)
    run_sql(spark, sf_dir, "pricing_summary_sql")
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(TESTDATA_SCHEMAS) == {"lineitem"}


def test_stat_signature_sizes_a_directory_table_by_its_part_files(tmp_path):
    table = tmp_path / "t.parquet"
    (table / "k=1").mkdir(parents=True)
    (table / "part-0.parquet").write_bytes(b"x" * 100)
    (table / "k=1" / "part-1.parquet").write_bytes(b"y" * 50)
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0.parquet.crc").write_bytes(b"c" * 12)

    sig = _stat_signature(str(table))
    assert [(n, size) for n, size, _ in sig] == [
        ("k=1/part-1.parquet", 50),
        ("part-0.parquet", 100),
    ]
    assert sum(size for _, size, _ in sig) == 150

    (table / "part-0.parquet").write_bytes(b"x" * 101)
    assert _stat_signature(str(table)) != sig
    single = table / "part-0.parquet"
    assert _stat_signature(str(single)) == (
        ("", 101, single.stat().st_mtime_ns),
    )
    assert _stat_signature(str(tmp_path / "missing.parquet")) is None
