"""load_table infers a single-file table's schema once: a repeat read of the
unchanged file starts no Spark job, a rewritten file is inferred afresh,
and directories keep Spark's own inference."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from apache_beam_challange_spark.sources import catalog
from apache_beam_challange_spark.sources.catalog import load_table


def _jobs_run_by(spark, fn):
    """(result of fn(), ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first = load_table(spark, str(tmp_path), "t")
    df, jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == []
    assert df.schema == first.schema
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_directory_table_reads_and_is_not_cached(spark, tmp_path):
    d = tmp_path / "t.parquet"
    spark.range(5).write.parquet(str(d))
    for _ in range(2):
        assert load_table(spark, str(tmp_path), "t").count() == 5
    assert not any(k[0] == os.path.abspath(d) for k in catalog._SCHEMA_CACHE)


def test_cached_read_keeps_nano_timestamp_conversion(spark, sf_dir):
    first = load_table(spark, sf_dir, "lineitem")
    again = load_table(spark, sf_dir, "lineitem")
    assert dict(again.dtypes)["l_shipdate"] == "timestamp_ntz"
    assert again.schema == first.schema
    agg = ("max(l_shipdate) AS m", "count(*) AS n")
    assert again.selectExpr(*agg).collect() == first.selectExpr(*agg).collect()


def test_ensure_session_confs_respects_builder_shuffle_partitions(spark):
    """The session is built with shuffle_partitions=8 (conftest). A runtime
    value equal to Spark's unset default must survive, because the
    builder set the key explicitly."""
    from apache_beam_challange_spark.session import ensure_session_confs

    key = "spark.sql.shuffle.partitions"
    assert spark.sparkContext.getConf().get(key) == "8"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        ensure_session_confs(spark)
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, prev)
