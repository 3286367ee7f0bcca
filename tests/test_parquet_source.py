"""parquet_source.table resolves each file's schema once per process:
the first read infers it from the footer (a Spark job), later reads
declare it and start no job, and a rewritten file is inferred again."""

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from big_datatrader_spark.sources.parquet_source import table


def _jobs_started(spark, *calls) -> list[int]:
    """Run each call under its own job group; return how many Spark jobs
    each one started."""
    sc = spark.sparkContext
    groups = [f"schema-cache-{uuid.uuid4().hex}" for _ in calls]
    sentinel = f"schema-cache-sentinel-{uuid.uuid4().hex}"
    try:
        for group, call in zip(groups, calls):
            sc.setJobGroup(group, "parquet schema cache test")
            call()
        # The status store applies listener events in order: once the
        # sentinel's job is visible, every job started above is too.
        sc.setJobGroup(sentinel, "parquet schema cache test sentinel")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return [len(tracker.getJobIdsForGroup(g)) for g in groups]


def _write_region(sf_dir, columns: dict) -> None:
    pq.write_table(pa.table(columns),
                   os.path.join(sf_dir, "region.parquet"))


def test_repeated_read_starts_no_job(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_region(sf_dir, {"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    first, second = _jobs_started(
        spark,
        lambda: table(spark, sf_dir, "region"),
        lambda: table(spark, sf_dir, "region"))
    assert first >= 1  # footer inference
    assert second == 0
    rows = table(spark, sf_dir, "region").orderBy("r_regionkey").collect()
    assert [tuple(r) for r in rows] == [(0, "A"), (1, "B")]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_region(sf_dir, {"r_regionkey": [0], "r_name": ["A"]})
    assert table(spark, sf_dir, "region").columns == ["r_regionkey",
                                                      "r_name"]
    _write_region(sf_dir, {"r_regionkey": [5, 6],
                           "r_name": ["E", "F"],
                           "r_comment": ["x", "y"]})
    df = table(spark, sf_dir, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [(5, "E", "x"),
                                                      (6, "F", "y")]
