"""Parquet star-schema source (driver testdata; TESTDATA.md).

Parquet scans get predicate pushdown, column pruning, and partition/row-
group pruning from Catalyst for free — at 100 TB the scan is the dominant
cost, so every query should select only the columns it needs and put
filters as early as possible (Catalyst will push them into the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..session import ensure_confs
from ..schemas import STAR_TABLES

# Columns stored as TIMESTAMP(NANOS) in the driver parquet. Spark reads
# them as int64 ns (legacy.parquet.nanosAsLong); we truncate ns -> us
# exactly like DuckDB does, so oracle comparisons see identical instants.
_NANOS_TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


# The confs that change what Spark infers from a parquet footer.
_SCHEMA_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",
                 "spark.sql.parquet.inferTimestampNTZ.enabled")

# (abs path, *_SCHEMA_CONFS values) -> ((st_mtime_ns, st_size), schema).
# One entry per file and conf combination: a rewritten file replaces
# its entry instead of adding one.
_SCHEMAS: dict[tuple, tuple[tuple[int, int], T.StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers for a local parquet path, inferred once
    per process. Inference reads the footer in a one-task Spark job;
    every later call for the same file returns the cached StructType,
    so a read declared with it launches no job. A file whose mtime or
    size changed is inferred again. Concurrent first calls may both
    infer; they store the same schema."""
    path = os.path.abspath(path)
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    key = (path, *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMAS[key] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in STAR_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {STAR_TABLES}")
    ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer DIV keeps full precision (ns epochs overflow double)
            df = df.withColumn(
                c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in STAR_TABLES}
