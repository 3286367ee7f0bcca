"""Structured Streaming variants of the batch pipeline (engine
capability beyond the strictly-batch reference; SURVEY.md §2.9).

The events table replayed as a file stream: explicit schema (never
inferred — a streaming source cannot re-scan), event-time watermark for
late data, tumbling-window aggregation. ``availableNow`` drains all
existing files and stops, which makes the streaming result comparable
to (and oracle-checked against) the batch rollup.

At scale the same code runs against a Kafka source with
``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` bounding batch size and
the watermark bounding state; the aggregation state lives in the state
store, partitioned by group key.
"""

from __future__ import annotations

import collections
import os
import sys
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..session import ensure_confs
from ..sources.parquet_source import parquet_schema

# Drain-time executed-plan capture: a streaming query's physical plan
# only exists once a micro-batch has run, so the registry-wide plan
# gate (which walks lazy batch plans) cannot see it. Every drain helper
# records the executed plan of its StreamingQuery here; the streaming
# plan audit (tests/test_streaming_plans.py) clears the list, drains a
# query, and asserts over what actually ran. Bounded (the audit reads
# plans recorded since its own clear; a long-lived session that drains
# streams forever must not grow a plan-text list without limit).
DRAIN_PLANS: collections.deque = collections.deque(maxlen=32)


def _record_drain_plan(q) -> None:
    try:
        DRAIN_PLANS.append(q._jsq.explainInternal(False))
    except Exception:
        pass  # no batch executed (empty source) — nothing to audit


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Explicit source schema (a streaming source cannot infer). The
    driver testdata has stored ts as TIMESTAMP(NANOS) — surfacing as
    int64 ns under legacy.parquet.nanosAsLong — in some generations and
    TIMESTAMP(MICROS) in others, so take ts's type from the footer
    (the same cached resolver as sources/parquet_source.table)."""
    probed = parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = next(f.dataType for f in probed.fields if f.name == "ts")
    return T.StructType([
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", ts_type, True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ])


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_confs(spark)
    schema = _events_stream_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(raw.dtypes)["ts"] == "bigint":  # int64 ns at rest
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return raw


def hourly_rollup_stream(df: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts/sums per event_type with a 2-hour
    watermark (late rows beyond it are dropped once state advances)."""
    return (
        df.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type",
                "n_events", "sum_value")
    )


def running_position_stream(df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running position (cumulative purchase value minus cumulative
    error penalty), state carried across micro-batches.

    This is the streaming analog of the backtest fold (U2): per-key
    sequential state, parallel across keys, state bounded by key
    cardinality (GroupState timeout would evict idle users in a
    production deployment).

    Environment bound (verified round 7): Spark 4.1's successor API,
    ``transformWithStateInPandas`` (typed ValueState/ListState/MapState,
    timers, TTL), is present in this PySpark build but its state-server
    protocol requires the ``protobuf`` Python package, which this
    container does not ship (`import google.protobuf` fails; the
    driver worker crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_
    FAILURE before the first batch). Same class of bound as the
    JPEG/FLAC codecs in functions/multimodal.py — the
    applyInPandasWithState kernel here carries the custom-stateful
    coverage instead.
    """
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)
    import numpy as np
    import pandas as pd

    out_schema = ("user_id long, n_events long, position double")
    # position accumulates in integer 1e-6 units (state stays exact):
    # per-event contributions are rounded half-away-from-zero to micros
    # BEFORE summing, so the final position is independent of event
    # arrival order / micro-batch boundaries — the streaming result is
    # bit-identical to the batch integer-scaled sum (the q9/q11 cents
    # pattern), which is what makes an exact SQL oracle possible for a
    # stateful stream.
    state_schema = "n long, pos_micro long"

    def _micros(x: np.ndarray) -> np.ndarray:
        # half-away-from-zero, matching Spark/DuckDB ROUND (numpy's
        # np.round is banker's and would disagree on exact halves)
        return (np.floor(np.abs(x) + 0.5) * np.sign(x)).astype("int64")

    def update(key, pdfs, state: GroupState):
        n, pos_micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            et = pdf["event_type"].to_numpy()
            v = pdf["value"].to_numpy(dtype="float64")
            n += len(v)
            pos_micro += int(_micros(v * 1000000.0)[et == "purchase"].sum())
            pos_micro -= int(_micros(0.1 * v * 1000000.0)[et == "error"]
                             .sum())
        state.update((n, pos_micro))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "position": [pos_micro / 1000000.0]})

    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def _await_drain(q, timeout_sec: int) -> None:
    """awaitTermination with the timeout outcome made loud:
    ``awaitTermination(timeout)`` returns False on timeout with the
    query STILL RUNNING, and every drain helper here reads its sink
    right after — a silent timeout would hand a partial table to the
    oracle gate and surface as a baffling hash mismatch instead of
    the real failure (ADVICE r12 #4)."""
    if not q.awaitTermination(timeout_sec):
        raise TimeoutError(
            f"streaming drain {q.name or q.id} still running after "
            f"{timeout_sec}s — refusing to read a partial sink")


def run_stream_to_memory(result: DataFrame, spark: SparkSession,
                         timeout_sec: int = 120,
                         output_mode: str = "complete",
                         shuffle_partitions: int | None = None
                         ) -> DataFrame:
    """Drain the stream with availableNow into a memory sink; return the
    materialized result as a batch DataFrame.

    ``shuffle_partitions`` scopes a state-store partition count to THIS
    drain: the conf is set just before ``start()`` (stream state-store
    partitioning is fixed at stream start from shuffle.partitions) and
    restored after the drain, so a streaming query can size its state
    store without leaking the setting into whatever runs next on the
    session."""
    name = "s" + uuid.uuid4().hex[:12]
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key) if shuffle_partitions is not None \
        else None
    if shuffle_partitions is not None:
        spark.conf.set(conf_key, str(shuffle_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_drain(q, timeout_sec)
            _record_drain_plan(q)
        finally:
            if q.isActive:
                q.stop()
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)
    return spark.table(name)


def run_stream_until_count(result: DataFrame, spark: SparkSession,
                           expected_rows: int, timeout_sec: int = 120,
                           output_mode: str = "append",
                           shuffle_partitions: int | None = None
                           ) -> DataFrame:
    """Drain a MULTI-BATCH stream (processingTime trigger) into a
    memory sink until it holds ``expected_rows`` rows, then stop.

    For Python stream sources, Spark's micro-batch wrapper downgrades
    ``availableNow`` to a single batch (SimpleDataSourceStreamReader
    has no batch planner), so multi-batch offset progression needs a
    real processingTime-triggered StreamingQuery. Determinism does not
    depend on trigger timing: each ``read()`` advances the offset by
    the source's fixed ``batch`` rows, so batch boundaries — and
    therefore watermark progression and append-mode emission — are
    the same on every run. ``expected_rows`` must be derived from the
    source contract (never from a previous run); on timeout the sink's
    partial contents are returned and the oracle gate flags the
    shortfall."""
    import time

    name = "s" + uuid.uuid4().hex[:12]
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key) if shuffle_partitions is not None \
        else None
    if shuffle_partitions is not None:
        spark.conf.set(conf_key, str(shuffle_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + timeout_sec
            while time.time() < deadline:
                if spark.table(name).count() >= expected_rows:
                    break
                time.sleep(0.2)
            else:
                # drain shortfall: make it attributable HERE instead of
                # only later at the oracle gate (ADVICE r8 #4) — the
                # partial sink is still returned, so the gate's row
                # record stays intact
                got = spark.table(name).count()
                print(f"run_stream_until_count: deadline "
                      f"({timeout_sec}s) expired with {got}/"
                      f"{expected_rows} rows in sink {name!r} — "
                      "returning partial contents",
                      file=sys.stderr)
            q.processAllAvailable()
            _record_drain_plan(q)
        finally:
            if q.isActive:
                q.stop()
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)
    return spark.table(name)


def run_stream_merge_to_parquet(result: DataFrame, spark: SparkSession,
                                path: str, key_cols: list[str],
                                timeout_sec: int = 120) -> DataFrame:
    """Drain the stream through a foreachBatch MERGE into a parquet
    store keyed by ``key_cols``: per micro-batch, existing keys win
    (first-write semantics) and only new keys append.

    This is the production streaming-upsert sink shape: availableNow +
    foreachBatch gives exactly-once PER BATCH (Spark retries a failed
    batch; the key-anti-join makes the merge idempotent, so a retried
    batch can't duplicate). At scale the store is a partitioned/
    bucketed table and the merge is a key-partition-local anti-join;
    here: read-union-overwrite on a local dir, same semantics. Returns
    the final store as a batch DataFrame."""
    import os
    import shutil

    def merge(batch: DataFrame, batch_id: int) -> None:
        b = batch.dropDuplicates(key_cols)
        if os.path.isdir(path):
            cur = batch.sparkSession.read.parquet(path)
            add = b.join(cur.select(*key_cols), key_cols, "left_anti")
            merged = cur.unionByName(add).localCheckpoint(eager=True)
        else:
            merged = b.localCheckpoint(eager=True)
        tmp = path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        # Commit by renames only: park the old store aside, move the
        # new one in, delete the backup LAST. A crash can then leave a
        # stale .bak or an extra tmp dir, but never a checkpoint that
        # marks the batch done while the store itself is gone (the
        # rmtree-then-rename ordering had that data-loss window).
        bak = path + ".bak"
        if os.path.isdir(bak):
            shutil.rmtree(bak)
        if os.path.isdir(path):
            os.rename(path, bak)
        os.rename(tmp, path)
        if os.path.isdir(bak):
            shutil.rmtree(bak)

    q = (result.writeStream.foreachBatch(merge)
         .trigger(availableNow=True)
         .option("checkpointLocation", path + ".ckpt")
         .start())
    try:
        _await_drain(q, timeout_sec)
        _record_drain_plan(q)
    finally:
        if q.isActive:
            q.stop()
    return spark.read.parquet(path)


def run_stream_latest_merge_to_parquet(
        result: DataFrame, spark: SparkSession, path: str,
        key_col: str, order_cols: list[str],
        timeout_sec: int = 120) -> DataFrame:
    """foreachBatch MERGE with LATEST-WINS semantics: per micro-batch,
    reduce the batch to one row per key (max over the ``order_cols``
    struct — a total order, so no dropDuplicates nondeterminism), union
    with the store, and keep each key's maximum again. The reduction is
    associative and commutative, so the final store is independent of
    batch boundaries and retries — which is what makes an EXACT batch
    oracle possible for this sink (contrast the first-write-wins sink
    above, whose within-batch winner is order-undefined). Commit is the
    same rename-with-backup dance (crash-safe w.r.t. the checkpoint)."""
    import os
    import shutil

    payload = [c for c in result.columns if c != key_col]
    if list(result.columns[:1]) != [key_col]:
        result = result.select(key_col, *payload)

    def latest(df: DataFrame) -> DataFrame:
        s = F.max(F.struct(*order_cols,
                           *[c for c in payload
                             if c not in order_cols])).alias("__s")
        red = df.groupBy(key_col).agg(s)
        return red.select(key_col,
                          *[F.col(f"__s.{c}").alias(c)
                            for c in payload])

    def merge(batch: DataFrame, batch_id: int) -> None:
        cand = latest(batch)
        if os.path.isdir(path):
            cur = batch.sparkSession.read.parquet(path)
            cand = latest(cur.unionByName(cand))
        merged = cand.localCheckpoint(eager=True)
        tmp = path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        bak = path + ".bak"
        if os.path.isdir(bak):
            shutil.rmtree(bak)
        if os.path.isdir(path):
            os.rename(path, bak)
        os.rename(tmp, path)
        if os.path.isdir(bak):
            shutil.rmtree(bak)

    q = (result.writeStream.foreachBatch(merge)
         .trigger(availableNow=True)
         .option("checkpointLocation", path + ".ckpt")
         .start())
    try:
        _await_drain(q, timeout_sec)
        _record_drain_plan(q)
    finally:
        if q.isActive:
            q.stop()
    return spark.read.parquet(path)
