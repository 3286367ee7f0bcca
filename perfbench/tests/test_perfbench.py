"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import types

import numpy as np
import pandas as pd
import pytest

from perfbench import datagen, eventlog, oracle, run, tracing, workloads

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_byte_identical_csvs(tmp_path):
    a = datagen.ohlcv_csvs(str(tmp_path / "a"), 7, 3, 500)
    b = datagen.ohlcv_csvs(str(tmp_path / "b"), 7, 3, 500)
    c = datagen.ohlcv_csvs(str(tmp_path / "c"), 8, 3, 500)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_ohlcv_bars_hold_the_fixture_invariants(tmp_path):
    d = datagen.ohlcv_csvs(str(tmp_path), 3, 2, 2_000)
    for name in os.listdir(d):
        if not name.endswith(".csv"):
            continue
        df = pd.read_csv(os.path.join(d, name))
        assert list(df.columns) == ["time", "open", "high", "low", "close",
                                    "volume"]
        assert (np.diff(df["time"]) == datagen.BAR_MS).all()
        assert (df["high"] >= df[["open", "close"]].max(axis=1)).all()
        assert (df["low"] <= df[["open", "close"]].min(axis=1)).all()
        assert (df["low"] > 0).all() and (df["volume"] >= 0).all()


def test_star_tables_are_the_pinned_copy():
    import bench

    fp = bench.dataset_fingerprint(workloads.STAR_DIR)
    assert fp["content_md5"] == workloads.STAR_MD5
    assert fp["tables"]["lineitem"]["rows"] > 50_000


def _bars() -> pd.DataFrame:
    rng = np.random.default_rng(0)
    frames = []
    for sym in ("AAA", "BBB"):
        df = datagen.ohlcv_frame(rng, 400)
        df.insert(0, "symbol", sym)
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def test_value_hash_ignores_row_order_and_catches_a_changed_value():
    res = oracle.normalize_export(oracle.crossover_reference(_bars()))
    assert len(res) > 2
    shuffled = res.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert oracle.value_hash(shuffled) == oracle.value_hash(res)
    bad = res.copy()
    bad.loc[0, "exit_price"] += 0.01
    assert oracle.value_hash(bad) != oracle.value_hash(res)


class _FakeSpark:
    """Just the session surface ``Run.one_pass`` touches."""

    def __init__(self):
        self.tags: list[str] = []
        self.sparkContext = types.SimpleNamespace(
            addJobTag=self.tags.append, removeJobTag=self.tags.remove)
        self.catalog = types.SimpleNamespace(clearCache=lambda: None)


def test_a_perturbed_result_counts_as_failed():
    good = oracle.evenly_reference(_bars())
    bad = good.assign(roi=good["roi"] + 1e-3)
    expected = oracle.value_hash(good)

    def boom(_spark):
        raise RuntimeError("executor lost")

    r = run.Run(workloads.SPECS["llm_graph"], seed=1, seconds=1,
                trace=False)
    r.requests = [
        workloads.Request("ok", lambda s: good, lambda x: x, expected),
        workloads.Request("wrong", lambda s: bad, lambda x: x, expected),
        workloads.Request("raises", boom, lambda x: x, expected),
    ]
    spark = _FakeSpark()
    r.one_pass(spark, "m", 0)
    assert (r.attempted, r.failed) == (3, 2)
    assert list(r.latency) == ["ok"]
    assert spark.tags == []


def test_printed_metric_names_match_benchmark_json():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.SPECS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units(workloads.SPECS.values())


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct = run.tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10
    # too few samples for a percentile at or above the median: the max
    assert run.tail(xs[:15]) == (15.0, 100.0)


def _task(stage: int, **kw) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": eventlog.PY_RUN_MS, "Update": str(kw.get("py_ms", 0))},
            {"Name": eventlog.PY_BYTES_IN, "Update": str(kw.get("py_b", 0))},
        ]},
        "Task Metrics": {
            "Executor Run Time": kw.get("run_ms", 0),
            "Executor CPU Time": kw.get("cpu_ns", 0),
            "JVM GC Time": kw.get("gc_ms", 0),
            "Result Size": kw.get("result", 0),
            "Disk Bytes Spilled": kw.get("spill", 0),
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": kw.get("sw_b", 0),
                "Shuffle Records Written": kw.get("sw_r", 0)},
            "Shuffle Read Metrics": {"Fetch Wait Time": kw.get("fw_ms", 0)},
        }}


def test_eventlog_sums_a_known_job():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": "other,perfbench-m-0-q"}},
        _task(0, run_ms=1500, cpu_ns=10**9, gc_ms=100, sw_b=1000, sw_r=10),
        _task(0, run_ms=500, sw_b=24, sw_r=2, py_ms=250, py_b=4096),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(1, result=77, fw_ms=30, spill=5),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_3_0", "Memory Size": 300, "Disk Size": 0}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_3_0", "Memory Size": 0, "Disk Size": 0}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "broadcast_1", "Memory Size": 999, "Disk Size": 0}},
        # a job without the benchmark's tag belongs to the running request
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(2, run_ms=1000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.job.tags": "perfbench-probes"}},
        _task(3, run_ms=9000),
    ]
    got = eventlog.per_tag(iter(events), "perfbench-")
    assert set(got) == {"perfbench-m-0-q", "perfbench-probes"}
    q = got["perfbench-m-0-q"]
    assert q["tasks"] == 4 and q["stages"] == 3
    assert q["run_s"] == pytest.approx(3.0)
    assert q["cpu_s"] == pytest.approx(1.0)
    assert q["gc_s"] == pytest.approx(0.1)
    assert (q["shuffle_write_bytes"], q["shuffle_write_records"]) == (1024, 12)
    assert q["fetch_wait_s"] == pytest.approx(0.03)
    assert (q["spill_bytes"], q["result_bytes"]) == (5, 77)
    assert q["python_run_s"] == pytest.approx(0.25)
    assert q["python_bytes_in"] == 4096
    assert q["block_bytes"] == 300
    assert eventlog.total(got)["run_s"] == pytest.approx(12.0)


def test_self_time_subtracts_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    self_s = {s["id"]: s["self_s"] for s in tracing.with_self_time(spans)}
    assert self_s == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
