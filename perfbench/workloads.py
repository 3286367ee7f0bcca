"""The closed-loop workloads: their requests and layer probes.

A request is one call a user waits on.  ``run`` is timed, from the
first call into the program until the result is on the driver as a
pandas frame (for the CSV pipeline: until the export is written);
``result`` fetches what ``run`` produced for the check, untimed.

A probe times one module's public function from outside, on the same
inputs, in the traced run only.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

import pandas as pd

from . import datagen, oracle


# The seed-42 sf0.01 star test tables (TESTDATA.md), copied byte for
# byte (same md5 as bench.dataset_fingerprint gives for the original);
# this size keeps a run inside its time budget.
STAR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")
STAR_MD5 = "9a5ac2c5f506abe6255b0722b9312ef0"

# The CSV pipeline's inputs and filters (FIXTURES A1/A2).
OHLCV_SYMBOLS, OHLCV_BARS = 8, 10_000
FILTER_SPEC = {"volume": {"gt": 5.0}}
MIN_VOLUME = FILTER_SPEC["volume"]["gt"]


def ohlcv_window() -> tuple[int, int]:
    """Inclusive time range: the middle 80% of every series."""
    span = OHLCV_BARS * datagen.BAR_MS
    return (datagen.OHLCV_T0_MS + span // 10,
            datagen.OHLCV_T0_MS + span * 9 // 10)


def _utc(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1e3, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


@dataclass
class Request:
    name: str
    run: Callable[[object], object]
    result: Callable[[object], pd.DataFrame]
    expected: str


@dataclass
class Inputs:
    star_dir: str
    csv_dir: str | None
    out_dir: str


def filtered_ohlcv(spark, csv_dir: str):
    """CSV scan -> symbol from file name -> time range -> JSON filter."""
    from pyspark.sql import functions as F

    from big_datatrader_spark.operators import filters
    from big_datatrader_spark.sources import csv_source

    start, end = ohlcv_window()
    df = csv_source.read_ohlcv_csv(spark, os.path.join(csv_dir, "*.csv"))
    df = df.withColumn("symbol", F.regexp_extract(
        "src_file", r"([^/]+)\.csv$", 1))
    df = filters.time_range(df, _utc(start), _utc(end), col="time")
    return filters.apply_json_filter(df, FILTER_SPEC)


def _evenly(df):
    from big_datatrader_spark.operators import backtest
    return backtest.evenly_spaced_backtest(
        df, symbol_col="symbol", order_col="time", price_col="close",
        budget=oracle.BUDGET, per_trade=oracle.PER_TRADE)


def _crossover(df):
    from big_datatrader_spark.operators import backtest
    return backtest.ma_crossover_backtest(
        df, symbol_col="symbol", order_col="time", price_col="close",
        budget=oracle.BUDGET, per_trade=oracle.PER_TRADE, emit="positions")


def read_export(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    return oracle.normalize_export(
        pd.concat([pd.read_csv(p) for p in parts], ignore_index=True))


def requests(spec: Spec, reg, inputs: Inputs,
             expected: dict[str, str]) -> list[Request]:
    from big_datatrader_spark.sources import sinks

    out: list[Request] = []
    for name in spec.members:
        fn = reg[name].spark_fn
        out.append(Request(
            name,
            lambda spark, fn=fn: fn(spark, inputs.star_dir).toPandas(),
            lambda pdf: pdf, expected[name]))
    if spec.csv_pipeline:
        for name, backtest in (("csv_evenly_export", _evenly),
                               ("csv_ma_positions_export", _crossover)):
            path = os.path.join(inputs.out_dir, name)

            def run(spark, backtest=backtest, path=path):
                sinks.write_csv(backtest(filtered_ohlcv(spark, inputs.csv_dir)),
                                path, single_file=True)
                return path
            out.append(Request(name, run, read_export, expected[name]))
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_probes(spec: Spec, spark, inputs: Inputs,
               tracer) -> dict[str, float]:
    """Time the parquet scan of every table the workload reads, then
    the workload's own layers, each once under its own span; returns
    the counts the probes observe."""
    import pyarrow.parquet as pq

    from big_datatrader_spark.sources import parquet_source

    with tracer.span("sources.parquet_scan"):
        for t in spec.tables:
            _noop(parquet_source.table(spark, inputs.star_dir, t))
    paths = [os.path.join(inputs.star_dir, f"{t}.parquet")
             for t in spec.tables]
    counts = {
        "sources.scan_rows": sum(pq.ParquetFile(p).metadata.num_rows
                                 for p in paths),
        "sources.scan_bytes": sum(os.path.getsize(p) for p in paths),
    }
    for probe in spec.probes:
        counts.update(probe(spark, inputs, tracer))
    spark.catalog.clearCache()
    return counts


def _probe_trading(spark, inputs, tracer) -> dict[str, float]:
    from big_datatrader_spark.sources import sinks

    with tracer.span("sources.csv_decode"):
        _noop(filtered_ohlcv(spark, inputs.csv_dir))
    base = filtered_ohlcv(spark, inputs.csv_dir).cache()
    base.count()
    with tracer.span("operators.backtest_evenly"):
        _noop(_evenly(base))
    with tracer.span("operators.backtest_ma"):
        _noop(_crossover(base))
    positions = _crossover(base).cache()
    positions.count()
    path = os.path.join(inputs.out_dir, "probe_sink")
    with tracer.span("sources.sink_write"):
        sinks.write_csv(positions, path, single_file=True)
    positions.unpersist()
    base.unpersist()
    return {"sources.sink_bytes": sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*")))}


def _probe_graph(spark, inputs, tracer) -> dict[str, float]:
    from big_datatrader_spark.functions import graph
    from big_datatrader_spark.sources import parquet_source

    li = parquet_source.table(spark, inputs.star_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    with tracer.span("functions.graph.edge_build"):
        return {"functions.graph.edge_rows": graph.copurchase_pairs(
            li, "src", "dst").count()}


def _probe_llm(spark, inputs, tracer) -> dict[str, float]:
    from pyspark.sql import functions as F

    from big_datatrader_spark.functions import dedup, similarity, text
    from big_datatrader_spark.queries import llm_dedup, llm_similarity
    from big_datatrader_spark.sources import parquet_source

    docs = parquet_source.table(spark, inputs.star_dir, "documents")
    with tracer.span("functions.text.tokenize"):
        _noop(text.parallel_text_input(docs).select(
            "doc_id", text.tokens(F.col("text")).alias("toks")))
    with tracer.span("functions.dedup.minhash_signatures"):
        _noop(dedup.minhash_signatures(
            docs, text_col="text", id_col="doc_id",
            num_hashes=llm_dedup.NUM_HASHES))
    emb = parquet_source.table(spark, inputs.star_dir, "embeddings")
    with tracer.span("functions.similarity.brute_force_topk"):
        _noop(similarity.brute_force_topk(
            emb, query_ids=llm_similarity.QUERY_IDS, k=llm_similarity.K))
    return {}


@dataclass(frozen=True)
class Spec:
    name: str
    why: str
    members: tuple[str, ...]   # registered queries, one request each
    csv_pipeline: bool         # add the reference CSV flow's requests
    tables: tuple[str, ...]    # tables the members read (scan probe)
    # time the workload's own layers in the traced run; return counts
    probes: tuple[Callable[[object, Inputs, object], dict[str, float]], ...]


SPECS = {s.name: s for s in (
    Spec("trading_reference",
         "the reference's load, filter, backtest and export flow plus a "
         "star-schema join: scan/decode, window, Python fold, join/agg and "
         "write layers; no graph or text kernels",
         ("q3_top_unshipped_orders",),
         True,
         ("lineitem", "orders", "customer"),
         (_probe_trading,)),
    Spec("llm_graph",
         "text, dedup and vector kernels (HOF and Arrow UDF), driver collect "
         "of a large result and HITS on the co-purchase edge build with its "
         "exchanges and caches; no CSV, no backtest, no sink",
         ("text_token_stats", "winnowing_fingerprints", "dedup_minhash_lsh",
          "ann_bruteforce_topk", "knn_prototype_accuracy",
          "hits_hub_authority"),
         False, ("documents", "embeddings", "lineitem"),
         (_probe_llm, _probe_graph)),
)}
