"""Backtest semantics: golden values vs an independent pandas
re-implementation of the reference (main.py:349-486), plus the
partition-invariance property the reference's benchmark tab implies
(main.py:590-618)."""

import pandas as pd
import pytest

from big_datatrader_spark.operators.backtest import (
    evenly_spaced_backtest, ma_crossover_backtest)
from big_datatrader_spark.sources.parquet_source import table

BUDGET, PER_TRADE = 10_000.0, 1_000.0


# --- independent golden implementations (straight from the reference
# semantics; deliberately loop-based, not shared with the engine code) ---

def golden_evenly_spaced(pdf: pd.DataFrame, budget, per_trade,
                         max_trades=None, order=("ts",)):
    pdf = pdf.sort_values(list(order)).reset_index(drop=True)
    n = len(pdf)
    if max_trades is not None:
        step = max(n // max_trades, 1)
        eff = max_trades
    else:
        step = 10
        eff = int(budget // per_trade)
    buys = pdf.iloc[::step]
    if buys.empty:
        return budget, 0.0
    k = min(len(buys), eff, int(budget // per_trade))
    # a zero-price buy is executed but buys no shares (the engine's
    # documented try_divide contract, shared with the DuckDB oracles)
    prices = buys["value"].head(k)
    shares = (per_trade / prices[prices != 0]).sum()
    final_price = pdf["value"].iloc[-1]
    final_value = (budget - k * per_trade) + shares * final_price
    roi = (final_value - budget) / budget * 100
    return final_value, roi


def golden_ma_crossover(pdf: pd.DataFrame, budget, per_trade,
                        max_trades=None):
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    close = pdf["value"]
    s = close.rolling(5, min_periods=1).mean()
    l = close.rolling(20, min_periods=1).mean()
    cash, in_pos, entry, trades = budget, False, 0.0, 0
    n_positions = 0
    for i in range(1, len(pdf)):
        if max_trades is not None and trades >= max_trades:
            break
        if (not in_pos and s.iloc[i-1] <= l.iloc[i-1]
                and s.iloc[i] > l.iloc[i]):
            if cash >= per_trade:
                in_pos, entry = True, close.iloc[i]
                trades += 1
                n_positions += 1
                cash -= per_trade
        elif (in_pos and s.iloc[i-1] >= l.iloc[i-1]
                and s.iloc[i] < l.iloc[i]):
            in_pos = False
            cash += per_trade / entry * close.iloc[i]
    if in_pos:
        cash += per_trade / entry * close.iloc[-1]
    return cash, (cash - budget) / budget * 100, n_positions


@pytest.fixture(scope="module")
def ticks(spark, sf0001):
    return table(spark, sf0001, "events").select("user_id", "ts", "value")


@pytest.fixture(scope="module")
def ticks_pdf(ticks):
    return ticks.toPandas()


def test_evenly_spaced_matches_golden(ticks, ticks_pdf):
    got = {r["user_id"]: (r["final_value"], r["roi"])
           for r in evenly_spaced_backtest(
               ticks, symbol_col="user_id", order_col="ts",
               price_col="value", budget=BUDGET,
               per_trade=PER_TRADE).collect()}
    for uid, g in ticks_pdf.groupby("user_id"):
        fv, roi = golden_evenly_spaced(g, BUDGET, PER_TRADE)
        assert got[uid][0] == pytest.approx(fv, rel=1e-12), uid
        assert got[uid][1] == pytest.approx(roi, rel=1e-12), uid


def test_evenly_spaced_max_trades_matches_golden(ticks, ticks_pdf):
    got = {r["user_id"]: r["final_value"]
           for r in evenly_spaced_backtest(
               ticks, symbol_col="user_id", order_col="ts",
               price_col="value", budget=BUDGET, per_trade=PER_TRADE,
               max_trades=5).collect()}
    for uid, g in ticks_pdf.groupby("user_id"):
        fv, _ = golden_evenly_spaced(g, BUDGET, PER_TRADE, max_trades=5)
        assert got[uid] == pytest.approx(fv, rel=1e-12), uid


def _series(uid, prices):
    return [(uid, t, t, p) for t, p in enumerate(prices)]


_ZERO_PRICED = [5.0 + i for i in range(25)]
_ZERO_PRICED[10] = 0.0  # the second buy

# name -> ((user_id, ts, event_id, value) rows, backtest kwargs,
#          expected (n_buys, trades_executed) of every symbol)
_EVENLY_EDGE_CASES = {
    "budget_below_per_trade": (
        _series(1, [10.0 + i for i in range(30)]), {"budget": 500.0},
        (0, 0)),
    "zero_price_buy": (_series(1, _ZERO_PRICED), {}, (3, 3)),
    # 7 rows, max_trades=8: step = max(7 // 8, 1) = 1, so 7 buys < 8
    "max_trades_above_n_buys": (
        _series(1, [3.0, 4.0, 2.0, 5.0, 6.0, 1.5, 7.0]),
        {"max_trades": 8}, (7, 7)),
    "one_row_series": (
        _series(1, [42.0]) + _series(2, [8.0]), {"max_trades": 3},
        (1, 1)),
    # timestamps tie in runs of 4 and only the descending event_id
    # orders rows within a run; buys at positions 0, 10 and 20 and the
    # last row all fall inside tied runs
    "tied_timestamps_composite_key": (
        [(1, i // 4, 100 - i, 10.0 + (i * 7) % 13) for i in range(26)],
        {"order": ("ts", "event_id")}, (3, 3)),
}


@pytest.mark.parametrize("case", sorted(_EVENLY_EDGE_CASES))
def test_evenly_edge_cases_match_golden(spark, case):
    rows, kw, expected = _EVENLY_EDGE_CASES[case]
    budget = kw.get("budget", BUDGET)
    max_trades = kw.get("max_trades")
    order = kw.get("order", ("ts",))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id",
                                      "value"])
    df = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=7),
        "user_id long, ts long, event_id long, value double")
    got = {r["user_id"]: r for r in evenly_spaced_backtest(
        df, symbol_col="user_id", order_col=list(order),
        price_col="value", budget=budget, per_trade=PER_TRADE,
        max_trades=max_trades).collect()}
    assert set(got) == set(pdf["user_id"])
    for uid, g in pdf.groupby("user_id"):
        fv, roi = golden_evenly_spaced(g, budget, PER_TRADE, max_trades,
                                       order=order)
        r = got[uid]
        assert (r["n_buys"], r["trades_executed"]) == expected, uid
        assert r["total_invested"] == expected[1] * PER_TRADE
        assert r["final_value"] == pytest.approx(fv, rel=1e-12), uid
        assert r["roi"] == pytest.approx(roi, rel=1e-12, abs=1e-12), uid


def test_evenly_is_one_scan_and_one_exchange(ticks):
    """The backtest is one window pass: the executed plan scans the
    source once and shuffles once (the per-symbol aggregate reuses the
    window's hash partitioning; no second scan for the last price, no
    join)."""
    import re

    from big_datatrader_spark.plans.explain import physical_plan

    res = evenly_spaced_backtest(
        ticks, symbol_col="user_id", order_col="ts", price_col="value",
        budget=BUDGET, per_trade=PER_TRADE)
    res.collect()
    final = physical_plan(res).split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bScan \w+ *\(\d+\)", final)) == 1, final
    assert len(re.findall(r"\bExchange \(\d+\)", final)) == 1, final


# pandas' rolling().mean() and a left-to-right window sum disagree on
# this series' 24th row: the 5- and 20-bar means tie exactly in decimal
# (27.23508), pandas rounds them equal, the left-to-right sums give
# 27.23508 < 27.235080000000004 — so the crossover at the next row
# differs. Minute bars of a seeded random walk, four-decimal prices.
_MA_TIE_PRICES = [
    27.6329, 27.6658, 27.65, 27.5234, 27.3586, 27.3191, 27.1744, 27.2375,
    27.2264, 27.1294, 27.0715, 27.2027, 27.1529, 27.1164, 27.0932,
    27.2811, 27.4017, 27.3417, 27.4196, 27.3263, 27.2368, 27.2388,
    27.163, 27.2105, 27.2513,
]


def test_ma_crossover_modes_agree_at_exact_mean_tie(spark):
    pdf = pd.DataFrame({"symbol": "SYM", "time": range(len(_MA_TIE_PRICES)),
                        "close": _MA_TIE_PRICES})
    df = spark.createDataFrame(pdf, "symbol string, time long, close double")
    kw = dict(symbol_col="symbol", order_col="time", price_col="close",
              budget=BUDGET, per_trade=PER_TRADE, emit="positions")
    full = [tuple(r) for r in ma_crossover_backtest(
        df, mode="full", **kw).collect()]
    comp = [tuple(r) for r in ma_crossover_backtest(
        df, mode="compressed", **kw).collect()]
    assert full == comp
    # the death cross lands on the tie row itself (time 23), not after
    assert [r[3] for r in comp] == [23]


def test_ma_crossover_compressed_equals_full(ticks):
    """The event-compressed path (JVM cross detection, Python fold over
    events only) must reproduce the full-series kernel exactly."""
    kw = dict(symbol_col="user_id", order_col="ts", price_col="value",
              budget=BUDGET, per_trade=PER_TRADE)
    full = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="full", **kw).collect()))
    comp = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="compressed", **kw).collect()))
    assert full == comp
    # positions too, incl. forced final close rows
    fullp = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="full", emit="positions", **kw).collect()))
    compp = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="compressed", emit="positions", **kw).collect()))
    assert fullp == compp


def test_ma_crossover_compressed_max_trades(ticks):
    kw = dict(symbol_col="user_id", order_col="ts", price_col="value",
              budget=BUDGET, per_trade=PER_TRADE, max_trades=2)
    full = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="full", **kw).collect()))
    comp = sorted(map(tuple, ma_crossover_backtest(
        ticks, mode="compressed", **kw).collect()))
    assert full == comp


def test_ma_crossover_matches_golden(ticks, ticks_pdf):
    got = {r["user_id"]: (r["final_value"], r["roi"], r["n_trades"])
           for r in ma_crossover_backtest(
               ticks, symbol_col="user_id", order_col="ts",
               price_col="value", budget=BUDGET,
               per_trade=PER_TRADE).collect()}
    assert len(got) == ticks_pdf["user_id"].nunique()
    for uid, g in ticks_pdf.groupby("user_id"):
        fv, roi, n = golden_ma_crossover(g, BUDGET, PER_TRADE)
        assert got[uid][0] == pytest.approx(fv, rel=1e-12), uid
        assert got[uid][2] == n, uid


def test_ma_crossover_positions_close_out(ticks):
    pos = ma_crossover_backtest(
        ticks, symbol_col="user_id", order_col="ts", price_col="value",
        budget=BUDGET, per_trade=PER_TRADE, emit="positions").collect()
    assert len(pos) > 0
    # forced final close (main.py:432-439): every position has an exit
    for r in pos:
        assert r["exit_date"] is not None and r["exit_price"] is not None
        assert r["entry_price"] > 0


def test_backtest_over_ohlcv_csv(spark, tmp_path):
    """Reference-native path end to end: OHLCV CSV (epoch-ms) -> declared
    -schema scan -> single-symbol evenly-spaced backtest (the reference's
    exact shape: one instrument, step 10, defaults)."""
    import os
    path = os.path.join(str(tmp_path), "btcusd.csv")
    with open(path, "w") as f:
        f.write("time,open,high,low,close,volume\n")
        t0 = 1704067200000
        for i in range(100):
            px = 100.0 + i  # monotone price
            f.write(f"{t0 + 60000*i},{px},{px+1},{px-1},{px},10\n")
    from big_datatrader_spark.sources.csv_source import read_ohlcv_csv
    from pyspark.sql import functions as F
    ohlcv = read_ohlcv_csv(spark, path).withColumn("symbol", F.lit("BTC"))
    res = evenly_spaced_backtest(
        ohlcv, symbol_col="symbol", order_col="time", price_col="close",
        budget=BUDGET, per_trade=PER_TRADE).collect()
    assert len(res) == 1
    r = res[0]
    # buys at closes 100,110,...,190 (10 buys); final price 199
    shares = sum(1000.0 / (100.0 + 10 * j) for j in range(10))
    expected = (BUDGET - 10 * PER_TRADE) + shares * 199.0
    assert r["final_value"] == pytest.approx(expected, rel=1e-12)
    assert r["trades_executed"] == 10


def test_partition_invariance(ticks):
    """Reference benchmark oracle (main.py:600-618): identical results
    for partition counts 1,2,4,8,16."""
    expected = None
    for p in (1, 2, 4, 8, 16):
        rows = sorted(
            (r["user_id"], round(r["final_value"], 9))
            for r in evenly_spaced_backtest(
                ticks.repartition(p), symbol_col="user_id",
                order_col="ts", price_col="value", budget=BUDGET,
                per_trade=PER_TRADE).collect())
        if expected is None:
            expected = rows
        else:
            assert rows == expected, f"partitions={p}"
