"""Result checks: order-insensitive value hashes and the references
they are compared against.

- Registered members: the DuckDB oracle SQL from the registry, run on
  the same parquet files, hashed once per dataset md5 and cached.
- The CSV pipeline: an independent pandas re-implementation of the
  evenly-spaced and MA(5/20)-crossover backtests over the same
  generated CSVs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

from tools.check_oracle import canon

# Budget / per-trade of the reference's params template (FIXTURES A3).
BUDGET = 10_000.0
PER_TRADE = 1_000.0
CSV_ROUND = 4


def value_hash(pdf: pd.DataFrame) -> str:
    """Hash of the canonical form of tools/check_oracle.py: column
    names, dtypes and every value, independent of row order."""
    c = canon(pdf)
    h = hashlib.sha256()
    h.update(json.dumps([list(c.columns), [str(t) for t in c.dtypes]])
             .encode())
    h.update(pd.util.hash_pandas_object(c, index=False).to_numpy()
             .tobytes())
    return h.hexdigest()


def files_md5(paths: list[str]) -> str:
    digest = hashlib.md5()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                digest.update(chunk)
    return digest.hexdigest()


def _cached(cache_path: str, compute) -> dict[str, str]:
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            return json.load(fh)
    out = compute()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)
    return out


def registry_hashes(reg, names: list[str], star_dir: str, md5: str,
                    cache_dir: str) -> dict[str, str]:
    """Expected hash per registered member, from its DuckDB oracle."""
    def compute() -> dict[str, str]:
        con = duckdb.connect()
        try:
            for path in glob.glob(os.path.join(star_dir, "*.parquet")):
                t = os.path.basename(path)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
            return {n: value_hash(con.execute(reg[n].oracle).fetchdf())
                    for n in names}
        finally:
            con.close()
    # keyed by the oracle texts too, so an edited oracle is re-run
    key = hashlib.md5(json.dumps({n: reg[n].oracle for n in names},
                                 sort_keys=True).encode()).hexdigest()[:8]
    return _cached(os.path.join(cache_dir, f"oracle-{md5}-{key}.json"),
                   compute)


# ---------------------------------------------------------------------------
# CSV pipeline reference (independent of the Spark operators)

def load_ohlcv(csv_dir: str, start_ms: int, end_ms: int,
               min_volume: float) -> pd.DataFrame:
    """The pipeline's input after its time-range and JSON filters."""
    frames = []
    for path in sorted(glob.glob(os.path.join(csv_dir, "*.csv"))):
        df = pd.read_csv(path)
        df.insert(0, "symbol", os.path.basename(path)[:-len(".csv")])
        frames.append(df)
    df = pd.concat(frames, ignore_index=True)
    keep = ((df["time"] >= start_ms) & (df["time"] <= end_ms)
            & (df["volume"] > min_volume))
    return df[keep].sort_values(["symbol", "time"]).reset_index(drop=True)


def evenly_reference(df: pd.DataFrame) -> pd.DataFrame:
    """Evenly spaced buys (reference main.py:366-390): every 10th bar
    is a buy, the first budget // per_trade of them trade."""
    cap = int(BUDGET // PER_TRADE)
    rows = []
    for sym, g in df.groupby("symbol", sort=True):
        close = g["close"].to_numpy()
        buys = close[::10]
        k = min(len(buys), cap)
        shares = float(np.sum(PER_TRADE / buys[:k]))
        final_value = (BUDGET - k * PER_TRADE) + shares * close[-1]
        rows.append({
            "symbol": sym, "n_buys": len(buys), "trades_executed": k,
            "total_invested": k * PER_TRADE, "sum_shares": shares,
            "final_price": close[-1], "final_value": final_value,
            "roi": (final_value - BUDGET) / BUDGET * 100.0})
    return pd.DataFrame(rows)


def trailing_mean(x: np.ndarray, n: int) -> np.ndarray:
    """Mean of the last ``n`` values (fewer at the start), each window
    summed left to right as a SQL ``AVG`` over a ROWS frame does.

    Four-decimal prices make the short and long means tie exactly in
    decimal arithmetic now and then; the crossover decision at such a
    tie follows the float rounding of the sum, so the reference rounds
    the way the engine's window aggregate does.  (pandas' ``rolling``
    rounds differently and decides some of those ties the other way.)
    """
    acc = np.zeros(len(x))
    for k in range(n - 1, -1, -1):
        acc[k:] += x[:len(x) - k]
    return acc / np.minimum(np.arange(1, len(x) + 1), n)


def crossover_reference(df: pd.DataFrame) -> pd.DataFrame:
    """MA(5/20) crossover positions (reference main.py:392-446): buy on
    a golden cross while cash allows, sell on a death cross, force the
    close of an open position at the last bar."""
    rows = []
    for sym, g in df.groupby("symbol", sort=True):
        close = g["close"].to_numpy()
        times = g["time"].to_numpy()
        short = trailing_mean(close, 5)
        long_ = trailing_mean(close, 20)
        cash, open_pos = BUDGET, None
        for i in range(1, len(close)):
            golden = short[i - 1] <= long_[i - 1] and short[i] > long_[i]
            death = short[i - 1] >= long_[i - 1] and short[i] < long_[i]
            if open_pos is None and golden:
                if cash >= PER_TRADE:
                    open_pos = (times[i], close[i])
                    cash -= PER_TRADE
            elif open_pos is not None and death:
                cash += PER_TRADE / open_pos[1] * close[i]
                rows.append((sym, *open_pos, times[i], close[i]))
                open_pos = None
        if open_pos is not None:
            rows.append((sym, *open_pos, times[-1], close[-1]))
    return pd.DataFrame(rows, columns=["symbol", "entry_date", "entry_price",
                                       "exit_date", "exit_price"])


def normalize_export(pdf: pd.DataFrame) -> pd.DataFrame:
    """Common form for an exported CSV and its reference: epoch-ms
    integers for timestamps, floats rounded, integer columns int64."""
    out = pdf.copy()
    for c in out.columns:
        if c.endswith("_date"):
            col = out[c]
            if col.dtype.kind in "iu":
                out[c] = col.astype("int64")
            else:
                ts = pd.to_datetime(col, utc=True, format="ISO8601")
                out[c] = ts.dt.tz_localize(None).astype(
                    "datetime64[ms]").astype("int64")
        elif out[c].dtype.kind == "f":
            out[c] = out[c].round(CSV_ROUND)
        elif out[c].dtype.kind in "iu":
            out[c] = out[c].astype("int64")
    return out


def csv_hashes(csv_dir: str, start_ms: int, end_ms: int,
               min_volume: float, cache_dir: str) -> dict[str, str]:
    # keyed by this file too, so an edited reference is re-run
    md5 = files_md5(glob.glob(os.path.join(csv_dir, "*.csv")) + [__file__])

    def compute() -> dict[str, str]:
        df = load_ohlcv(csv_dir, start_ms, end_ms, min_volume)
        return {
            "csv_evenly_export": value_hash(
                normalize_export(evenly_reference(df))),
            "csv_ma_positions_export": value_hash(
                normalize_export(crossover_reference(df))),
        }
    return _cached(os.path.join(
        cache_dir, f"oracle-csv-{md5}-{start_ms}-{end_ms}-{min_volume:g}"
        ".json"), compute)
