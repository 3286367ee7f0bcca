"""Seeded OHLCV input for the benchmark's CSV pipeline.

``ohlcv_csvs`` writes the reference's own input, one minute-bar CSV per
symbol (FIXTURES.md A1), drawn from the benchmark's ``--seed`` under the
checkout's git-ignored ``.benchdata/``.  The same arguments give
byte-identical files.

The star-schema tables are not generated: ``perfbench/data/sf0.01`` is a
byte copy of the seed-42 sf0.01 test tables (FIXTURES.md section B), so
every registered query reads the program's real inputs, TIMESTAMP(NANOS)
columns included.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

BAR_MS = 60_000
OHLCV_T0_MS = 1_600_000_000_000 - (1_600_000_000_000 % BAR_MS)


def ohlcv_frame(rng: np.random.Generator, n_bars: int) -> pd.DataFrame:
    """One symbol's minute bars: a geometric random walk riding a slow
    sine regime, so the MA crossover trades both ways."""
    t = np.arange(n_bars)
    drift = 0.002 * np.sin(2 * np.pi * t / max(200, n_bars // 25))
    steps = drift + rng.normal(0.0, 0.003, n_bars)
    close = np.round(rng.uniform(20.0, 200.0) * np.exp(np.cumsum(steps)), 4)
    open_ = np.concatenate([[close[0]], close[:-1]])
    wick = np.round(np.abs(rng.normal(0.0, 0.002, (2, n_bars))) * close, 4)
    return pd.DataFrame({
        "time": OHLCV_T0_MS + t * BAR_MS,
        "open": open_,
        "high": np.maximum(open_, close) + wick[0],
        "low": np.maximum(np.minimum(open_, close) - wick[1], 0.0001),
        "close": close,
        "volume": np.round(rng.uniform(0.0, 1000.0, n_bars), 2),
    })


def ohlcv_csvs(root: str, seed: int, n_symbols: int, n_bars: int) -> str:
    """Write ``n_symbols`` CSVs of ``n_bars`` minute bars; return the dir."""
    out = os.path.join(root, f"ohlcv-seed{seed}-{n_symbols}x{n_bars}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for i in range(n_symbols):
        ohlcv_frame(rng, n_bars).to_csv(
            os.path.join(out, f"SYM{i:02d}.csv"), index=False,
            float_format="%.4f")
    with open(done, "w"):
        pass
    return out
