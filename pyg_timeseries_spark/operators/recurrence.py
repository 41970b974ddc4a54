"""Spark wrappers for the path-dependent recurrence kernels (zmooth, buffer)
— same applyInPandas shape as operators/ewm.py, with auxiliary input columns
(the smooth series / the band series) carried into the kernel.

Reference: zmooth `_zmooth.py:8-115`; buffer `_rolling.py:294-332, 872-942`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pyg_timeseries_spark.kernels import recurrence_numpy as RK
from pyg_timeseries_spark.operators._boundary import split_state, sweep_apply
from pyg_timeseries_spark.operators._core import KEY, TS, VAL


def _apply_recurrence(df, key, ts, v, out, state_df, spec, stateful=False):
    """``spec`` = (aux columns, state length, run) with
    ``run(a, aux_arrays, state|None) -> (res, state_vec)``."""
    aux, state_len, run = spec

    def sweep(pdf, prior):
        a, *aux_arrays = [pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                          for c in [v] + aux]
        res, s = run(a, aux_arrays, prior)
        return [res], s

    return sweep_apply(df, [key], ts, [out], sweep, state_df=state_df,
                       prior_lens=state_len, stateful=stateful)


def _zmooth(n, smooth_col, max_move, exc_zero):
    def run(a, aux_arrays, state):
        smooth = aux_arrays[0] if aux_arrays else None
        return RK.zmooth(a, n, smooth=smooth, max_move=max_move,
                         exc_zero=exc_zero, state=state)
    return [smooth_col] if smooth_col else [], RK.ZMOOTH_STATE_LEN, run


def _buffer(band, unit, rounding_band):
    const_band = None if isinstance(band, str) else float(band)

    def run(a, aux_arrays, state):
        b = aux_arrays[0] if aux_arrays else const_band
        return RK.buffer(a, b, unit=unit, rounding_band=rounding_band, state=state)
    return [band] if isinstance(band, str) else [], RK.BUFFER_STATE_LEN, run


def _tover(n, interval):
    def run(a, aux_arrays, state):
        return RK.rolling_tover(a, n=n, interval=interval, state=state)
    return [], 2 * n + 3, run


def zmooth(df: DataFrame, n: float, smooth_col: str | None = None,
           max_move: float = 4.2, exc_zero: bool = False, key: str = KEY,
           ts: str = TS, v: str = VAL, out: str = "zmooth",
           state_df: DataFrame | None = None) -> DataFrame:
    return _apply_recurrence(df, key, ts, v, out, state_df,
                             _zmooth(n, smooth_col, max_move, exc_zero))


def zmooth_(df: DataFrame, n: float, smooth_col: str | None = None,
            max_move: float = 4.2, exc_zero: bool = False, key: str = KEY,
            ts: str = TS, v: str = VAL, out: str = "zmooth",
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _apply_recurrence(df, key, ts, v, out, state_df,
                                 _zmooth(n, smooth_col, max_move, exc_zero),
                                 stateful=True)
    return split_state(combined, [key], persist)


def buffer(df: DataFrame, band, unit: float = 0.0, rounding_band: float = 0.0,
           key: str = KEY, ts: str = TS, v: str = VAL, out: str = "buffer",
           state_df: DataFrame | None = None) -> DataFrame:
    """``band`` is a float or the name of a band column."""
    return _apply_recurrence(df, key, ts, v, out, state_df,
                             _buffer(band, unit, rounding_band))


def buffer_(df: DataFrame, band, unit: float = 0.0, rounding_band: float = 0.0,
            key: str = KEY, ts: str = TS, v: str = VAL, out: str = "buffer",
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _apply_recurrence(df, key, ts, v, out, state_df,
                                 _buffer(band, unit, rounding_band),
                                 stateful=True)
    return split_state(combined, [key], persist)


def rolling_tover(df: DataFrame, n: int = 256, interval: float | None = None,
                  key: str = KEY, ts: str = TS, v: str = VAL,
                  out: str = "rolling_tover",
                  state_df: DataFrame | None = None) -> DataFrame:
    """Rolling turnover / annualized-risk ratio (reference
    `_rolling.py:417-443`)."""
    return _apply_recurrence(df, key, ts, v, out, state_df, _tover(n, interval))


def rolling_tover_(df: DataFrame, n: int = 256, interval: float | None = None,
                   key: str = KEY, ts: str = TS, v: str = VAL,
                   out: str = "rolling_tover",
                   state_df: DataFrame | None = None, persist: bool = True):
    combined = _apply_recurrence(df, key, ts, v, out, state_df,
                                 _tover(n, interval), stateful=True)
    return split_state(combined, [key], persist)
