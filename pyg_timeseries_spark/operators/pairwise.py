"""Pairwise EWM operators over long-format frames.

* ``ewmxcor`` / ``ewmxcovar`` / ``ewmxLR`` — two value columns on one keyed
  frame (the reference's two-panel form, `_ewm.py:1805-2137`).
* ``ewmcorrelation`` / ``ewmcovariance`` — the (t, m, m) tensor
  (`_ewm.py:395-531, 535-921`) in **melted long format**: one row per
  (ts, key_i, key_j) — the Spark-native tensor layout (SURVEY.md §1.3).
  Pairs are built by a self-join of the series on ts (m² fan-out of *keys*,
  not data volume), then each (key_i, key_j) group runs the pairwise kernel.

At scale: the self-join shuffles on ts once; pair groups are independent and
parallel.  For m in the hundreds (the reference's own regime, a (7000,
200, 200) tensor) this is ~20k pair-series of bucketed length — exactly the
applyInPandas group-size envelope the engine is designed for.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.kernels import pairwise_numpy as PK
from pyg_timeseries_spark.operators._boundary import split_state, sweep_apply
from pyg_timeseries_spark.operators._core import KEY, TS, VAL


def _pair_apply(df, key_cols, ts, a, b, out_cols, state_df, run,
                time_col=None, stateful=False):
    def col(pdf, c):
        return pdf[c].to_numpy(dtype=np.float64, na_value=np.nan) if c else None

    def sweep(pdf, prior):
        return run(col(pdf, a), col(pdf, b), prior, col(pdf, time_col))

    return sweep_apply(df, key_cols, ts, out_cols, sweep, state_df=state_df,
                       prior_lens=PK.XSTATE_LEN, stateful=stateful)


# kernel runs: (a, b, state, time) -> ([outputs], state)

def _xcor(n, bias):
    def run(av, bv, state, tv):
        res, s = PK.ewmxcor(av, bv, n, time=tv, state=state, bias=bias)
        return [res], s
    return run


def _xcovar(n):
    def run(av, bv, state, tv):
        res, s = PK.ewmxcovar(av, bv, n, time=tv, state=state)
        return [res], s
    return run


def _xlr(n, bias):
    def run(av, bv, state, tv):
        c, m, s = PK.ewmxLR(av, bv, n, time=tv, state=state, bias=bias)
        return [c, m], s
    return run


def ewmxcor(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
            ts: str = TS, out: str = "ewmxcor", bias: bool = False,
            time_col: str | None = None,
            state_df: DataFrame | None = None) -> DataFrame:
    return _pair_apply(df, [key], ts, a, b, [out], state_df, _xcor(n, bias),
                       time_col=time_col)


def ewmxcor_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
             ts: str = TS, out: str = "ewmxcor", bias: bool = False,
             time_col: str | None = None,
             state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_apply(df, [key], ts, a, b, [out], state_df,
                           _xcor(n, bias), time_col=time_col, stateful=True)
    return split_state(combined, [key], persist)


def ewmxcovar(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
              ts: str = TS, out: str = "ewmxcovar",
              time_col: str | None = None,
              state_df: DataFrame | None = None) -> DataFrame:
    return _pair_apply(df, [key], ts, a, b, [out], state_df, _xcovar(n),
                       time_col=time_col)


def ewmxcovar_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
               ts: str = TS, out: str = "ewmxcovar",
               time_col: str | None = None,
               state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_apply(df, [key], ts, a, b, [out], state_df, _xcovar(n),
                           time_col=time_col, stateful=True)
    return split_state(combined, [key], persist)


def ewmxLR(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
           ts: str = TS, out_c: str = "lr_c", out_m: str = "lr_m",
           bias: bool = False, time_col: str | None = None,
           state_df: DataFrame | None = None) -> DataFrame:
    return _pair_apply(df, [key], ts, a, b, [out_c, out_m], state_df,
                       _xlr(n, bias), time_col=time_col)


def ewmxLR_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
            ts: str = TS, out_c: str = "lr_c", out_m: str = "lr_m",
            bias: bool = False, time_col: str | None = None,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_apply(df, [key], ts, a, b, [out_c, out_m], state_df,
                           _xlr(n, bias), time_col=time_col, stateful=True)
    return split_state(combined, [key], persist)


# ---- melted (t, m, m) tensors ----------------------------------------------


def _melt_pairs(df: DataFrame, key: str, ts: str, v: str,
                upper_only: bool = True) -> DataFrame:
    left = df.select(F.col(ts), F.col(key).alias("key_i"), F.col(v).alias("v_i"))
    right = df.select(F.col(ts), F.col(key).alias("key_j"), F.col(v).alias("v_j"))
    pairs = left.join(right, on=ts)
    if upper_only:
        pairs = pairs.filter(F.col("key_i") < F.col("key_j"))
    else:
        pairs = pairs.filter(F.col("key_i") != F.col("key_j"))
    return pairs


def _correlation_apply(df, n, key, ts, v, bias, state_df, out,
                       stateful=False):
    return _pair_apply(
        _melt_pairs(df, key, ts, v), ["key_i", "key_j"], ts, "v_i", "v_j",
        [out], state_df, _xcor(n, bias), stateful=stateful,
    )


def ewmcorrelation(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                   v: str = VAL, bias: bool = False,
                   state_df: DataFrame | None = None,
                   out: str = "cor") -> DataFrame:
    """Melted EWM correlation tensor: rows (ts, key_i, key_j, cor) for
    key_i < key_j (symmetric; diagonal ≡ 1).  Reference `_ewm.py:688-921`."""
    return _correlation_apply(df, n, key, ts, v, bias, state_df, out)


def ewmcorrelation_(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                    v: str = VAL, bias: bool = False,
                    state_df: DataFrame | None = None,
                    out: str = "cor", persist: bool = True):
    """Stateful melted correlation tensor: (data, state) where state holds
    one packed XSTATE row per (key_i, key_j) pair — resume is bit-exact
    (reference ewmcorrelation_ `_ewm.py:688-770`)."""
    combined = _correlation_apply(df, n, key, ts, v, bias, state_df, out,
                                  stateful=True)
    return split_state(combined, ["key_i", "key_j"], persist)


def _covariance_apply(df, n, key, ts, v, state_df, out, stateful=False):
    left = df.select(F.col(ts), F.col(key).alias("key_i"), F.col(v).alias("v_i"))
    right = df.select(F.col(ts), F.col(key).alias("key_j"), F.col(v).alias("v_j"))
    pairs = left.join(right, on=ts).filter(F.col("key_i") <= F.col("key_j"))
    return _pair_apply(
        pairs, ["key_i", "key_j"], ts, "v_i", "v_j", [out], state_df,
        _xcovar(n), stateful=stateful,
    )


def ewmcovariance(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                  v: str = VAL, state_df: DataFrame | None = None,
                  out: str = "cov") -> DataFrame:
    """Melted EWM covariance tensor incl. the diagonal (variances).
    Reference `_ewm.py:535-685`."""
    return _covariance_apply(df, n, key, ts, v, state_df, out)


def ewmcovariance_(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                   v: str = VAL, state_df: DataFrame | None = None,
                   out: str = "cov", persist: bool = True):
    """Stateful melted covariance tensor: (data, state) keyed on
    (key_i, key_j) (reference ewmcovariance_ `_ewm.py:535-614`)."""
    combined = _covariance_apply(df, n, key, ts, v, state_df, out,
                                 stateful=True)
    return split_state(combined, ["key_i", "key_j"], persist)
