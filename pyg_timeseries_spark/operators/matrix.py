"""Spark wrappers for the matrix EWM kernels over frames with an
``array<double>`` feature column.

Reference: ewmAAi `_ewm.py:936-980, 1917-1937`; ewmGLM `_ewm.py:983-1123,
1940-2020`.  The feature vector per (key, ts) row is the long-format
rendition of the reference's panel row; outputs are flattened row-major
arrays (melt with posexplode when relational access is wanted).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pyg_timeseries_spark.kernels import matrix_numpy as MK
from pyg_timeseries_spark.operators._boundary import split_state, sweep_apply
from pyg_timeseries_spark.operators._core import KEY, TS


def _matrix_apply(df, key, ts, out, state_df, run, stateful=False):
    """``run(pdf, prior) -> (per-row result arrays, state)``.  The state's
    length depends on the feature width m, so ``run`` validates the prior."""

    def sweep(pdf, prior):
        res, s = run(pdf, prior)
        return [[None if np.isnan(r).all() else [float(x) for x in r.ravel()]
                 for r in res]], s

    return sweep_apply(df, [key], ts, [out], sweep,
                       out_type=T.ArrayType(T.DoubleType()), state_df=state_df,
                       stateful=stateful)


def _features_matrix(pdf, features):
    return np.array([np.asarray(r, float) for r in pdf[features]])


def _fits(state, n):
    """The saved state when it has the kernel's length, else None (restart)."""
    return state if state is not None and len(state) == n else None


def _aai(n, features, min_sample, overlapping):
    def run(pdf, prior):
        A = _features_matrix(pdf, features)
        state = _fits(prior, MK.aai_state_len(A.shape[1], overlapping))
        return MK.ewmAAi(A, n, state=state, min_sample=min_sample,
                         overlapping=overlapping)
    return run


def _glm(n, features, b, min_sample, overlapping):
    def run(pdf, prior):
        A = _features_matrix(pdf, features)
        bv = pdf[b].to_numpy(dtype=np.float64, na_value=np.nan)
        state = _fits(prior, MK.glm_state_len(A.shape[1], overlapping))
        return MK.ewmGLM(A, bv, n, state=state, min_sample=min_sample,
                         overlapping=overlapping)
    return run


def _psd(n, features, min_sample, min_periods, demean, shrinkage):
    def run(pdf, prior):
        A = _features_matrix(pdf, features)
        return MK.ewmcorr_psd(A, n, min_sample=min_sample,
                              min_periods=min_periods, demean=demean,
                              shrinkage=shrinkage,
                              state=_fits(prior, MK.psd_state_len(A.shape[1])))
    return run


def ewmAAi(df: DataFrame, n: float, features: str = "features",
           key: str = KEY, ts: str = TS, out: str = "aai",
           min_sample: float = 0.25, overlapping: int = 1,
           state_df: DataFrame | None = None) -> DataFrame:
    """Rolling inv(E(dAᵀdA)) per row; output flattened (m·m) row-major.
    ``overlapping`` k differences against the value k valid rows back."""
    return _matrix_apply(df, key, ts, out, state_df,
                         _aai(n, features, min_sample, overlapping))


def ewmAAi_(df: DataFrame, n: float, features: str = "features",
            key: str = KEY, ts: str = TS, out: str = "aai",
            min_sample: float = 0.25, overlapping: int = 1,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _matrix_apply(df, key, ts, out, state_df,
                             _aai(n, features, min_sample, overlapping),
                             stateful=True)
    return split_state(combined, [key], persist)


def ewmGLM(df: DataFrame, n: float, features: str = "features",
           b: str = "v", key: str = KEY, ts: str = TS, out: str = "betas",
           min_sample: float = 0.25, overlapping: int = 1,
           state_df: DataFrame | None = None) -> DataFrame:
    """EWM linear-model betas of db ~ dA per row; output (m,) array."""
    return _matrix_apply(df, key, ts, out, state_df,
                         _glm(n, features, b, min_sample, overlapping))


def ewmGLM_(df: DataFrame, n: float, features: str = "features",
            b: str = "v", key: str = KEY, ts: str = TS, out: str = "betas",
            min_sample: float = 0.25, overlapping: int = 1,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _matrix_apply(df, key, ts, out, state_df,
                             _glm(n, features, b, min_sample, overlapping),
                             stateful=True)
    return split_state(combined, [key], persist)


def ewmcorr_psd(df: DataFrame, n: float = 128, features: str = "features",
                key: str = KEY, ts: str = TS, out: str = "psd_cor",
                min_sample: float = 0.25, min_periods: int = 1,
                demean: bool = True, shrinkage: float = 0.0,
                state_df: DataFrame | None = None) -> DataFrame:
    """PSD-by-construction EWM correlation per row (flattened m·m);
    reference `_ewm_psd.py:43-287` (overlapping=1 path)."""
    return _matrix_apply(df, key, ts, out, state_df, _psd(
        n, features, min_sample, min_periods, demean, shrinkage))


def ewmcorr_psd_(df: DataFrame, n: float = 128, features: str = "features",
                 key: str = KEY, ts: str = TS, out: str = "psd_cor",
                 min_sample: float = 0.25, min_periods: int = 1,
                 demean: bool = True, shrinkage: float = 0.0,
                 state_df: DataFrame | None = None, persist: bool = True):
    combined = _matrix_apply(df, key, ts, out, state_df, _psd(
        n, features, min_sample, min_periods, demean, shrinkage), stateful=True)
    return split_state(combined, [key], persist)
