"""State-split invariant (reference test strategy #3, SURVEY.md §5; reference
tests/test_ts_states.py:39-153): f_(head).data ++ f(tail, state=f_(head).state)
== f(full), bit-for-bit — for EWM kernels, the rollup cascade, and the
incremental checkpoint store.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.kernels import ewm_numpy
from pyg_timeseries_spark.operators import ewm as M
from pyg_timeseries_spark.operators import matrix as MX
from pyg_timeseries_spark.operators import recurrence as RC


SPLITS = [1, 7, 100, 250]


@pytest.mark.parametrize("kernel_name", list(ewm_numpy.KERNELS))
def test_kernel_state_split_bitexact(kernel_name, series_pdf):
    """NumPy-kernel level: exact float equality across arbitrary splits."""
    kernel = ewm_numpy.KERNELS[kernel_name]
    a = (
        series_pdf[series_pdf.key == "k0"]
        .sort_values("ts")["v"]
        .to_numpy(float)
    )
    full, _ = kernel(a, 10)
    for k in SPLITS:
        head, s = kernel(a[:k], 10)
        tail, _ = kernel(a[k:], 10, state=s)
        glued = np.concatenate([head, tail])
        assert np.array_equal(glued, full, equal_nan=True), (kernel_name, k)


def test_ewma_spark_state_split(spark, series_df):
    """Spark level: resume from the persisted state table."""
    cut = F.lit("2024-01-01 02:00:00").cast("timestamp")
    head = series_df.filter(F.col("ts") < cut)
    tail = series_df.filter(F.col("ts") >= cut)

    full = M.ewma(series_df, 10).toPandas().sort_values(["key", "ts"])
    _, state = M.ewma_(head, 10)
    resumed = M.ewma(tail, 10, state_df=state).toPandas().sort_values(["key", "ts"])

    full_tail = full[full.ts >= resumed.ts.min()].reset_index(drop=True)
    resumed = resumed.reset_index(drop=True)
    assert len(full_tail) == len(resumed)
    g = resumed["ewma"].to_numpy(float)
    e = full_tail["ewma"].to_numpy(float)
    assert np.array_equal(g, e, equal_nan=True), "resume is not bit-identical"


def test_ewmstd_spark_state_split(spark, series_df):
    cut = F.lit("2024-01-01 01:30:00").cast("timestamp")
    head = series_df.filter(F.col("ts") < cut)
    tail = series_df.filter(F.col("ts") >= cut)
    full = M.ewmstd(series_df, 10).toPandas().sort_values(["key", "ts"])
    _, state = M.ewmstd_(head, 10)
    resumed = M.ewmstd(tail, 10, state_df=state).toPandas().sort_values(["key", "ts"])
    full_tail = full[full.ts >= resumed.ts.min()].reset_index(drop=True)
    g = resumed.reset_index(drop=True)["ewmstd"].to_numpy(float)
    e = full_tail["ewmstd"].to_numpy(float)
    assert np.array_equal(g, e, equal_nan=True)


@pytest.mark.parametrize("op_name", ["ewma", "ewmstd"])
def test_mixed_prior_resume_bitexact(spark, series_df, op_name):
    """Some keys resume from saved state, others have none (the broadcast
    join finds no prior row and the kernel starts fresh): data and state
    both equal the full sweep, bit for bit."""
    op, op_ = getattr(M, op_name), getattr(M, op_name + "_")
    cut = F.lit("2024-01-01 02:00:00").cast("timestamp")
    saved = F.col("key").isin("k0", "k1")
    head = series_df.filter(saved & (F.col("ts") < cut))
    tail = series_df.filter(~saved | (F.col("ts") >= cut))

    full_data, full_state = op_(series_df, 10)
    full = full_data.toPandas().sort_values(["key", "ts"])
    _, head_state = op_(head, 10)
    tail_data, tail_state = op_(tail, 10, state_df=head_state)
    resumed = tail_data.toPandas().sort_values(["key", "ts"])

    assert sorted(r.key for r in head_state.collect()) == ["k0", "k1"]
    exp = full.merge(resumed[["key", "ts"]], on=["key", "ts"])
    assert len(exp) == len(resumed) == len(tail.toPandas())
    g = resumed[op_name].to_numpy(float)
    e = exp[op_name].to_numpy(float)
    assert np.array_equal(g, e, equal_nan=True), "mixed-prior resume drifted"

    def states(df):
        return {r.key: np.array(r.state, dtype=float) for r in df.collect()}

    got, want = states(tail_state), states(full_state)
    assert got.keys() == want.keys()
    for k in want:
        assert np.array_equal(got[k], want[k], equal_nan=True), k
    # the stateless resume reads the same prior
    plain = op(tail, 10, state_df=head_state).toPandas().sort_values(["key", "ts"])
    assert np.array_equal(plain[op_name].to_numpy(float), g, equal_nan=True)


@pytest.fixture(scope="module")
def features_df(spark):
    rng = np.random.default_rng(11)
    frames = []
    for k in range(3):
        A = rng.normal(0, 1, (120, 3)).cumsum(axis=0)
        frames.append(pd.DataFrame({
            "key": f"k{k}",
            "ts": pd.date_range("2024-01-01", periods=120, freq="1min"),
            "features": list(A),
            "v": A @ np.array([0.5, -1.0, 2.0]) + rng.normal(0, 0.1, 120),
        }))
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def _cells(values):
    """A column of doubles or of (possibly NULL) double arrays, as float arrays."""
    return [np.array([np.nan] if x is None else x, dtype=float).ravel()
            for x in values]


# wide or variable-width states: rolling_tover_ at n=256 keeps 2n+3 = 515
# doubles; the matrix states grow with the feature width m
WIDE = {
    "rolling_tover_": ("series", lambda d, **kw: RC.rolling_tover_(d, 256, **kw),
                       "rolling_tover", "2024-01-01 02:00:00"),
    "ewmcorr_psd_": ("features", lambda d, **kw: MX.ewmcorr_psd_(d, 32, **kw),
                     "psd_cor", "2024-01-01 00:50:00"),
    "ewmGLM_": ("features", lambda d, **kw: MX.ewmGLM_(d, 30, **kw),
                "betas", "2024-01-01 00:50:00"),
}


@pytest.mark.parametrize("name", sorted(WIDE))
def test_wide_state_mixed_prior_resume_bitexact(name, series_df, features_df):
    """Resume == full, bit for bit, for the wide and variable-width states,
    with one key resuming from saved state and the others from none."""
    src, op_, out, cut = WIDE[name]
    df = series_df if src == "series" else features_df
    saved = F.col("key") == "k0"
    cut = F.lit(cut).cast("timestamp")
    head = df.filter(saved & (F.col("ts") < cut))
    tail = df.filter(~saved | (F.col("ts") >= cut))

    full_data, full_state = op_(df)
    _, head_state = op_(head)
    tail_data, tail_state = op_(tail, state_df=head_state)
    full = full_data.toPandas().sort_values(["key", "ts"])
    resumed = tail_data.toPandas().sort_values(["key", "ts"])
    exp = full.merge(resumed[["key", "ts"]], on=["key", "ts"])
    assert len(exp) == len(resumed) == tail.count()
    for g, e in zip(_cells(resumed[out]), _cells(exp[out])):
        assert np.array_equal(g, e, equal_nan=True), name

    def states(sdf):
        return {r.key: np.array(r.state, dtype=float) for r in sdf.collect()}

    got, want = states(tail_state), states(full_state)
    assert got.keys() == want.keys() == {"k0", "k1", "k2"}
    for k in want:
        assert np.array_equal(got[k], want[k], equal_nan=True), (name, k)
