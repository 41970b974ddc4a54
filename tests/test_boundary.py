"""The kernel boundary's contract (operators/_boundary.py): a stateless call
ships no list column to Python — the operator's own input columns only — and
a resume ships its prior as one ``array<double>`` that cannot be NULL (NULL
list rows cost O(rows²) in Spark's Arrow writer)."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyg_timeseries_spark.operators import ewm as M
from pyg_timeseries_spark.operators import holt as H
from pyg_timeseries_spark.operators import kalman as K
from pyg_timeseries_spark.operators import matrix as MX
from pyg_timeseries_spark.operators import multibuffer as MB
from pyg_timeseries_spark.operators import optimizers as OP
from pyg_timeseries_spark.operators import pairwise as PW
from pyg_timeseries_spark.operators import recurrence as RC

PY_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


def python_inputs(df) -> list[T.StructType]:
    """Schema of each input of every grouped-map Python node in ``df``'s
    executed plan."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if node.nodeName() == "InMemoryTableScan":  # a persisted *_ result
            stack.append(node.relation().cachedPlan())
            continue
        kids = node.children()
        kids = [kids.apply(i) for i in range(kids.size())]
        if node.nodeName() in PY_NODES:
            out += [T.StructType.fromJson(json.loads(k.schema().json()))
                    for k in kids]
        stack += kids
    return out


def list_fields(df, own=()) -> list[T.StructField]:
    """Array-typed columns shipped to Python, beyond the caller's ``own``."""
    schemas = python_inputs(df)
    assert schemas, "no grouped-map Python node in the plan"
    return [f for s in schemas for f in s.fields
            if isinstance(f.dataType, T.ArrayType) and f.name not in own]


def list_columns(df, own=()) -> list[str]:
    return [f.name for f in list_fields(df, own)]


def assert_non_null_prior(out):
    """The resume's only list column is the prior, and it is never NULL."""
    fields = list_fields(out)
    assert [f.name for f in fields] == ["__prior"]
    assert not fields[0].nullable


@pytest.fixture(scope="module")
def pair_df(spark, series_df):
    return series_df.withColumn("w", F.col("v") * 0.5 + 1.0)


@pytest.fixture(scope="module")
def features_df(spark):
    rng = np.random.default_rng(5)
    A = rng.normal(0, 1, (40, 2)).cumsum(axis=0)
    return spark.createDataFrame(pd.DataFrame({
        "key": "k0",
        "ts": pd.date_range("2024-01-01", periods=40, freq="1min"),
        "features": list(A),
        "v": A[:, 0] - A[:, 1],
    }))


@pytest.fixture(scope="module")
def book(spark):
    rows = [("p1", pd.Timestamp("2024-01-01") + pd.Timedelta(days=i), f"a{j}",
             float(i + j), 0.5, 1.0, 1.0) for i in range(6) for j in range(2)]
    pos = spark.createDataFrame(pd.DataFrame(
        rows, columns=["key", "ts", "asset", "target", "band", "vol", "pv"]))
    corr = spark.createDataFrame(pd.DataFrame(
        [("p1", "a0", "a1", 0.3)], columns=["key", "asset_i", "asset_j", "cor"]))
    return pos, corr


STATELESS = {
    "ewma": lambda d: M.ewma(d["s"], 10),
    "ewmstd": lambda d: M.ewmstd(d["s"], 10),
    "ewmrms_guarded": lambda d: M.ewmrms(d["s"], 10, exc_zero=True),
    "ewmxcor": lambda d: PW.ewmxcor(d["p"], 10, "v", "w"),
    "ewmcorrelation": lambda d: PW.ewmcorrelation(d["s"], 10),
    "zmooth": lambda d: RC.zmooth(d["s"], 10),
    "buffer": lambda d: RC.buffer(d["s"], 0.5),
    "holt": lambda d: H.holt(d["s"], 0.3, 0.1),
    "holt_winters": lambda d: H.holt_winters(d["s"], 0.3, 0.1, 0.1, 4),
    "kalman": lambda d: K.kalman(d["s"], 0.1, 1.0),
    "ewmAAi": lambda d: MX.ewmAAi(d["f"], 10),
    "multibuffer": lambda d: MB.multibuffer(d["b"][0], corr=0.4),
    "multibuffer_cogroup": lambda d: MB.multibuffer(d["b"][0], corr=d["b"][1]),
    "tracking_error": lambda d: OP.minimize_tracking_error(
        d["b"][0].withColumnRenamed("key", "pf"),
        d["b"][1].select(F.col("key").alias("pf"), F.col("asset_i").alias("key_i"),
                         F.col("asset_j").alias("key_j"), F.col("cor").alias("cov"))),
}


@pytest.mark.parametrize("name", sorted(STATELESS))
def test_stateless_call_ships_no_list_column(name, series_df, pair_df,
                                             features_df, book):
    d = {"s": series_df, "p": pair_df, "f": features_df, "b": book}
    out = STATELESS[name](d)
    assert list_columns(out, own=("features",)) == []
    assert not [c for c in out.columns if c.startswith("__")]


def test_resume_ships_non_null_prior(spark, series_df):
    cut = F.lit("2024-01-01 02:00:00").cast("timestamp")
    _, state = M.ewma_(series_df.filter(F.col("ts") < cut), 10)
    tail = series_df.filter(F.col("ts") >= cut)
    for out in (M.ewma(tail, 10, state_df=state),
                M.ewma_(tail, 10, state_df=state)[0],
                H.holt(tail, 0.3, 0.1, state_df=state)):
        assert_non_null_prior(out)


def test_cogroup_resume_ships_non_null_prior(spark, book):
    pos, corr = book
    cut = F.lit("2024-01-04").cast("timestamp")
    _, state = MB.multibuffer_(pos.filter(F.col("ts") < cut), corr=corr)
    out = MB.multibuffer(pos.filter(F.col("ts") >= cut), corr=corr,
                         state_df=state)
    assert_non_null_prior(out)
    assert out.count() == 6


def test_wrong_length_prior_is_ignored(spark, series_df):
    """A saved state of a length the kernel does not accept restarts it."""
    bogus = spark.createDataFrame([("k0", [1.0, 2.0])], "key string, state array<double>")
    fresh = M.ewma(series_df, 10).toPandas().sort_values(["key", "ts"])
    got = M.ewma(series_df, 10, state_df=bogus).toPandas().sort_values(["key", "ts"])
    assert np.array_equal(got["ewma"].to_numpy(float),
                          fresh["ewma"].to_numpy(float), equal_nan=True)
