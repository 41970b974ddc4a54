"""The one JVM↔Python boundary of the per-key sequential kernels.

The ewm family, the pairwise and recurrence sweeps, holt, kalman, the matrix
EWMs, multibuffer and the tracking-error optimizer all run their kernel once
per group in a grouped-map Arrow UDF.  Besides the operator's own columns,
only two things may cross that boundary, and only when the call needs them:

* **prior state**, only when the caller passes ``state_df``: the saved
  ``(key, state array<double>)`` rows are broadcast-joined onto the input as
  one ``__prior`` column, coalesced to an empty array for a key with no saved
  state.  It must never hold a NULL: Spark 4.1's Arrow writer
  (``BatchedPythonArrowInput.writeSizedBatch``) sizes the batch once per row,
  and for a list column whose rows are NULL ``ListVector.setValueCount``
  refills the offsets from the last set index on each call, so NULL rows of
  an ``array<double>`` cost O(rows²) per Arrow batch.  Non-NULL rows, empty
  ones included, advance that index and cost the same as flat doubles.  A
  saved state of a length the kernel does not accept is ignored (the kernel
  restarts).
* **new state**, only for the stateful ``*_`` variants: one ``__state``
  ``array<double>`` cell on each group's last row, NULL elsewhere, which
  :func:`split_state` turns into the public ``state`` frame.  The
  Python→JVM direction reads Arrow batches without the per-row resize, so
  the NULL rows cost nothing there.

NaN state elements come back as NULL (Arrow's pandas conversion masks NaN),
and a NULL prior element reaches the kernel as NaN, so a resume sees exactly
the floats the previous call ended with.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PRIOR = "__prior"
STATE = "__state"


def _with_prior(df: DataFrame, state_df: DataFrame, keys: list[str]) -> DataFrame:
    prior = state_df.select(*keys, F.col("state").alias(PRIOR))
    # one small row per key: always broadcast, never shuffle the fact side
    df = df.join(F.broadcast(prior), on=keys, how="left")
    return df.withColumn(PRIOR, F.coalesce(PRIOR, F.array().cast("array<double>")))


def _read_prior(pdf: pd.DataFrame, lens: tuple[int, ...] | None) -> np.ndarray | None:
    s = pdf[PRIOR].iat[0]
    if len(s) == 0 or (lens is not None and len(s) not in lens):
        return None
    return np.asarray(s, dtype=np.float64)


def _put_state(out: pd.DataFrame, s) -> pd.DataFrame:
    """Append the state column, non-NULL only on the last row (``s`` None:
    the group produced no rows)."""
    cell = np.full(len(out), None, dtype=object)
    if len(out) and s is not None:
        cell[-1] = [float(x) for x in s]
    out[STATE] = cell
    return out


def kernel_apply(
    df: DataFrame,
    keys: Sequence[str],
    run: Callable,
    fields: Sequence[T.StructField],
    state_df: DataFrame | None = None,
    prior_lens: int | Sequence[int] | None = None,
    stateful: bool = False,
    other: DataFrame | None = None,
) -> DataFrame:
    """``groupBy(keys).applyInPandas`` (or, with ``other``, a cogroup of
    ``df`` and ``other`` on ``keys``) around ``run``.

    ``run(pdf, prior)`` — or ``run(pdf, other_pdf, prior)`` — returns
    ``(out_pdf, state)`` where ``out_pdf`` holds ``fields`` and ``state`` is
    the group's final state vector (``None`` for a group with no rows).
    ``prior`` is the saved state of the group's key, or ``None``.

    ``prior_lens`` lists the saved lengths the kernel accepts; ``None``
    accepts any length (the kernel checks it).  ``stateful`` adds the state
    column :func:`split_state` reads.
    """
    keys = list(keys)
    lens = (prior_lens,) if isinstance(prior_lens, int) else (
        None if prior_lens is None else tuple(prior_lens))
    resume = state_df is not None  # the UDF must not capture the frame
    if resume:
        df = _with_prior(df, state_df, keys)
    out_fields = list(fields)
    if stateful:
        out_fields.append(T.StructField(STATE, T.ArrayType(T.DoubleType())))
    schema = T.StructType(out_fields)

    def finish(res):
        out, s = res
        return _put_state(out, s) if stateful else out

    def prior_of(pdf):
        if not resume or len(pdf) == 0:
            return None
        return _read_prior(pdf, lens)

    if other is None:
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return finish(run(pdf, prior_of(pdf)))

        return df.groupBy(*keys).applyInPandas(fn, schema=schema)

    def cofn(pdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        return finish(run(pdf, opdf, prior_of(pdf)))

    return (df.groupBy(*keys).cogroup(other.groupBy(*keys))
            .applyInPandas(cofn, schema=schema))


def sweep_apply(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    outs: Sequence[str],
    sweep: Callable,
    out_type: T.DataType = T.DoubleType(),
    **boundary,
) -> DataFrame:
    """The row-preserving shape of :func:`kernel_apply`: each group is sorted
    by ``ts`` and ``sweep(pdf, prior) -> ([one array per out], state)``
    appends ``outs`` to its rows."""
    in_cols = list(df.columns)
    fields = list(df.schema.fields) + [T.StructField(o, out_type) for o in outs]

    def run(pdf: pd.DataFrame, prior):
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        results, s = sweep(pdf, prior)
        out = pdf[in_cols].copy()
        for c, r in zip(outs, results):
            out[c] = r
        return out, s

    return kernel_apply(df, keys, run, fields, **boundary)


def split_state(combined: DataFrame, keys: Sequence[str],
                persist: bool = True) -> tuple[DataFrame, DataFrame]:
    """``(data, state)`` from one stateful :func:`kernel_apply` frame; with
    ``persist`` both come from one computation (the reference's
    ``Dict(data=…, state=…)`` pair, _decorators.py:21-31)."""
    if persist:
        combined = combined.persist()
    data = combined.drop(STATE)
    state = combined.filter(F.col(STATE).isNotNull()).select(
        *keys, F.col(STATE).alias("state"))
    return data, state
