"""The timed phases.  Each function makes one repetition and returns its
wall time; spans go through the tracer (a no-op in untraced runs).

* ``backfill_rep``: raw → 1m → 1h → 1d over the measures-only parquet
  (``plans.rollup``), each tier persisted and counted.
* ``operators_rep``: per-key analytics over the materialized 1m tier —
  ``ewma_`` over the full tier, ``ewma_`` over the head and a resume of the
  tail from the head's state, ``ewmstd``, ``rolling_mean``, ``ffill``,
  ``diff``, ``cumsum`` and a Gorilla encode/decode round trip.
* ``store_cycle``: the continuous-aggregate path (``plans.checkpoint`` and
  ``plans.pipeline``): seed a store, ingest time-ordered token batches with an
  ``ewma_`` resume and a freshest-window query after each, then maintenance.
"""

from __future__ import annotations

import os
import time

EWM_N = 10
WINDOW_N = 10
# operations per repetition, counted toward attempted/failed: the three
# rollup steps of a backfill; the operator calls of a suite, where the
# head+tail resume counts once (one pass over the tier)
BACKFILL_STEPS = 3
OPERATOR_CALLS = 9


def noop(df) -> None:
    """Compute ``df`` fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def backfill_rep(spark, raw_path: str, tracer, keep: bool = False):
    """One raw → 1m → 1h → 1d rebuild; returns its wall, or with ``keep``
    (wall, {tier: persisted DataFrame}) for the caller to check and unpersist."""
    from pyg_timeseries_spark.plans.rollup import rollup_cascade, rollup_from_raw

    raw = spark.read.parquet(raw_path)
    t0 = time.perf_counter()
    with tracer.span("rollup", "raw_to_1m"):
        m1 = rollup_from_raw(raw, "1m", tokens=None).persist()
        m1.count()
    with tracer.span("rollup", "1m_to_1h"):
        h1 = rollup_cascade(m1, "1h", with_tokens=False).persist()
        h1.count()
    with tracer.span("rollup", "1h_to_1d"):
        d1 = rollup_cascade(h1, "1d", with_tokens=False).persist()
        d1.count()
    wall = time.perf_counter() - t0
    if keep:
        return wall, {"1m": m1, "1h": h1, "1d": d1}
    for df in (m1, h1, d1):
        df.unpersist()
    return wall


def split_tier(tier, cut):
    from pyspark.sql import functions as F

    cut_lit = F.lit(cut).cast("timestamp")
    return tier.filter(F.col("ts") < cut_lit), tier.filter(F.col("ts") >= cut_lit)


def operators_rep(spark, tier_path: str, cut: str, tracer, sink=None) -> dict:
    """One suite; returns its wall and the encoded chunk table's size.
    ``sink(name, df)`` consumes each output (default: compute and drop)."""
    from pyspark.sql import functions as F

    from pyg_timeseries_spark.compress.chunks import compress_series, decompress_series
    from pyg_timeseries_spark.operators.ewm import ewma_, ewmstd
    from pyg_timeseries_spark.operators.expanding import cumsum
    from pyg_timeseries_spark.operators.fill import ffill
    from pyg_timeseries_spark.operators.rolling import rolling_mean
    from pyg_timeseries_spark.operators.shift import diff

    sink = sink or (lambda name, df: noop(df))
    tier = spark.read.parquet(tier_path)
    head, tail = split_tier(tier, cut)
    t0 = time.perf_counter()
    with tracer.span("ewm", "ewma_full"):
        data, state = ewma_(tier, EWM_N)
        sink("ewma_full", data)
        state.count()
    with tracer.span("ewm", "ewma_head"):
        hdata, hstate = ewma_(head, EWM_N)
        sink("ewma_head", hdata)
        hstate = hstate.persist()
        hstate.count()
    with tracer.span("ewm", "ewma_resume"):
        tdata, _ = ewma_(tail, EWM_N, state_df=hstate)
        sink("ewma_resume", tdata)
    with tracer.span("ewm", "ewmstd"):
        sink("ewmstd", ewmstd(tier, EWM_N))
    for name, fn in (("rolling_mean", lambda df: rolling_mean(df, WINDOW_N)),
                     ("ffill", ffill), ("diff", diff), ("cumsum", cumsum)):
        with tracer.span("window", name):
            sink(name, fn(tier))
    with tracer.span("gorilla", "encode"):
        chunks = compress_series(tier, key="key", ts="ts", v="v").persist()
        chunks.count()
    with tracer.span("gorilla", "decode"):
        sink("decode", decompress_series(chunks, key="key", ts_name="ts", v_name="v"))
    wall = time.perf_counter() - t0
    size = chunks.agg(F.sum(F.length("blob")), F.sum("n_points")).first()
    spark.catalog.clearCache()
    return {"wall": wall, "blob_bytes": int(size[0]), "points": int(size[1])}


def _dir_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, f))
    return n_bytes, n_files


# retention of the store cycle, in buckets of each tier
RETAIN = {"1m": 24 * 60, "1h": 72, "1d": 30}


def store_cycle(spark, store_path: str, hist_path: str, batch_paths: list[str],
                tracer) -> dict:
    """Seed, then ingest → apply → query per batch, then maintenance."""
    from pyspark.sql import functions as F

    from pyg_timeseries_spark.operators.ewm import ewma_
    from pyg_timeseries_spark.plans.pipeline import TimeseriesEngine

    eng = TimeseriesEngine(spark, store_path)
    store = eng.store
    batches = []
    for i, path in enumerate([hist_path] + batch_paths):
        raw = spark.read.parquet(path)
        before = _dir_stats(store_path)
        with tracer.span("store", "ingest", batch=i):
            eng.ingest(raw)
        after = _dir_stats(store_path)
        with tracer.span("engine", "apply", batch=i):
            noop(eng.apply(ewma_, "1m", "ewma", n=EWM_N))
        man = store._manifest("rollup_1h")
        day = max(man)
        with tracer.span("store", "read", batch=i):
            store.read_table("rollup_1h", parts=[day]).collect()
            store.read_tokens("1h").filter(
                F.to_date("bucket").cast("string") == day).collect()
        batches.append({
            "batch": i, "bytes_written": after[0] - before[0],
            "files_written": after[1] - before[1],
            "read_versions": len(set(man.values())),
        })
    with tracer.span("store", "maintenance"):
        for name in ("rollup_1m", "rollup_1h", "rollup_1d", "tokens_1m"):
            store.compact(name)
        for tier, keep in RETAIN.items():
            store.expire(tier, keep)
        store.expire_tokens(RETAIN["1m"])
        store.expire_snapshots(2)
    return {"batches": batches}
