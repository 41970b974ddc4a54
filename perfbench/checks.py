"""Output checks, run outside the timed region.  Each returns a list of
``(name, ok, detail)``; a failed check counts as a failed operation.

* backfill: every tier's measures equal a DuckDB oracle computed straight
  from the generated parquet (integer epoch arithmetic, no Spark involved);
* operators: the head+tail resume equals the full ``ewma_`` sweep bit for
  bit; ``ewma`` matches pandas ``ewm(com=n).mean()`` to a relative 1e-11 on
  the hot key and on a cold key; the Gorilla round trip is bit-exact;
* store: the live rows of every tier, and the token payload hash at 1m,
  equal a one-shot rollup over the retained window of all ingested raw.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

MEASURES = ["cnt", "sum_n_tok", "sum2_n_tok", "sum3_n_tok", "min_n_tok",
            "max_n_tok", "first_ts", "last_ts"]
TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}
HOT_KEY, COLD_KEY = "web", "chat"
EWM_RTOL = 1e-11


def _spark_tier(df) -> pd.DataFrame:
    from pyspark.sql import functions as F

    cols = [F.col("source"), F.unix_micros("bucket").alias("bucket")]
    for m in MEASURES:
        c = F.unix_micros(m) if m.endswith("_ts") else F.col(m).cast("long")
        cols.append(c.alias(m))
    return _sorted(df.select(*cols).toPandas())


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["source", "bucket"]).reset_index(drop=True)
    return out.astype({c: "int64" for c in out.columns if c != "source"})


def duckdb_tiers(parquet_path: str) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        out = {}
        for tier, width in TIER_US.items():
            out[tier] = _sorted(con.execute(f"""
                WITH r AS (
                  SELECT source, epoch_us(ts) AS t, CAST(n_tok AS BIGINT) AS v
                  FROM read_parquet('{parquet_path}'))
                SELECT source, (t // {width}) * {width} AS bucket,
                       count(v) AS cnt, CAST(sum(v) AS BIGINT) AS sum_n_tok,
                       CAST(sum(v * v) AS BIGINT) AS sum2_n_tok,
                       CAST(sum(v * v * v) AS BIGINT) AS sum3_n_tok,
                       min(v) AS min_n_tok, max(v) AS max_n_tok,
                       min(t) AS first_ts, max(t) AS last_ts
                FROM r GROUP BY 1, 2""").df())
        return out
    finally:
        con.close()


def _frame_check(name: str, got: pd.DataFrame, want: pd.DataFrame) -> tuple:
    if got.shape != want.shape:
        return (name, False, f"shape {got.shape} != {want.shape}")
    bad = [c for c in want.columns if not np.array_equal(got[c].to_numpy(),
                                                         want[c].to_numpy())]
    return (name, not bad, f"{len(got)} rows" + (f", differ: {bad}" if bad else ""))


def check_backfill(tiers: dict, raw_path: str) -> list[tuple]:
    """A backfill repetition's tiers compared with DuckDB."""
    want = duckdb_tiers(raw_path)
    return [_frame_check(f"backfill.{t}_vs_duckdb", _spark_tier(tiers[t]), want[t])
            for t in ("1m", "1h", "1d")]


def _key_ts_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.assign(ts=pdf["ts"].astype("int64"))
    return pdf.sort_values(["key", "ts"]).reset_index(drop=True)


def _bits_equal(a: pd.Series, b: pd.Series) -> bool:
    return np.array_equal(a.to_numpy(np.float64).view(np.int64),
                          b.to_numpy(np.float64).view(np.int64))


def check_operators(spark, tier_path: str, cut: str) -> list[tuple]:
    """One untimed operator suite whose outputs are collected and checked."""
    from perfbench.phases import EWM_N, noop, operators_rep
    from perfbench.trace import Tracer

    got: dict[str, pd.DataFrame] = {}

    def sink(name, df):
        if name in ("ewma_full", "ewma_head", "ewma_resume", "decode"):
            got[name] = _key_ts_sorted(df.toPandas())
        else:
            noop(df)

    operators_rep(spark, tier_path, cut, Tracer(), sink=sink)
    src = _key_ts_sorted(spark.read.parquet(tier_path).toPandas())
    full = got["ewma_full"]
    resumed = _key_ts_sorted(pd.concat([got["ewma_head"], got["ewma_resume"]]))
    same = (full[["key", "ts"]].equals(resumed[["key", "ts"]])
            and _bits_equal(full["ewma"], resumed["ewma"]))
    results = [("operators.ewma_resume_bitexact", same, f"{len(full)} rows")]

    for key in (HOT_KEY, COLD_KEY):
        want = src[src.key == key]["v"].ewm(com=EWM_N).mean().to_numpy()
        have = full[full.key == key]["ewma"].to_numpy()
        err = (float(np.max(np.abs(have - want) / np.maximum(np.abs(want), 1.0)))
               if len(have) == len(want) and len(want) else float("inf"))
        results.append((f"operators.ewma_vs_pandas_{key}", err <= EWM_RTOL,
                        f"{len(want)} rows, max rel err {err:.3g}"))

    back = got["decode"]
    same = (src[["key", "ts"]].equals(back[["key", "ts"]])
            and _bits_equal(src["v"], back["v"]))
    results.append(("operators.gorilla_roundtrip_bitexact", same, f"{len(src)} points"))
    return results


def check_store(spark, store_path: str, raw_paths: list[str]) -> list[tuple]:
    """Live store rows vs a one-shot rollup of every ingested batch, cut to
    the window each table retains."""
    from pyspark.sql import functions as F

    from perfbench.phases import RETAIN
    from pyg_timeseries_spark.plans.checkpoint import RollupStore
    from pyg_timeseries_spark.plans.rollup import rollup_all_tiers, rollup_from_raw

    store = RollupStore(store_path, spark)
    raw = spark.read.parquet(*raw_paths)
    oneshot = rollup_all_tiers(raw, tokens=None)
    results = []

    def retained(df, tier):
        hi = df.agg(F.max(F.unix_micros("bucket"))).first()[0]
        lo = hi - (RETAIN[tier] - 1) * TIER_US[tier]
        return df.filter(F.unix_micros("bucket") >= lo)

    for tier in ("1m", "1h", "1d"):
        live = _spark_tier(store.read_table(f"rollup_{tier}"))
        want = _spark_tier(retained(oneshot[tier], tier))
        results.append(_frame_check(f"store.rollup_{tier}_vs_oneshot", live, want))

    def token_hash(df):
        return _sorted(df.select(
            "source", F.unix_micros("bucket").alias("bucket"),
            F.xxhash64("tokens").alias("h"), F.size("tokens").cast("long").alias("n"),
        ).toPandas())

    live = token_hash(store.read_tokens("1m"))
    want = token_hash(retained(rollup_from_raw(raw, "1m", tokens="tokens"), "1m"))
    results.append(_frame_check("store.tokens_1m_hash_vs_oneshot", live, want))
    return results
