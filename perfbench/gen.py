"""Seeded input generator for the benchmark (FIXTURES.md F1 shape).

Every table has the ``input_hint`` columns ``(doc_id, tokens, n_tok,
source)`` plus the derived ``ts``; the measures-only backfill table drops
``tokens``.  Rules:

* five sources, ``web`` holding about 50% of the rows: every source ticks
  at its own cadence over the same window, so skew comes from cadence;
* 10% of each source's ``seq`` values are dropped, as whole minutes picked
  by the seed (6 in every hour), so 10% of the (source, 1m bucket) cells
  are empty;
* ``n_tok`` lies in [1, 256] and equals ``len(tokens)``; token ids lie in
  [0, 50257).

The seed changes the content, never the sizes: row counts per source and
the multiset of ``n_tok`` values are fixed by the spec alone (the seed only
permutes them and picks which minutes are gaps), so every seed
produces the same number of rows and tokens.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = 50_257
MAX_TOK = 256
GAP_FRAC = 0.10
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# (source, share of rows): each source's cadence is proportional to its share,
# so web ticks as often as the other four together.
SOURCES = (("web", 0.50), ("code", 0.20), ("books", 0.15), ("wiki", 0.10),
           ("chat", 0.05))

# Fixed content independent of the run seed: the n_tok multiset.
_SPEC_SEED = 20240101


@dataclass(frozen=True)
class Spec:
    """One generated table: ``minutes`` (whole hours) of history starting
    ``start_s``.

    ``web_per_min`` is web's rows per minute before gaps (60 = 1 s
    cadence); the other sources scale by their weight relative to web."""

    start_s: int
    minutes: int
    web_per_min: int
    with_tokens: bool

    def per_min(self, weight: float) -> int:
        return max(1, round(self.web_per_min * weight / SOURCES[0][1]))


def _n_tok_pool(n: int, salt: int) -> np.ndarray:
    rng = np.random.default_rng((_SPEC_SEED, salt, n))
    return rng.integers(1, MAX_TOK + 1, size=n, dtype=np.int32)


def _source_rows(spec: Spec, weight: float, idx: int,
                 rng: np.random.Generator) -> dict[str, np.ndarray]:
    per_min = spec.per_min(weight)
    step_us = 60_000_000 // per_min
    # the gaps are whole minutes, so they leave empty 1m buckets; every hour
    # loses the same number, so any hour-aligned slice has a fixed size
    hours = spec.minutes // 60
    n_gap = int(60 * GAP_FRAC)
    kept = np.sort(rng.random((hours, 60)).argsort(axis=1)[:, n_gap:], axis=1)
    minutes = (kept + 60 * np.arange(hours)[:, None]).ravel()
    slot = np.arange(per_min)
    keep = (minutes[:, None] * per_min + slot).ravel()
    seq = (spec.start_s - EPOCH_S) * per_min // 60 + keep
    # each minute's ticks start on the minute, so none spills into the next
    ts_us = (spec.start_s * 1_000_000
             + (minutes[:, None].astype(np.int64) * 60_000_000 + slot * step_us).ravel())
    n_tok = rng.permutation(_n_tok_pool(len(keep), idx))
    return {"seq": seq.astype(np.int64), "ts_us": ts_us, "n_tok": n_tok}


def generate(spec: Spec, seed: int) -> pa.Table:
    """The table for ``spec``, its content drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    pieces = []
    for idx, (name, weight) in enumerate(SOURCES):
        cols = _source_rows(spec, weight, idx, rng)
        seq_s = pc.utf8_lpad(pa.array(cols["seq"]).cast(pa.string()), 12, "0")
        doc_id = pc.binary_join_element_wise(name + "-", seq_s, "")
        arrays = {
            "doc_id": doc_id,
            "n_tok": pa.array(cols["n_tok"], pa.int32()),
            "source": pa.array(np.full(len(cols["seq"]), name)),
            "ts": pa.array(cols["ts_us"], pa.timestamp("us", tz="UTC")),
        }
        if spec.with_tokens:
            offsets = np.zeros(len(cols["n_tok"]) + 1, dtype=np.int32)
            np.cumsum(cols["n_tok"], out=offsets[1:])
            flat = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
            arrays["tokens"] = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(flat))
        pieces.append(pa.table(arrays))
    order = ["doc_id", "tokens", "n_tok", "source", "ts"]
    table = pa.concat_tables(pieces)
    return table.select([c for c in order if c in table.column_names])


def write(table: pa.Table, path: str, row_group_rows: int = 1 << 20) -> dict:
    """Write ``table`` as one parquet file; return rows and bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_rows)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def time_slices(table: pa.Table, start_s: int, step_s: int, n: int) -> list[pa.Table]:
    """Split ``table`` into ``n`` consecutive ``step_s``-second slices from
    ``start_s`` (time-ordered ingest batches)."""
    ts = pc.divide(table["ts"].cast(pa.int64()), 1_000_000)
    out = []
    for i in range(n):
        lo, hi = start_s + i * step_s, start_s + (i + 1) * step_s
        mask = pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi))
        out.append(table.filter(mask))
    return out
