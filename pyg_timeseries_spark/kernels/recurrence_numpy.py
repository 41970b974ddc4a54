"""Sequential recurrence kernels that are inherently path-dependent (output
feeds back into state): z-filter smoothing and hysteresis buffering.

Fresh implementations of the reference semantics:
  zmooth  /root/reference/src/pyg_timeseries/_zmooth.py:8-115
  buffer  /root/reference/src/pyg_timeseries/_rolling.py:294-332, 872-942

Both are exact sequential loops (resumable bit-for-bit), run per key inside
applyInPandas like the EWM kernels.
"""

from __future__ import annotations

import numpy as np

from pyg_timeseries_spark.kernels import cnative as _cnative

ZMOOTH_STATE_LEN = 3  # [t0, t2, prev]
BUFFER_STATE_LEN = 2  # [pos, band_carry]


def _c_round(x: float) -> float:
    return np.floor(abs(x) + 0.5) * (1.0 if x >= 0 else -1.0)


def _zmooth_arrays(a, smooth, w, max_move, exc_zero, s, res):
    """Array-typed twin of the zmooth loop (numba-JIT-able unchanged;
    smooth all-nan == 'no smooth').  Mutates s ([t0, t2, prev]) and res."""
    one_minus_w = 1.0 - w
    t0, t2, prev = s[0], s[1], s[2]
    vol = 0.0 if t0 == 0 else np.sqrt(t2 / t0)
    for i in range(a.shape[0]):
        ai = a[i]
        if ai != ai:
            continue
        if prev != prev:
            res[i] = ai
        else:
            v = ai - prev
            sign = np.sign(v)
            if vol > 0 and abs(v) > max_move * vol:
                si = smooth[i]
                if si != si:
                    v = sign * max_move * vol
                elif np.sign(si - prev) == sign:
                    v = si - prev
                else:
                    v = 0.0
            res[i] = prev + v
            if not (exc_zero and v == 0):
                t0 = t0 * w + one_minus_w
                t2 = t2 * w + one_minus_w * v * v
                vol = 0.0 if t0 == 0 else np.sqrt(t2 / t0)
        prev = res[i]
    s[0], s[1], s[2] = t0, t2, prev


try:  # pragma: no cover - exercised only on hosts with numba installed
    import numba as _numba

    _zmooth_jit = _numba.njit(nogil=True, cache=True)(_zmooth_arrays)
except ImportError:
    _zmooth_jit = None


def zmooth(a, n, smooth=None, max_move=4.2, exc_zero=False, state=None):
    """Z-filter + median-smooth outlier clamp with EWM vol state.

    Per valid row: move v = a[i] - prev is clamped when |v| > max_move * vol
    (vol = EWM rms of accepted moves); the clamp follows the smooth series
    when it moves the same direction, else caps at the band edge / holds.
    """
    if max_move == 0:
        raise ValueError("must provide a positive max_move")
    w = n / (n + 1.0) if n >= 1 else float(n)
    one_minus_w = 1.0 - w
    if state is None:
        t0, t2, prev = 0.0, 0.0, np.nan
    else:
        t0, t2, prev = (float(x) for x in state)
    if _zmooth_jit is not None or _cnative.available():
        s = np.array([t0, t2, prev])
        res = np.full(a.shape[0], np.nan)
        sm = (np.full(a.shape[0], np.nan) if smooth is None
              else np.ascontiguousarray(smooth, float))
        fn = _zmooth_jit if _zmooth_jit is not None else _cnative.zmooth_arrays
        fn(np.ascontiguousarray(a, float), sm, w, float(max_move),
           bool(exc_zero), s, res)
        return res, s
    res = np.full(a.shape[0], np.nan)
    vol = 0.0 if t0 == 0 else np.sqrt(t2 / t0)
    have_smooth = smooth is not None
    for i in range(a.shape[0]):
        ai = a[i]
        if ai != ai:
            continue
        if prev != prev:
            res[i] = ai
        else:
            v = ai - prev
            sign = np.sign(v)
            if vol > 0 and abs(v) > max_move * vol:
                si = smooth[i] if have_smooth else np.nan
                if si != si:
                    v = sign * max_move * vol
                elif np.sign(si - prev) == sign:
                    v = si - prev
                else:
                    v = 0.0
            res[i] = prev + v
            if not (exc_zero and v == 0):
                t0 = t0 * w + one_minus_w
                t2 = t2 * w + one_minus_w * v * v
                vol = 0.0 if t0 == 0 else np.sqrt(t2 / t0)
        prev = res[i]
    return res, np.array([t0, t2, prev])


def _buffer_arrays(a, band, unit, rounding_band, s, res):
    """Array-typed twin of the buffer loop (band always per-row).  Mutates
    s ([pos, band_carry]) and res."""
    pos, b = s[0], s[1]
    if pos != pos:
        pos = 0.0
    for i in range(a.shape[0]):
        ai = a[i]
        if ai != ai:
            continue
        bi = band[i]
        if bi == bi:
            b = bi
        if unit:
            b_in_unit = max(b / unit, rounding_band)
            a_in_unit = ai / unit
            lb = (np.floor(abs(a_in_unit - b_in_unit) + 0.5)
                  * (1.0 if a_in_unit - b_in_unit >= 0 else -1.0)) * unit
            ub = (np.floor(abs(a_in_unit + b_in_unit) + 0.5)
                  * (1.0 if a_in_unit + b_in_unit >= 0 else -1.0)) * unit
        else:
            lb = ai - b
            ub = ai + b
        if pos < lb:
            pos = lb
        elif pos > ub:
            pos = ub
        res[i] = pos
    s[0], s[1] = pos, b


try:  # pragma: no cover - exercised only on hosts with numba installed
    import numba as _numba2

    _buffer_jit = _numba2.njit(nogil=True, cache=True)(_buffer_arrays)
except ImportError:
    _buffer_jit = None


def buffer(a, band, unit=0.0, rounding_band=0.0, state=None):
    """Hysteresis band: hold the previous position while the target stays
    inside [a-band, a+band]; optional unit rounding of the band edges."""
    if state is None:
        pos, b = 0.0, 0.0
    else:
        pos, b = (float(x) for x in state)
    if pos != pos:
        pos = 0.0
    res = np.full(a.shape[0], np.nan)
    scalar_band = np.isscalar(band)
    if _buffer_jit is not None or _cnative.available():
        s = np.array([pos, b])
        band_arr = (np.full(a.shape[0], float(band)) if scalar_band
                    else np.ascontiguousarray(band, float))
        fn = _buffer_jit if _buffer_jit is not None else _cnative.buffer_arrays
        fn(np.ascontiguousarray(a, float), band_arr, float(unit),
           float(rounding_band), s, res)
        return res, s
    for i in range(a.shape[0]):
        ai = a[i]
        if ai != ai:
            continue
        bi = band if scalar_band else band[i]
        if bi == bi:
            b = bi
        if unit:
            b_in_unit = max(b / unit, rounding_band)
            a_in_unit = ai / unit
            # C-style round (half away from zero), matching the reference's
            # compiled round(); python's round() is banker's and diverges
            lb = _c_round(a_in_unit - b_in_unit) * unit
            ub = _c_round(a_in_unit + b_in_unit) * unit
        else:
            lb = ai - b
            ub = ai + b
        if pos < lb:
            pos = lb
        elif pos > ub:
            pos = ub
        res[i] = pos
    return res, np.array([pos, b])


def ewfill(a, fwd_n, bwd_n=None, decay_target=0.0, prev=np.nan, nxt=np.nan):
    """Two-sided exponential-decay gap fill toward ``decay_target``
    (reference `_rolling.py:155-179`): a missing row gets
    0.5·(prev·f + (1-f)·target) + 0.5·(next·b + (1-b)·target) where f/b decay
    per row of gap distance.  Vectorized per-gap (no Python loop).
    """
    from pyg_timeseries_spark.kernels.ewm_numpy import decay_weight

    fw = decay_weight(fwd_n)
    bw = fw if bwd_n is None else decay_weight(bwd_n)
    a = np.asarray(a, float)
    n = a.shape[0]
    res = a.copy()
    valid = ~np.isnan(a)
    idx = np.arange(n)
    prev0 = decay_target if prev != prev else prev
    nxt0 = decay_target if nxt != nxt else nxt

    # forward: index of last valid row at or before i (-1 if none)
    last = np.where(valid, idx, -1)
    last = np.maximum.accumulate(last)
    dist_f = idx - last  # >=1 on nan rows; last==-1 → idx+1 handled below
    dist_f = np.where(last < 0, idx + 1, dist_f)
    prev_vals = np.where(last >= 0, a[np.maximum(last, 0)], prev0)
    f = fw ** dist_f
    fwd_part = 0.5 * (prev_vals * f + (1 - f) * decay_target)

    # backward: index of next valid row at or after i (n if none)
    nxt_idx = np.where(valid, idx, n)
    nxt_idx = np.minimum.accumulate(nxt_idx[::-1])[::-1]
    dist_b = nxt_idx - idx
    dist_b = np.where(nxt_idx >= n, n - idx, dist_b)
    nxt_vals = np.where(nxt_idx < n, a[np.minimum(nxt_idx, n - 1)], nxt0)
    bvec = bw ** dist_b
    bwd_part = 0.5 * (nxt_vals * bvec + (1 - bvec) * decay_target)

    gap = ~valid
    res[gap] = fwd_part[gap] + bwd_part[gap]
    new_prev = a[valid][-1] if valid.any() else prev0
    new_nxt = a[valid][0] if valid.any() else nxt0
    return res, np.array([new_prev, new_nxt])


def rolling_tover(a, n=256, interval=None, state=None):
    """Rolling turnover / annualized-risk ratio (reference
    `_rolling.py:417-443, 1046-1058`): over the last n positions, annualized
    trading divided by annualized vol of positions.  NaN holds the previous
    position.  State: (positions ring[n], trades ring[n], j, total_variance,
    total_trades)."""
    if interval is None:
        interval = 1 / 260
    if state is None:
        positions = np.zeros(n)
        trades = np.zeros(n)
        j, total_variance, total_trades = 0, 0.0, 0.0
    else:
        positions = np.asarray(state[:n], float).copy()
        trades = np.asarray(state[n:2 * n], float).copy()
        j = int(state[2 * n])
        total_variance = float(state[2 * n + 1])
        total_trades = float(state[2 * n + 2])
    res = np.empty(a.shape[0])
    prev = positions[j - 1]  # the last position written (slot j is the oldest)
    total_years = n * interval
    for i in range(a.shape[0]):
        jj = (j + 1) % n
        ai = a[i]
        positions[j] = prev if ai != ai else ai
        trades[j] = abs(positions[j] - prev)
        total_variance += positions[j] ** 2 - positions[jj] ** 2
        total_trades += trades[j] - trades[jj]
        annual_variance = (total_variance * interval) / total_years
        annual_trading = total_trades / total_years
        res[i] = (
            np.nan if annual_variance <= 0
            else annual_trading / annual_variance ** 0.5
        )
        prev = positions[j]
        j = jj
    out_state = np.concatenate(
        [positions, trades, [float(j), total_variance, total_trades]]
    )
    return res, out_state
