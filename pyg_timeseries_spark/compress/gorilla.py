"""Gorilla-style compression for downsampled series chunks (north_rule).

Implements the two codecs from Facebook's Gorilla paper (Pelkonen et al.,
VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory Time Series Database"):

* timestamps: delta-of-delta with the paper's variable-length bucket encoding
  ('0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+32b);
* float64 values: XOR with the previous value; '0' for identical, '10' +
  reuse of the previous leading/meaningful-bit window, '11' + 5b leading +
  6b length + meaningful bits.

This is an exact, lossless codec: decompress(compress(x)) round-trips
bit-for-bit (NaN payloads included), which the rollup store relies on for
the bit-exact invariant.  Pure NumPy/stdlib; chunks are per-(source, window)
so encode/decode run inside Arrow-batched pandas UDFs, never per-row Python
at the Spark layer (see chunks.py).

The reference's precedent for compressed storage is its int8/int16
correlation packing (/root/reference/src/pyg_timeseries/_cor.py:3-22); the
Gorilla requirement itself comes from BASELINE.json north_rule.
"""

from __future__ import annotations

import struct

import numpy as np


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, bits: int) -> int:
        """Next ``bits`` bits, MSB first.  One ``int.from_bytes`` over only
        the bytes the code covers keeps each read O(bits); shifting the
        whole buffer instead would make a long chunk's decode quadratic."""
        pos = self.pos
        end = pos + bits
        self.pos = end
        if bits == 1:  # the flag bits: most reads of a chunk
            return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1
        last = (end + 7) >> 3
        if last > len(self.data):  # a slice would clamp: truncated chunk
            raise IndexError(
                f"bit read past the end of a {len(self.data)}-byte chunk")
        word = int.from_bytes(self.data[pos >> 3:last], "big")
        return (word >> ((last << 3) - end)) & ((1 << bits) - 1)


# ---- timestamps: delta-of-delta ---------------------------------------------

def encode_timestamps(ts: np.ndarray) -> bytes:
    """ts: int64 array (e.g. epoch seconds or bucket indices), monotone."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    head = struct.pack("<qq", n, int(ts[0]) if n else 0)
    if n <= 1:
        return head
    w = _BitWriter()
    prev = int(ts[0])
    prev_delta = 0
    deltas = np.diff(ts)
    for d in deltas:
        dod = int(d) - prev_delta
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            # paper uses 32 bits here; widen to 64 so arbitrary gaps are
            # lossless (a >2^31 s jump must not corrupt the chunk)
            w.write(0b1111, 4)
            w.write(dod & 0xFFFFFFFFFFFFFFFF, 64)
        prev_delta = int(d)
        prev += prev_delta
    return head + w.getvalue()


def decode_timestamps(blob: bytes) -> np.ndarray:
    n, first = struct.unpack_from("<qq", blob, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = first
    if n == 1:
        return out
    r = _BitReader(blob[16:])
    prev, prev_delta = first, 0
    for i in range(1, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        prev_delta += dod
        prev += prev_delta
        out[i] = prev
    return out


# ---- values: XOR float compression ------------------------------------------

def encode_values(vals: np.ndarray) -> bytes:
    """float64 XOR compression (lossless, NaN-safe)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    head = struct.pack("<q", n)
    if n == 0:
        return head
    w = _BitWriter()
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_mlen = 65, 0  # invalid window → force '11' first time
    for i in range(1, n):
        cur = int(bits[i])
        xor = prev ^ cur
        if xor == 0:
            w.write(0, 1)
        else:
            lead = 64 - xor.bit_length()
            trail = (xor & -xor).bit_length() - 1
            if lead > 31:
                lead = 31
            mlen = 64 - lead - trail
            if prev_lead <= lead and (64 - prev_lead - prev_mlen) <= trail and prev_mlen:
                # reuse previous window
                w.write(0b10, 2)
                w.write(xor >> (64 - prev_lead - prev_mlen), prev_mlen)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(mlen - 1, 6)
                w.write(xor >> trail, mlen)
                prev_lead, prev_mlen = lead, mlen
        prev = cur
    return head + w.getvalue()


def decode_values(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<q", blob, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = _BitReader(blob[8:])
    prev = r.read(64)
    out[0] = prev
    lead, mlen = 65, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:
            xor = r.read(mlen) << (64 - lead - mlen)
        else:
            lead = r.read(5)
            mlen = r.read(6) + 1
            xor = r.read(mlen) << (64 - lead - mlen)
        prev ^= xor
        out[i] = prev
    return out.view(np.float64)


# ---- chunk = timestamps + values --------------------------------------------

def encode_chunk(ts: np.ndarray, vals: np.ndarray) -> bytes:
    tsb = encode_timestamps(ts)
    vb = encode_values(vals)
    return struct.pack("<q", len(tsb)) + tsb + vb


def decode_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    (tslen,) = struct.unpack_from("<q", blob, 0)
    ts = decode_timestamps(blob[8 : 8 + tslen])
    vals = decode_values(blob[8 + tslen :])
    return ts, vals
