"""XXH64 (public algorithm, https://github.com/Cyan4973/xxHash spec) in
numpy over an Arrow string array, matching Spark's ``xxhash64`` SQL
function for string inputs.

Spark hashes a string column as XXH64(utf8_bytes, seed=42).  The driver
placement of the index build computes every distinct term's postings
bucket, ``pmod(xxhash64(term), n_buckets)``, with it: one vectorised pass
over the whole term array, each step of the algorithm run for every term
that still has input left (tested against the SQL function in
tests/test_operators.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl(acc + inp * _P2, 31) * _P1


def _merge_round(acc: np.ndarray, val: np.ndarray) -> np.ndarray:
    return (acc ^ _round(np.zeros_like(val), val)) * _P1 + _P4


def xxhash64(arr: pa.Array | pa.ChunkedArray, seed: int = 42) -> np.ndarray:
    """XXH64 of every value of a string (or binary) array; default seed 42
    = Spark's xxhash64.  Returns SIGNED 64-bit ints (Spark's LongType); a
    null hashes to the seed, as Spark skips null inputs."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    m = len(arr)
    offs = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + m + 1]
    data = arr.buffers()[2]
    # 8 bytes of padding: every word read below stays inside the buffer
    buf = np.concatenate(
        (np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8),
         np.zeros(8, np.uint8))
    )
    pos = offs[:-1].astype(np.int64)
    n = (offs[1:] - offs[:-1]).astype(np.int64)
    end = pos + n

    def word(at: np.ndarray, width: int) -> np.ndarray:
        """Little-endian ``width``-byte word at every offset in ``at``."""
        b = buf[at[:, None] + np.arange(width)].astype(np.uint64)
        return (b << (np.arange(width, dtype=np.uint64) * np.uint64(8))).sum(
            axis=1, dtype=np.uint64
        )

    with np.errstate(over="ignore"):
        s = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
        h = np.full(m, s + _P5, np.uint64)
        long = np.flatnonzero(n >= 32)
        if long.size:
            v = [
                np.full(long.size, s + _P1 + _P2, np.uint64),
                np.full(long.size, s + _P2, np.uint64),
                np.full(long.size, s, np.uint64),
                np.full(long.size, s - _P1, np.uint64),
            ]
            at = pos[long].copy()
            stripes = n[long] // 32
            for k in range(int(stripes.max())):
                live = np.flatnonzero(stripes > k)
                for j in range(4):
                    v[j][live] = _round(v[j][live], word(at[live] + 8 * j, 8))
                at[live] += 32
            acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for vj in v:
                acc = _merge_round(acc, vj)
            h[long] = acc
            pos[long] = at
        h = h + n.astype(np.uint64)
        while True:
            live = np.flatnonzero(end - pos >= 8)
            if not live.size:
                break
            k = _round(np.zeros(live.size, np.uint64), word(pos[live], 8))
            h[live] = _rotl(h[live] ^ k, 27) * _P1 + _P4
            pos[live] += 8
        live = np.flatnonzero(end - pos >= 4)
        if live.size:
            h[live] = _rotl(h[live] ^ (word(pos[live], 4) * _P1), 23) * _P2 + _P3
            pos[live] += 4
        while True:
            live = np.flatnonzero(end > pos)
            if not live.size:
                break
            h[live] = _rotl(h[live] ^ (buf[pos[live]].astype(np.uint64) * _P5), 11) * _P1
            pos[live] += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    out = h.view(np.int64)
    if arr.null_count:
        out[~np.asarray(arr.is_valid())] = seed
    return out


def term_buckets(terms: pa.Array | pa.ChunkedArray, n_buckets: int) -> np.ndarray:
    """pmod(xxhash64(term), n_buckets) of every term, as int32: the
    builder's bucket column."""
    return np.mod(xxhash64(terms), n_buckets).astype(np.int32)
