"""Spark's XXH64 in numpy: bit-identical to ``F.xxhash64`` over whole
Arrow batches.

Spark's ``xxhash64(c1, ..., cn)`` starts from seed 42 and chains: each
column's hash is the seed of the next.  A string column hashes its UTF-8
bytes with ``XXH64.hashUnsafeBytes``, an int with ``hashInt`` and a long
with ``hashLong``, so ``xxhash64(s, lit(i))`` is
``hash_int(i, hash_strings(s))`` and ``xxhash64(a, b)`` over longs is
``hash_long(b, hash_long(a))``.

All arithmetic is ``uint64`` and wraps as Java's ``long`` does; callers
reinterpret results with ``.view(np.int64)`` to get Spark's signed value.
Every helper takes its seed as a scalar or as a per-row array.
"""

from __future__ import annotations

import numpy as np

SEED = np.uint64(42)
P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
_U = [np.uint64(i) for i in range(65)]


def _rotl(x, r: int):
    return (x << _U[r]) | (x >> _U[64 - r])


def _fmix(h):
    h = h ^ (h >> _U[33])
    h = h * P2
    h = h ^ (h >> _U[29])
    h = h * P3
    return h ^ (h >> _U[32])


def _round(acc, word):
    return _rotl(acc + word * P2, 31) * P1


def _merge(h, acc):
    return (h ^ _round(np.uint64(0), acc)) * P1 + P4


def hash_int(value: int, seed=SEED):
    """``XXH64.hashInt`` of one int32 ``value``."""
    with np.errstate(over="ignore"):
        v = np.uint64(value & 0xFFFFFFFF)
        h = (np.asarray(seed, np.uint64) + P5 + _U[4]) ^ (v * P1)
        return _fmix(_rotl(h, 23) * P2 + P3)


def hash_long(value, seed=SEED):
    """``XXH64.hashLong``: ``value`` is an int64 or uint64 array."""
    with np.errstate(over="ignore"):
        v = np.asarray(value, np.int64).view(np.uint64)
        h = (np.asarray(seed, np.uint64) + P5 + _U[8]) ^ (_rotl(v * P2, 31) * P1)
        return _fmix(_rotl(h, 27) * P1 + P4)


def hash_strings(strings, seed=SEED) -> np.ndarray:
    """``XXH64.hashUnsafeBytes`` of each UTF-8 string of an Arrow
    ``string`` / ``large_string`` array (sliced arrays included); a null
    string keeps ``seed``, as Spark skips a null column.

    Work and memory are proportional to the total byte count: the
    32-byte stripe loop runs over the strings sorted by length, so each
    step touches only the strings that still have a stripe left, and the
    tail steps (three 8-byte words, one 4-byte word, three bytes at
    most) touch only the strings that need them."""
    import pyarrow as pa

    n = len(strings)
    bufs = strings.buffers()
    wide = np.int64 if pa.types.is_large_string(strings.type) else np.int32
    off = np.frombuffer(bufs[1], wide)[strings.offset : strings.offset + n + 1].astype(np.int64)
    data = np.zeros(8, np.uint8) if bufs[2] is None else np.frombuffer(bufs[2], np.uint8)
    # pad so a whole word can be read at every byte position, then view
    # the bytes as unaligned little-endian words starting at each byte
    data = np.concatenate([data, np.zeros(8, np.uint8)])
    words = np.ndarray((len(data) - 7,), "<u8", data, strides=(1,))
    quads = np.ndarray((len(data) - 3,), "<u4", data, strides=(1,))
    start, length = off[:-1], np.diff(off)
    seed = np.broadcast_to(np.asarray(seed, np.uint64), (n,))
    with np.errstate(over="ignore"):
        h = seed + P5
        n_stripes = length // 32
        if n_stripes.any():
            order = np.argsort(-n_stripes, kind="stable")
            live = n_stripes[order]
            long_rows = order[: np.count_nonzero(live)]
            s = seed[long_rows]
            v = [s + P1 + P2, s + P2, s.copy(), s - P1]
            pos = start[long_rows]
            for step in range(int(live[0])):
                m = np.count_nonzero(live > step)
                p = pos[:m] + 32 * step
                for lane in range(4):
                    v[lane][:m] = _round(v[lane][:m], words[p + 8 * lane])
            acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for lane in range(4):
                acc = _merge(acc, v[lane])
            h[long_rows] = acc
        h = h + length.astype(np.uint64)
        pos = start + 32 * n_stripes
        rest = length - 32 * n_stripes
        for _ in range(3):
            rows = np.flatnonzero(rest >= 8)
            if not rows.size:
                break
            k = _rotl(words[pos[rows]] * P2, 31) * P1
            h[rows] = _rotl(h[rows] ^ k, 27) * P1 + P4
            pos[rows] += 8
            rest[rows] -= 8
        rows = np.flatnonzero(rest >= 4)
        if rows.size:
            k = quads[pos[rows]].astype(np.uint64) * P1
            h[rows] = _rotl(h[rows] ^ k, 23) * P2 + P3
            pos[rows] += 4
            rest[rows] -= 4
        for _ in range(3):
            rows = np.flatnonzero(rest > 0)
            if not rows.size:
                break
            k = data[pos[rows]].astype(np.uint64) * P5
            h[rows] = _rotl(h[rows] ^ k, 11) * P1
            pos[rows] += 1
            rest[rows] -= 1
        h = _fmix(h)
    if strings.null_count:
        h = np.where(strings.is_valid().to_numpy(zero_copy_only=False), h, seed)
    return h
