"""Vectorized XXH64 over variable-length byte strings (numpy).

Optimization r13 (guide §4.2): the minhash signing pass spent ~0.9 s per
invocation in interpreted JVM HOFs building k-token shingle strings and
hashing them (`transform(..., concat_ws(slice(...)))` + `xxhash64`).
Both steps move into the existing mapInArrow kernel — but the hash
FAMILY is the pinned cross-variant/oracle contract (Spark's
``xxhash64(shingle_string)`` with Spark's default seed 42), so this
module implements XXH64 itself, bit-for-bit, vectorized over a padded
(n_strings x max_len) uint8 matrix:

- full 32-byte stripes run lane-parallel with per-string masks (strings
  shorter than the current stripe index simply don't update);
- the <32-byte tail (8-byte rounds, one 4-byte round, byte rounds) runs
  masked the same way, gathered at per-string offsets;
- all arithmetic is uint64 with numpy's native mod-2^64 wraparound.

The algorithm follows the public XXH64 specification
(https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md).
Bit-parity with Spark's ``xxhash64`` (which seeds 42) is pinned in
tests/test_round13_opt.py over ASCII/UTF-8/empty/long inputs.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

_U64 = np.uint64


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _read64(m: np.ndarray, col: int) -> np.ndarray:
    """Little-endian u64 at fixed column ``col`` of the padded matrix."""
    return np.ascontiguousarray(m[:, col : col + 8]).view("<u8")[:, 0]


def xxh64(
    data: np.ndarray, lengths: np.ndarray, seed: int = 42
) -> np.ndarray:
    """XXH64 of n byte strings. ``data`` is an (n x width) uint8 matrix
    (rows zero-padded past their length; width >= max(lengths) + 0 —
    internal gathers never read past width + 31, which callers provide
    by padding width to max_len + 32). Returns uint64 hashes."""
    n, width = data.shape
    lengths = lengths.astype(np.int64, copy=False)
    seed = _U64(seed)

    h = np.full(n, seed + _P5, dtype=np.uint64)
    big = lengths >= 32
    if big.any():
        stripes = lengths // 32
        max_s = int(stripes.max())
        mask64 = (1 << 64) - 1
        acc1 = np.full(n, (int(seed) + int(_P1) + int(_P2)) & mask64, np.uint64)
        acc2 = np.full(n, (int(seed) + int(_P2)) & mask64, dtype=np.uint64)
        acc3 = np.full(n, seed, dtype=np.uint64)
        acc4 = np.full(n, (int(seed) - int(_P1)) & mask64, dtype=np.uint64)
        for s in range(max_s):
            m = stripes > s
            base = 32 * s
            for acc, lane in ((acc1, 0), (acc2, 1), (acc3, 2), (acc4, 3)):
                k = _read64(data, base + 8 * lane)
                upd = _rotl(acc + k * _P2, 31) * _P1
                np.copyto(acc, upd, where=m)
        hb = (
            _rotl(acc1, 1) + _rotl(acc2, 7) + _rotl(acc3, 12) + _rotl(acc4, 18)
        )
        for acc in (acc1, acc2, acc3, acc4):
            hb = (hb ^ (_rotl(acc * _P2, 31) * _P1)) * _P1 + _P4
        np.copyto(h, hb, where=big)

    h = h + lengths.astype(np.uint64)

    # tail: bytes at per-string offset 32*stripes, remaining < 32.
    off = np.where(big, (lengths // 32) * 32, 0).astype(np.int64)
    rem = lengths - off
    # gather a 32-byte tail window per string (zero padding past width
    # is guaranteed by the caller's width >= max_len + 32)
    rows = np.arange(n)[:, None]
    tail = data[rows, off[:, None] + np.arange(32)[None, :]]

    nwords = rem // 8
    for w in range(3):
        m = nwords > w
        if not m.any():
            continue
        k1 = np.ascontiguousarray(tail[:, 8 * w : 8 * w + 8]).view("<u8")[:, 0]
        k1 = _rotl(k1 * _P2, 31) * _P1
        np.copyto(h, _rotl(h ^ k1, 27) * _P1 + _P4, where=m)

    has4 = (rem & 4) != 0
    if has4.any():
        # the 4-byte word sits at per-string offset 8*nwords in the tail
        w4 = tail[rows, (8 * nwords)[:, None] + np.arange(4)[None, :]]
        k = np.ascontiguousarray(w4).view("<u4")[:, 0].astype(np.uint64)
        np.copyto(h, _rotl(h ^ (k * _P1), 23) * _P2 + _P3, where=has4)

    nbytes = rem & 3
    if nbytes.any():
        boff = 8 * nwords + np.where(has4, 4, 0)
        b3 = tail[rows, boff[:, None] + np.arange(3)[None, :]]
        for b in range(3):
            m = nbytes > b
            if not m.any():
                continue
            k = b3[:, b].astype(np.uint64)
            np.copyto(h, _rotl(h ^ (k * _P5), 11) * _P1, where=m)

    h = h ^ (h >> _U64(33))
    h = h * _P2
    h = h ^ (h >> _U64(29))
    h = h * _P3
    h = h ^ (h >> _U64(32))
    return h

