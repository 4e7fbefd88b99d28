"""64-bit URL hashing.

The north_rule asks for "URL canonicalization + 64-bit murmur hashing" to key
the frontier / seen tables (the reference keys its sets on raw arXiv-id
strings — crawler.py:57-59; at 10^10 URLs a fixed 8-byte key is what makes
the anti-join/Bloom machinery affordable).

Two interchangeable algorithms behind ``url_hash(col, algo=...)``:

* ``murmur64``  — low 64 bits of MurmurHash3 x64_128 (Austin Appleby's
  public-domain algorithm), implemented as a **vectorized numpy pandas UDF**
  (no per-row Python: the whole Arrow batch is zero-padded into one uint8
  matrix and all block mixing / tail / finalization steps run as whole-array
  uint64 ops). Spark's built-in ``F.hash`` is 32-bit murmur3 only, hence the
  UDF. A pure-Python port of the same reference algorithm lives in
  ``_murmur3_x64_128_py`` and is cross-checked in tests.
* ``xxhash64``  — Spark's built-in ``F.xxhash64`` (JVM-side, fastest; the
  default for the engine hot path).

``md5_hash64`` (first 60 bits of md5 as a positive int64, reproducible
verbatim in DuckDB as ``('0x'||substr(md5(x),1,15))::BIGINT``) serves the
oracle-checked queries.

The zero-padding trick: murmur3's tail switch accumulates ``byte << 8*i`` for
``i < len & 15`` only; reading the full 16-byte tail block from a
zero-padded buffer contributes exactly 0 for the padded positions, so the
tail (and the empty-tail case) needs no per-row branching.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

__all__ = ["url_hash", "md5_hash64", "murmur3_64_udf", "murmur3_x64_64_np"]

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_N1 = np.uint64(0x52DCE729)
_N2 = np.uint64(0x38495AB5)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    k = k ^ (k >> np.uint64(33))
    return k


def murmur3_x64_64_np(values: pd.Series, seed: int = 0) -> np.ndarray:
    """Low 64 bits of murmur3 x64_128 for a Series of str/bytes.

    Fully vectorized: one zero-padded ``(n, maxlen)`` uint8 matrix, viewed as
    little-endian uint64 pairs; per-16-byte-block body mixing is masked by
    each row's block count; the tail falls out of the zero padding.
    Returns int64 (two's-complement reinterpretation of the uint64 hash).
    """
    raw = [v.encode("utf-8") if isinstance(v, str) else (bytes(v) if v is not None else b"") for v in values]
    n = len(raw)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    # pad to a whole number of 16-byte blocks, with one spare block so a
    # row whose length is an exact multiple still has a (zero) tail block
    padded = ((maxlen // 16) + 1) * 16
    buf = np.zeros((n, padded), dtype=np.uint8)
    for i, b in enumerate(raw):
        if b:
            buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)

    ks = buf.view("<u8").reshape(n, -1, 2)  # (n, nblk_padded, 2)
    nblocks = (lens // 16).astype(np.int64)
    with np.errstate(over="ignore"):
        h1 = np.full(n, np.uint64(seed) & np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
        h2 = h1.copy()

        for j in range(ks.shape[1]):
            mask = j < nblocks
            if not mask.any():
                break
            k1 = ks[:, j, 0].copy()
            k2 = ks[:, j, 1].copy()
            k1 = _rotl64(k1 * _C1, 31) * _C2
            nh1 = _rotl64(h1 ^ k1, 27) + h2
            nh1 = nh1 * _M5 + _N1
            k2 = _rotl64(k2 * _C2, 33) * _C1
            nh2 = _rotl64(h2 ^ k2, 31) + nh1
            nh2 = nh2 * _M5 + _N2
            h1 = np.where(mask, nh1, h1)
            h2 = np.where(mask, nh2, h2)

        # tail: the block at index nblocks[i] is zero-padded past the string,
        # so unconditional mixing reproduces the switch-case exactly
        idx = np.arange(n)
        t1 = ks[idx, nblocks, 0]
        t2 = ks[idx, nblocks, 1]
        h2 = h2 ^ (_rotl64(t2 * _C2, 33) * _C1)
        h1 = h1 ^ (_rotl64(t1 * _C1, 31) * _C2)

        ulens = lens.astype(np.uint64)
        h1 = h1 ^ ulens
        h2 = h2 ^ ulens
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
    return h1.view(np.int64)


def _murmur3_x64_128_py(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Row-at-a-time pure-Python port of murmur3 x64_128 (test oracle only)."""
    MASK = 0xFFFFFFFFFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & MASK

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & MASK
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & MASK
        k ^= k >> 33
        return k

    length = len(data)
    nblocks = length // 16
    h1 = h2 = seed & MASK
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (rotl((k1 * c1) & MASK, 31) * c2) & MASK
        h1 = ((rotl(h1 ^ k1, 27) + h2) * 5 + 0x52DCE729) & MASK
        k2 = (rotl((k2 * c2) & MASK, 33) * c1) & MASK
        h2 = ((rotl(h2 ^ k2, 31) + h1) * 5 + 0x38495AB5) & MASK
    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
    k2 = int.from_bytes(tail[8:16].ljust(8, b"\0"), "little")
    h2 ^= (rotl((k2 * c2) & MASK, 33) * c1) & MASK
    h1 ^= (rotl((k1 * c1) & MASK, 31) * c2) & MASK
    h1 = (h1 ^ length) & MASK
    h2 = (h2 ^ length) & MASK
    h1 = (h1 + h2) & MASK
    h2 = (h2 + h1) & MASK
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & MASK
    h2 = (h2 + h1) & MASK
    return h1, h2


@pandas_udf(LongType())
def murmur3_64_udf(s: pd.Series) -> pd.Series:
    return pd.Series(murmur3_x64_64_np(s), dtype="int64")


def md5_hash64(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — JVM-side, and
    reproducible in DuckDB for the oracle queries."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def url_hash(c: Column, algo: str = "xxhash64") -> Column:
    """64-bit key for frontier/seen tables.

    ``xxhash64`` (default, JVM fast path) | ``murmur64`` (north_rule hash,
    numpy pandas UDF).
    """
    if algo == "xxhash64":
        return F.xxhash64(c)
    if algo == "murmur64":
        return murmur3_64_udf(c)
    raise ValueError(f"unknown url_hash algo: {algo}")
