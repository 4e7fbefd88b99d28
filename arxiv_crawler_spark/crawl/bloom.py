"""Sharded Bloom filter over the URL-seen set — fully decentralized.

The north_rule's "partitioned Bloom/cuckoo URL-seen filter": correctness is
always the exact anti-join against the ``seen`` table (crawler.py:152's set
membership re-expressed); the Bloom is a *pre-filter* that lets the vast
majority of genuinely-new links skip the expensive probe of a 10^10-row
table. A link that misses the Bloom is **definitely unseen** (no false
negatives); only Bloom hits continue into the exact anti-join.

Data path (nothing ever flows through the driver):

* **Shard files, COW per round.** The bitmap lives as one file per shard
  (``bloom/shard_NNNNN.npz`` inside a snapshot dir); the manifest maps
  shard id → file, and untouched shards carry forward by reference. Shards are
  keyed by ``pmod(url_hash, n_shards)`` — the same bucketing as the
  frontier/seen layout, so each executor touches only the shard bitmaps
  co-located with its key range.
* **Executor-side update** (``update_bloom_shards``): the round's newly
  seen hashes are shuffled by shard; each task loads its shard's previous
  bitmap from shared storage, ORs the new bits in, and writes the new
  shard file into the snapshot dir (atomic tmp+rename). Only (shard id,
  path) rows — ≤ n_shards of them — return to the driver.
* **Executor-side probe** (``bloom_flag``): candidate links are
  repartitioned by shard; each task lazily loads only the shard bitmaps
  its partition needs and flags each row in place. No whole-bitmap broadcast —
  at the 10^10-key sizing (~12 GB of bitmap) a per-round broadcast would
  be the scale-killer; per-task shard loads are a few MB each.

Sizing for 10^10 keys at 1% FPP is ~12 GB of bitmap total — e.g. 4096
shards × ~3 MB. Bit positions use Kirsch-Mitzenmacher double hashing
(g_i = h1 + i·h2 mod m) derived from the 64-bit url_hash, fully
numpy-vectorized; positions are independent of the shard assignment, so a
shard file is simply one row of the logical full bitmap. Shard files are
written and probed with the same ``N_HASHES`` hash count.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np

__all__ = ["N_HASHES", "ShardedBloom", "update_bloom_shards", "bloom_flag"]

# hash functions per key for ShardedBloom and for every shard file
N_HASHES = 7

_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _h2(h: np.ndarray) -> np.ndarray:
    """Second hash derived from the 64-bit key (fmix64-style remix)."""
    with np.errstate(over="ignore"):
        k = h ^ (h >> np.uint64(33))
        k = k * _MIX1
        k = k ^ (k >> np.uint64(29))
        k = k * _MIX2
        k = k ^ (k >> np.uint64(32))
    return k | np.uint64(1)  # odd → full-period stride


class ShardedBloom:
    """Bitmaps per shard; add/contains over int64 key arrays."""

    def __init__(self, n_shards: int = 32, bits_per_shard: int = 1 << 20, n_hashes: int = N_HASHES):
        self.n_shards = n_shards
        self.m = np.uint64(bits_per_shard)
        self.k = n_hashes
        self.bits = np.zeros((n_shards, bits_per_shard // 8), dtype=np.uint8)

    def _positions(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(shard_ids, positions[k, n]) for uint64 keys."""
        u = h.astype(np.int64).view(np.uint64)
        shard = (u % np.uint64(self.n_shards)).astype(np.int64)
        g1 = u % self.m
        g2 = _h2(u) % self.m
        with np.errstate(over="ignore"):
            pos = (g1[None, :] + np.arange(self.k, dtype=np.uint64)[:, None] * g2[None, :]) % self.m
        return shard, pos

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        shard, pos = self._positions(np.asarray(hashes))
        byte = (pos >> np.uint64(3)).astype(np.int64)
        bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
        for i in range(self.k):
            np.bitwise_or.at(self.bits, (shard, byte[i]), bit[i])

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership test → bool array (True = *maybe* seen)."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        shard, pos = self._positions(np.asarray(hashes))
        byte = (pos >> np.uint64(3)).astype(np.int64)
        bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
        out = np.ones(len(hashes), dtype=bool)
        for i in range(self.k):
            out &= (self.bits[shard, byte[i]] & bit[i]) != 0
        return out

    def save(self, path: str) -> None:
        np.savez_compressed(
            path, bits=self.bits, m=int(self.m), k=self.k, n_shards=self.n_shards
        )

    @classmethod
    def load(cls, path: str) -> "ShardedBloom":
        z = np.load(path)
        b = cls(int(z["n_shards"]), int(z["m"]), int(z["k"]))
        b.bits = z["bits"]
        return b


# ---------------------------------------------------------------------------
# distributed shard-file layer (executor-side update + probe)
# ---------------------------------------------------------------------------

def _pmod(h: np.ndarray, n: int) -> np.ndarray:
    """Spark-pmod over int64 (always non-negative) — the shard key must
    match the Spark-side ``F.pmod(url_hash, n_shards)`` repartition key."""
    return ((h % n) + n) % n


def _load_shard(base_path: str, rel: str | None, bits_per_shard: int) -> ShardedBloom:
    """One shard as a 1-shard filter: bit positions depend only on the key
    (never on the shard id), so row s of the logical bitmap behaves
    identically inside a ShardedBloom(1, ...)."""
    b = ShardedBloom(1, bits_per_shard)
    if rel:
        z = np.load(os.path.join(base_path, rel))
        b.bits = z["bits"]
    return b


def update_bloom_shards(
    hashes_df,
    base_path: str,
    shard_map: dict[str, str],
    snap: str,
    n_shards: int,
    bits_per_shard: int,
) -> dict[str, str]:
    """OR a round's newly-seen hashes into the shard bitmaps, executor-side.

    ``hashes_df``: DataFrame with an ``url_hash`` long column. Each touched
    shard is handled by exactly one task (applyInPandas group): load the
    previous shard file (COW — never mutated), add the new keys, write the
    new file into ``{snap}/bloom/`` atomically. Returns the merged
    shard-id → file map (untouched shards carry forward by reference).
    Idempotent under task retry and under a crashed round re-run: the file
    content is a pure function of (previous map, group contents).
    """
    import pandas as pd  # noqa: F401  (executor-side dependency)
    from pyspark.sql import functions as F

    bmap = dict(shard_map or {})

    def upd(key, pdf):
        import pandas as pd

        shard = int(key[0])
        b = _load_shard(base_path, bmap.get(str(shard)), bits_per_shard)
        b.add(pdf["url_hash"].to_numpy(np.int64))
        rel = f"{snap}/bloom/shard_{shard:05d}.npz"
        path = os.path.join(base_path, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp.npz"
        np.savez_compressed(tmp, bits=b.bits, m=bits_per_shard, k=N_HASHES, n_shards=1)
        os.replace(tmp, path)
        return pd.DataFrame({"shard": [shard], "path": [rel], "added": [len(pdf)]})

    rows = (
        hashes_df.select(
            "url_hash", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("_shard")
        )
        .groupBy("_shard")
        .applyInPandas(upd, "shard int, path string, added long")
        .collect()
    )
    for r in rows:
        bmap[str(r["shard"])] = r["path"]
    return bmap


def bloom_flag(
    links,
    base_path: str,
    shard_map: dict[str, str],
    n_shards: int,
    bits_per_shard: int,
    flag_col: str = "_maybe_seen",
):
    """Single-pass membership probe against the shard files, executor-side.

    Links are repartitioned on the shard key so each task loads only its
    co-located shard bitmaps (lazily, cached per task), and every row gets
    a ``flag_col`` boolean: True = Bloom hit (*maybe* seen — must be
    exact-checked against the seen table), False = *definitely unseen*.
    One repartition + one probe per round — the caller splits on the flag
    (or folds it into a join condition) instead of probing twice.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    bmap = dict(shard_map or {})
    schema = T.StructType(list(links.schema.fields) + [T.StructField(flag_col, T.BooleanType())])
    sess = links.sparkSession
    n_parts = max(1, min(n_shards, sess.sparkContext.defaultParallelism))

    def run(batches: Iterator) -> Iterator:
        cache: dict[int, ShardedBloom] = {}

        def get(s: int) -> ShardedBloom:
            if s not in cache:
                cache[s] = _load_shard(base_path, bmap.get(str(s)), bits_per_shard)
            return cache[s]

        for pdf in batches:
            h = pdf["url_hash"].to_numpy(np.int64)
            shards = _pmod(h, n_shards)
            mask = np.zeros(len(h), dtype=bool)
            for s in np.unique(shards):
                sel = shards == s
                mask[sel] = get(int(s)).contains(h[sel])
            out = pdf.copy()
            out[flag_col] = mask
            yield out

    return links.repartition(
        n_parts, F.pmod(F.col("url_hash"), F.lit(n_shards))
    ).mapInPandas(run, schema=schema)
