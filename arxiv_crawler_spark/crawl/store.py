"""Snapshot store — Iceberg-shaped checkpointing on plain parquet.

No Iceberg/Delta jars are available in this sandbox (SURVEY.md §7.0), so the
store re-creates the two Iceberg behaviors the north_rule needs, behind an
interface an Iceberg catalog can replace verbatim:

* **Atomic snapshot commits.** The frontier lives in ``n_buckets`` hash
  buckets (``pmod(url_hash, n_buckets)`` — the same key the joins shuffle
  on), written as one bucket-partitioned parquet dir per snapshot. Every
  round writes the whole new frontier into its snapshot: a wave and its
  ~8 links per popped URL touch about min(n_buckets, 9·wave) buckets, so
  carrying untouched buckets forward would only pay off for waves of a few
  URLs. The manifest pointer is flipped with an ``os.replace`` (atomic on
  POSIX), so a crash mid-commit leaves the previous snapshot intact — this
  is the "resume exactly from a checkpoint" contract (vs. the reference,
  which rewrites its whole JSON state after every paper,
  crawler.py:76-85,266).

* **Append-only logs.** ``seen``, ``fetched`` and ``edges`` are chains of
  per-round delta directories (≙ papers.jsonl / citations.jsonl append
  logs, crawler.py:188-193; a popped URL's status never changes — failed
  ids are never retried, crawler.py:261-263). Every delta lives *inside
  its snapshot directory* and becomes visible only via the manifest flip:
  a crash after the data writes but before the flip leaves orphan files in
  an unreferenced snapshot dir, which the re-run clobbers — appends can
  never duplicate rows.

Per-partition lineage counters (frontier size per bucket, fetched, deduped,
politeness-deferred per host) live in each snapshot's manifest.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arxiv_crawler_spark.crawl.bloom import update_bloom_shards

__all__ = ["SnapshotStore"]

MANIFEST = "manifest.json"


class SnapshotStore:
    def __init__(
        self,
        path: str,
        spark: SparkSession,
        n_buckets: int = 32,
        compact_seen_after: int = 48,
        bloom_bits_per_shard: int = 1 << 20,
    ):
        self.path = path
        self.spark = spark
        self.n_buckets = n_buckets
        # bloom shard files reuse the bucket count so bitmap shards are
        # co-located with their seen/frontier key ranges
        self.bloom_bits_per_shard = bloom_bits_per_shard
        # the seen log is a delta chain, one dir per round, folded with
        # size-tiered (LSM-style) compaction: when more than
        # ``compact_seen_after`` runs share a tier (tier = log_T of how
        # many round-deltas a run contains), just THOSE runs merge into one
        # run of the next tier. Each fold touches only one tier — never
        # the whole 10^10-row table — for O(log) total write amplification,
        # while the dir count stays O(T · log T).
        self.compact_seen_after = compact_seen_after
        os.makedirs(path, exist_ok=True)

    # ---------------------------------------------------------------- io
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def exists(self) -> bool:
        return os.path.exists(self._manifest_path())

    def manifest(self) -> dict[str, Any]:
        with open(self._manifest_path()) as f:
            return json.load(f)

    def _write_manifest(self, m: dict[str, Any]) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic pointer flip

    # ------------------------------------------------------------- reads
    def frontier(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        m = manifest or self.manifest()
        dirs = sorted(set(m["frontier_buckets"].values()))
        paths = [os.path.join(self.path, d) for d in dirs if os.path.isdir(os.path.join(self.path, d))]
        if not paths:
            return self._empty_frontier()
        return self.spark.read.parquet(*paths)

    def seen(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        m = manifest or self.manifest()
        paths = [os.path.join(self.path, d) for d in m["seen_deltas"]]
        if not paths:
            return self._empty_seen()
        return self.spark.read.parquet(*paths)

    def fetched(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        m = manifest or self.manifest()
        paths = [os.path.join(self.path, d) for d in m.get("fetched_deltas", [])]
        if not paths:
            raise FileNotFoundError("no fetched data committed yet")
        return self.spark.read.parquet(*paths)

    def edges(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        m = manifest or self.manifest()
        paths = [os.path.join(self.path, d) for d in m.get("edges_deltas", [])]
        if not paths:
            raise FileNotFoundError("no edges committed yet")
        return self.spark.read.parquet(*paths)

    def bloom_shards(self, manifest: dict[str, Any] | None = None) -> dict[str, str] | None:
        """Shard-id → bitmap-file map, or None while the Bloom is inactive
        (it activates lazily once the seen set is big enough to pay off)."""
        m = manifest or self.manifest()
        return m.get("bloom_shards")

    def _empty_frontier(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "url_hash long, url string, host string, count long, depth int, discovery_seq long"
        )

    def _empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], "url_hash long, url string, status string")

    def is_referenced(self, snap: str, manifest: dict[str, Any] | None = None) -> bool:
        """True if the live manifest points into snapshot dir ``snap``."""
        m = manifest or (self.manifest() if self.exists() else None)
        if m is None:
            return False
        return (
            any(p.startswith(snap + "/") for p in m["frontier_buckets"].values())
            or any(p.startswith(snap + "/") for p in m["seen_deltas"])
            or any(p.startswith(snap + "/") for p in m.get("fetched_deltas", []))
            or any(p.startswith(snap + "/") for p in m.get("edges_deltas", []))
            or any(p.startswith(snap + "/") for p in (m.get("bloom_shards") or {}).values())
        )

    # ------------------------------------------------------------ commit
    def commit(
        self,
        round_no: int,
        *,
        frontier: DataFrame | None,
        seen_delta: DataFrame | None,
        fetched_delta: DataFrame | None = None,
        edges_delta: DataFrame | None = None,
        bloom_delta: DataFrame | None = None,
        meta: dict[str, Any] | None = None,
        extra_meta_job: Callable[[], dict[str, Any]] | None = None,
        tag: str = "",
    ) -> dict[str, Any]:
        """Write one snapshot.

        ``frontier`` is the *full new frontier*; every bucket of it is
        written into this snapshot (``None`` keeps the previous snapshot's
        frontier). ``tag`` distinguishes multiple snapshots at the same
        round number (e.g. re-seeding).

        ``bloom_delta`` (an ``url_hash`` DataFrame) is OR-ed into the bloom
        shard files executor-side (COW per shard, see crawl/bloom.py);
        passing it for the first time activates the Bloom.

        A pre-existing snapshot directory is a crashed previous attempt
        (its manifest was never flipped) and is clobbered — unless the
        *live* manifest references it, which is a caller bug.

        ``extra_meta_job`` runs in the same thread pool as the data writes
        (so its Spark job overlaps them — block-level cache locks pipeline
        shared inputs) and its returned dict is merged into the manifest
        last; the caller uses it for bookkeeping aggs over data being
        written (e.g. the frontier priority histogram).
        """
        snap = f"snapshots/r{round_no:06d}{tag}"
        snap_abs = os.path.join(self.path, snap)
        prev = self.manifest() if self.exists() else None
        if prev is not None:
            # heal the tail against the flipped manifest BEFORE this commit
            # can fold/clobber anything: covers a prior crash between the
            # flip and its tail publication (see _publish_tail)
            self._publish_tail(prev)
        if prev is not None and self.is_referenced(snap, prev):
            raise ValueError(f"refusing to overwrite live snapshot {snap}; pass a tag")
        if os.path.exists(snap_abs):
            shutil.rmtree(snap_abs)  # crashed previous attempt; manifest never flipped
        os.makedirs(snap_abs, exist_ok=True)
        buckets: dict[str, str] = dict(prev["frontier_buckets"]) if prev else {}
        seen_deltas: list[str] = list(prev["seen_deltas"]) if prev else []
        # weight = how many original round-deltas a run contains (tier key)
        seen_weights: list[int] = (
            list(prev.get("seen_delta_weights") or [1] * len(prev["seen_deltas"])) if prev else []
        )
        fetched_deltas: list[str] = list(prev.get("fetched_deltas", [])) if prev else []
        fetched_weights: list[int] = (
            list(prev.get("fetched_delta_weights") or [1] * len(prev.get("fetched_deltas", [])))
            if prev
            else []
        )
        edges_deltas: list[str] = list(prev.get("edges_deltas", [])) if prev else []
        edges_weights: list[int] = (
            list(prev.get("edges_delta_weights") or [1] * len(prev.get("edges_deltas", [])))
            if prev
            else []
        )

        # the four data writes are independent jobs → submit them from
        # threads so their stages overlap (Spark schedules concurrent jobs
        # from one session); wall cost ≈ the slowest write, not the sum
        jobs = []
        measured: dict[str, Any] = {}
        fdir = f"{snap}/frontier"
        if frontier is not None:

            def write_frontier():
                (
                    frontier.withColumn(
                        "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
                    )
                    .repartition(
                        max(1, min(self.n_buckets, 2 * self.spark.sparkContext.defaultParallelism)),
                        "bucket",
                    )
                    .sortWithinPartitions("bucket", "url_hash")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(os.path.join(self.path, fdir))
                )

            jobs.append(write_frontier)

        if seen_delta is not None:
            sdir = f"{snap}/seen_delta"
            # coalesce (no shuffle): one file per ~1M rows keeps the delta
            # chain scan-cheap without collapsing large waves onto one task;
            # sortWithinPartitions gives each row group a tight url_hash
            # min/max so the anti-join probe scan prunes on statistics
            jobs.append(
                lambda: seen_delta.coalesce(16)
                .sortWithinPartitions("url_hash")
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, sdir))
            )
            seen_deltas.append(sdir)
            seen_weights.append(1)
        if fetched_delta is not None:
            fdir2 = f"{snap}/fetched"
            jobs.append(
                lambda: fetched_delta.coalesce(16)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, fdir2))
            )
            fetched_deltas.append(fdir2)
            fetched_weights.append(1)
        if edges_delta is not None:
            edir = f"{snap}/edges"
            jobs.append(
                lambda: edges_delta.coalesce(16)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, edir))
            )
            edges_deltas.append(edir)
            edges_weights.append(1)
        bloom_shards = (dict(prev.get("bloom_shards") or {}) if prev else {}) or None
        if bloom_delta is not None:
            # 5th parallel job: executor-side shard update; only the merged
            # (shard → file) map comes back to the driver
            def write_bloom():
                nonlocal bloom_shards
                bloom_shards = update_bloom_shards(
                    bloom_delta,
                    self.path,
                    bloom_shards or {},
                    snap,
                    self.n_buckets,
                    self.bloom_bits_per_shard,
                )

            jobs.append(write_bloom)

        if extra_meta_job is not None:

            def run_extra():
                measured.update(extra_meta_job())

            jobs.append(run_extra)

        if jobs:
            with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
                futures = [ex.submit(j) for j in jobs]
                for f in futures:
                    f.result()  # re-raise any write failure before the flip

        if frontier is not None:
            # an empty bucket writes no dir and drops out of the map
            buckets = {
                d.split("=")[1]: f"{fdir}/{d}"
                for d in sorted(os.listdir(os.path.join(self.path, fdir)))
                if d.startswith("bucket=")
            }

        seen_deltas, seen_weights = self._compact_tiers(
            snap, seen_deltas, seen_weights, "seen", ["url_hash"]
        )
        fetched_deltas, fetched_weights = self._compact_tiers(
            snap, fetched_deltas, fetched_weights, "fetched", ["round", "global_order"]
        )
        edges_deltas, edges_weights = self._compact_tiers(
            snap, edges_deltas, edges_weights, "edges", ["round", "citing_url"]
        )

        m = {
            "round": round_no,
            "snapshot": snap,
            "frontier_buckets": buckets,
            "seen_deltas": seen_deltas,
            "seen_delta_weights": seen_weights,
            "fetched_deltas": fetched_deltas,
            "fetched_delta_weights": fetched_weights,
            "edges_deltas": edges_deltas,
            "edges_delta_weights": edges_weights,
            "bloom_shards": bloom_shards,
            **(meta or {}),
            **measured,
        }
        self._write_manifest(m)
        self._publish_tail(m)
        return m

    # ------------------------------------------------------------- tail
    _TAIL_LOGS = {"fetched": "fetched_deltas", "edges": "edges_deltas", "seen": "seen_deltas"}

    # log subdir name inside a snapshot dir, per tail log
    _TAIL_SUBDIRS = {"fetched": "fetched", "edges": "edges", "seen": "seen_delta"}

    def _publish_tail(self, m: dict[str, Any]) -> None:
        """Publish committed round deltas into ``tail/<log>/`` for the
        streaming tail (streaming/tail.py) — only ever called with a
        FLIPPED manifest, so the tail tree contains only committed data
        and a ``readStream`` over it is exactly-once by construction (a
        torn round's files are never published; its re-run publishes the
        rewrite once).

        Two publication sources, both idempotent (exists-check per file):

        1. every raw delta the manifest references (compacted runs are
           skipped — they rewrite rows the stream already consumed);
        2. the manifest's OWN snapshot's log subdirs, unconditionally —
           a round whose delta is tier-folded in its own commit is raw in
           NO manifest, yet it is committed data (the flip happened), so
           listing alone would silently drop every (T+1)-th round from
           the tail.

        Self-healing: commit() also runs this against the PREVIOUS
        manifest before writing anything, so a crash between a flip and
        its publication is repaired on the next store interaction —
        delayed, never wrong. Hardlinks cost no storage; a filesystem
        without them (cross-device, object stores) gets copies."""

        def link_dir(log: str, delta: str) -> None:
            src_dir = os.path.join(self.path, delta)
            if not os.path.isdir(src_dir):
                return  # raw delta already gc'd (past the tail horizon)
            tail_dir = os.path.join(self.path, "tail", log)
            prefix = delta.replace("/", "_")
            os.makedirs(tail_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                if not fn.endswith(".parquet"):
                    continue
                dst = os.path.join(tail_dir, f"{prefix}__{fn}")
                if os.path.exists(dst):
                    continue
                src = os.path.join(src_dir, fn)
                try:
                    os.link(src, dst)
                except OSError:  # cross-device / no-hardlink fs
                    shutil.copy2(src, dst)

        for log, key in self._TAIL_LOGS.items():
            for delta in m.get(key, []) or []:
                if "_compacted_t" not in delta:
                    link_dir(log, delta)
            link_dir(log, f"{m['snapshot']}/{self._TAIL_SUBDIRS[log]}")

    def publish_tail(self) -> None:
        """Heal the tail tree against the live manifest (e.g. before
        starting a stream over a store whose last writer crashed between
        the manifest flip and tail publication)."""
        if self.exists():
            self._publish_tail(self.manifest())

    def _gc_tail(self, m: dict[str, Any]) -> int:
        """Drop tail files whose source delta is no longer a raw manifest
        reference (compacted away / unreferenced). The stream consumed them
        long ago (live-consumption contract); hardlinked files occupy no
        extra space, but pruning keeps the tail listing O(horizon)."""
        removed = 0
        live = {
            d.replace("/", "_")
            for key in self._TAIL_LOGS.values()
            for d in (m.get(key, []) or [])
            if "_compacted_t" not in d
        }
        # the current snapshot's own publications are always live (they may
        # be raw in no manifest when folded in their own commit — see
        # _publish_tail source 2)
        live |= {
            f"{m['snapshot']}/{sub}".replace("/", "_")
            for sub in self._TAIL_SUBDIRS.values()
        }
        for log in self._TAIL_LOGS:
            tail_dir = os.path.join(self.path, "tail", log)
            if not os.path.isdir(tail_dir):
                continue
            for fn in os.listdir(tail_dir):
                if fn.rsplit("__", 1)[0] not in live:
                    try:
                        os.unlink(os.path.join(tail_dir, fn))
                        removed += 1
                    except OSError:
                        pass
        return removed

    def _referenced_paths(self, m: dict[str, Any]) -> set[str]:
        return (
            set(m["frontier_buckets"].values())
            | set(m["seen_deltas"])
            | set(m.get("fetched_deltas", []))
            | set(m.get("edges_deltas", []))
            | set((m.get("bloom_shards") or {}).values())
        )

    def gc(self, file_level: bool = True) -> dict[str, Any]:
        """Expire unreferenced snapshot data (Iceberg ``expire_snapshots`` +
        ``remove_orphan_files``).

        Every commit strands the data it replaced (the old frontier, folded
        seen/fetched/edges runs, superseded bloom shards);
        it stays on disk so the PREVIOUS manifest remains valid until the
        flip — but once a new manifest is live, anything it does not
        reference is garbage. Two passes:

        1. **dir-level**: delete whole snapshot dirs none of whose files
           are referenced by the live manifest;
        2. **file-level** (``file_level=True``): inside kept *older*
           snapshot dirs, delete unreferenced units — individual frontier
           bucket dirs, superseded delta runs, stale bloom shard files.
           Without this, one long-lived delta run pins its whole snapshot
           dir (dir-level alone reclaims nothing on a long crawl).

        The current snapshot dir is always kept whole. Returns
        {removed, kept, units_removed, bytes_freed}.
        """
        m = self.manifest()
        snaps_root = os.path.join(self.path, "snapshots")
        removed: list[str] = []
        kept: list[str] = []
        units_removed = 0
        freed = 0

        def sizeof(path: str) -> int:
            if os.path.isfile(path):
                try:
                    return os.path.getsize(path)
                except OSError:
                    return 0
            total = 0
            for root, _, files in os.walk(path):
                for fn in files:
                    try:
                        total += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
            return total

        for d in sorted(os.listdir(snaps_root)) if os.path.isdir(snaps_root) else []:
            snap = f"snapshots/{d}"
            if snap == m["snapshot"] or self.is_referenced(snap, m):
                kept.append(snap)
                continue
            full = os.path.join(snaps_root, d)
            freed += sizeof(full)
            shutil.rmtree(full)
            removed.append(snap)

        if file_level:
            refs = self._referenced_paths(m)

            def unit_referenced(rel: str) -> bool:
                return any(
                    r == rel or r.startswith(rel + "/") or rel.startswith(r + "/")
                    for r in refs
                )

            for snap in kept:
                if snap == m["snapshot"]:
                    continue  # never touch the just-written snapshot
                full = os.path.join(self.path, snap)
                units: list[str] = []
                for entry in sorted(os.listdir(full)):
                    sub = os.path.join(full, entry)
                    if entry in ("frontier", "bloom") and os.path.isdir(sub):
                        units += [f"{snap}/{entry}/{c}" for c in sorted(os.listdir(sub))]
                    else:
                        units.append(f"{snap}/{entry}")
                for rel in units:
                    if unit_referenced(rel):
                        continue
                    target = os.path.join(self.path, rel)
                    freed += sizeof(target)
                    if os.path.isdir(target):
                        shutil.rmtree(target)
                    else:
                        os.remove(target)
                    units_removed += 1
                # prune now-empty container dirs (and the snap dir itself)
                for entry in ("frontier", "bloom"):
                    sub = os.path.join(full, entry)
                    if os.path.isdir(sub) and not os.listdir(sub):
                        os.rmdir(sub)
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)

        tail_removed = self._gc_tail(m)

        return {
            "removed": removed,
            "kept": kept,
            "units_removed": units_removed,
            "tail_removed": tail_removed,
            "bytes_freed": freed,
        }

    def _compact_tiers(
        self,
        snap: str,
        deltas: list[str],
        weights: list[int],
        name: str,
        sort_cols: list[str],
    ) -> tuple[list[str], list[int]]:
        """Size-tiered fold of an append-only delta chain (LSM compaction).

        Tier of a run = floor(log_T(weight)) where weight = number of
        original round-deltas it contains and T = ``compact_seen_after``.
        When a tier holds more than T runs, exactly those runs merge into
        one sorted run of the next tier, written inside this snapshot
        (COW — old runs stay for previous manifests). Folds cascade, but a
        single fold never reads more than one tier — so no commit ever
        rewrites a whole 10^10-row table (the round-1 all-at-once fold was
        an O(|table|) periodic job; at scale that is a non-starter).
        Applied to ``seen`` (probed every round — sorted by url_hash for
        row-group pruning) and to the ``fetched``/``edges`` logs (so the
        manifest's dir lists stay O(T·log rounds) and old per-round
        snapshot dirs lose their last reference and become gc()-able).
        """
        T = max(2, self.compact_seen_after)

        def tier_of(w: int) -> int:
            t = 0
            while w >= T ** (t + 1):
                t += 1
            return t

        fold_no = 0
        while True:
            tiers: dict[int, list[int]] = {}
            for i, w in enumerate(weights):
                tiers.setdefault(tier_of(w), []).append(i)
            target = next((t for t in sorted(tiers) if len(tiers[t]) > T), None)
            if target is None:
                return deltas, weights
            idxs = tiers[target]
            paths = [os.path.join(self.path, deltas[i]) for i in idxs]
            cdir = f"{snap}/{name}_compacted_t{target}_{fold_no}"
            fold_no += 1
            (
                self.spark.read.parquet(*paths)
                .repartition(max(1, self.n_buckets // 4), *sort_cols)
                .sortWithinPartitions(*sort_cols)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, cdir))
            )
            folded_w = sum(weights[i] for i in idxs)
            drop = set(idxs)
            deltas = [d for i, d in enumerate(deltas) if i not in drop] + [cdir]
            weights = [w for i, w in enumerate(weights) if i not in drop] + [folded_w]
