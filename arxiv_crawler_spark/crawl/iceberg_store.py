"""Iceberg-backed SnapshotStore — backend (a) of SURVEY.md §7.0.1.

The parquet+manifest :class:`~arxiv_crawler_spark.crawl.store.SnapshotStore`
re-creates two Iceberg behaviors by hand (snapshot commits and an atomic
manifest flip). When real Iceberg jars and a catalog ARE on the
classpath, this sibling maps the same store contract onto native Iceberg
tables instead:

==================  =====================================================
store concept        Iceberg realization
==================  =====================================================
frontier rewrite     ``frontier`` table partitioned by ``bucket``;
                     per-round unconditional ``overwrite`` of the whole
                     table in one atomic snapshot (the analog of the
                     manifest's per-snapshot frontier dir)
seen/fetched/edges   append-only tables, ``writeTo(...).append()``
                     (Iceberg appends are atomic snapshot commits)
manifest flip        a ``rounds`` bookkeeping table written LAST; its
                     latest row records the per-table Iceberg snapshot
                     ids for the round plus the counters the scheduler
                     reads (round/processed/failed/pops/frontier_size/
                     histogram JSON). Readers time-travel each data
                     table to the recorded snapshot (``VERSION AS OF``),
                     so a crash between table commits leaves a readable
                     previous round — the same torn-commit guarantee the
                     manifest flip gives (resume reads only through the
                     last complete ``rounds`` row)
store.gc()           ``expire_snapshots`` + ``remove_orphan_files``
                     catalog procedures
bloom shards         unchanged — the sharded bitmap files are an engine
                     sidecar, not tabular data (they stay on the store
                     path and are referenced from the rounds row)
==================  =====================================================

Activation: ``CrawlEngine(..., config=CrawlConfig(store_backend="iceberg"))``
or ``make_store(spark, path, backend="iceberg", catalog="my_cat")``. The
backend requires a configured Spark Iceberg catalog
(``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``); this
sandbox ships no Iceberg jars, so the path is import-clean and interface-
tested here (tests/test_store.py::test_iceberg_backend_*) and exercised
end-to-end only where the jars exist — :func:`iceberg_available` is the
gate.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arxiv_crawler_spark.crawl.bloom import update_bloom_shards

__all__ = ["IcebergSnapshotStore", "iceberg_available", "make_store"]


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    """True when an Iceberg SparkCatalog named ``catalog`` is configured
    AND its implementation class is loadable (jars on the classpath)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # jar actually present?
        return True
    except Exception:
        return False


def make_store(
    spark: SparkSession,
    path: str,
    backend: str = "parquet",
    n_buckets: int = 32,
    catalog: str = "iceberg",
    namespace: str = "crawl",
    **kwargs: Any,
):
    """Store factory: ``backend='parquet'`` → the manifest SnapshotStore,
    ``backend='iceberg'`` → this module's sibling (raises if the catalog is
    not configured/loadable — a silent fallback would hide a misconfigured
    production deployment)."""
    if backend == "parquet":
        from arxiv_crawler_spark.crawl.store import SnapshotStore

        return SnapshotStore(path, spark, n_buckets=n_buckets, **kwargs)
    if backend == "iceberg":
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"iceberg backend requested but catalog {catalog!r} is not "
                "configured or its jars are missing "
                "(spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog)"
            )
        return IcebergSnapshotStore(
            path, spark, n_buckets=n_buckets, catalog=catalog, namespace=namespace, **kwargs
        )
    raise ValueError(f"unknown store backend: {backend}")


class IcebergSnapshotStore:
    """Drop-in SnapshotStore on native Iceberg tables (same read/commit
    surface the engine consumes: exists/manifest/frontier/seen/fetched/
    edges/bloom_shards/commit/gc)."""

    _FRONTIER_DDL = (
        "url_hash BIGINT, url STRING, host STRING, count BIGINT, "
        "depth INT, discovery_seq BIGINT, bucket INT"
    )
    # _round/_tag are commit-idempotency bookkeeping (stamped on every
    # append delta, stripped on read): re-running a torn round first
    # deletes that (round, tag)'s rows, so the appends are exactly-once
    # even though the rounds-row flip happens after the data writes
    _SEEN_DDL = "url_hash BIGINT, url STRING, status STRING, _round INT, _tag STRING"
    _ROUNDS_DDL = (
        "round INT, tag STRING, committed_order BIGINT, "
        "snapshot_ids STRING, bloom_shards STRING, meta STRING"
    )

    def __init__(
        self,
        path: str,
        spark: SparkSession,
        n_buckets: int = 32,
        catalog: str = "iceberg",
        namespace: str = "crawl",
        bloom_bits_per_shard: int = 1 << 20,
        **_: Any,
    ):
        self.path = path  # bloom sidecar files only; tables live in the catalog
        self.spark = spark
        self.n_buckets = n_buckets
        self.catalog = catalog
        self.namespace = namespace
        self.bloom_bits_per_shard = bloom_bits_per_shard
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        self._ensure_tables()

    # ---------------------------------------------------------------- ddl
    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _ensure_tables(self) -> None:
        s = self.spark
        s.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('frontier')} "
            f"({self._FRONTIER_DDL}) USING iceberg PARTITIONED BY (bucket) "
            # COW is the right trade for whole-table rewrites (every round
            # rewrites the frontier in full); MOR delete files would only
            # add merge cost on the every-round frontier scan
            "TBLPROPERTIES ('write.delete.mode'='copy-on-write', "
            "'write.update.mode'='copy-on-write', 'format-version'='2')"
        )
        s.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('seen')} ({self._SEEN_DDL}) "
            "USING iceberg PARTITIONED BY (bucket(32, url_hash)) "
            # bucketed by url_hash so the anti-join probe prunes on the
            # same key the engine shuffles on (≙ the parquet store's
            # hash-bucketed, url_hash-sorted delta files)
            "TBLPROPERTIES ('write.distribution-mode'='hash', 'format-version'='2')"
        )
        # fetched/edges schemas vary with engine options — created lazily on
        # first append (writeTo(...).createOrReplace on round 0, append after)
        s.sql(
            f"CREATE TABLE IF NOT EXISTS {self._tbl('rounds')} ({self._ROUNDS_DDL}) "
            "USING iceberg TBLPROPERTIES ('format-version'='2')"
        )

    # ------------------------------------------------------------- state
    def exists(self) -> bool:
        return self.spark.table(self._tbl("rounds")).limit(1).count() > 0

    def _last_round_row(self):
        return (
            self.spark.table(self._tbl("rounds"))
            .orderBy(F.desc("committed_order"))
            .limit(1)
            .collect()
        )

    def manifest(self) -> dict[str, Any]:
        """The scheduler-facing manifest dict, rebuilt from the latest
        ``rounds`` row (same keys the parquet store's manifest carries)."""
        rows = self._last_round_row()
        if not rows:
            raise FileNotFoundError("no round committed yet")
        r = rows[0]
        m = json.loads(r["meta"])
        m["round"] = int(r["round"])
        m["snapshot_ids"] = json.loads(r["snapshot_ids"])
        m["bloom_shards"] = json.loads(r["bloom_shards"]) if r["bloom_shards"] else None
        return m

    # ------------------------------------------------------------- reads
    def _read(self, name: str, manifest: dict[str, Any] | None) -> DataFrame:
        m = manifest or self.manifest()
        snap_id = m["snapshot_ids"].get(name)
        if snap_id is None:
            raise FileNotFoundError(f"no {name} data committed yet")
        # time-travel to the snapshot the round row recorded: commits to
        # other tables after a torn round are invisible, exactly like an
        # un-flipped manifest
        df = self.spark.read.option("snapshot-id", snap_id).table(self._tbl(name))
        return df.drop("_round", "_tag")

    def frontier(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        try:
            return self._read("frontier", manifest).drop("bucket")
        except FileNotFoundError:
            return self._empty_frontier()

    def seen(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        try:
            return self._read("seen", manifest)
        except FileNotFoundError:
            return self._empty_seen()

    def fetched(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        return self._read("fetched", manifest)

    def edges(self, manifest: dict[str, Any] | None = None) -> DataFrame:
        return self._read("edges", manifest)

    def bloom_shards(self, manifest: dict[str, Any] | None = None) -> dict[str, str] | None:
        m = manifest or self.manifest()
        return m.get("bloom_shards")

    def _empty_frontier(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "url_hash long, url string, host string, count long, depth int, discovery_seq long"
        )

    def _empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], "url_hash long, url string, status string")

    # ------------------------------------------------------------ commit
    def _snapshot_id(self, name: str) -> int | None:
        """The table's CURRENT snapshot, read from the main branch ref.
        Not a timestamp sort: Iceberg snapshot ids are random and
        ``committed_at`` has millisecond granularity, so two back-to-back
        commits (the frontier's overwritePartitions + emptied-bucket
        DELETE) can share a timestamp and a sort would be free to record
        the pre-delete snapshot — resurfacing drained buckets on read."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._tbl(name)}.refs WHERE name = 'main'"
        ).collect()
        return int(rows[0][0]) if rows else None

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
        """One round commit. Table writes first (each an atomic Iceberg
        snapshot), the ``rounds`` bookkeeping row LAST — it is the commit
        pointer. ``frontier`` is the full new frontier, as in the parquet
        store."""
        prev = self.manifest() if self.exists() else None
        snap_ids: dict[str, int] = dict(prev["snapshot_ids"]) if prev else {}

        if frontier is not None:
            fr = frontier.withColumn(
                "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
            )
            # dynamic overwrite would keep partitions absent from `fr` (e.g.
            # a bucket that drained empty) — an unconditional overwrite
            # replaces the whole table contents in one atomic snapshot
            fr.writeTo(self._tbl("frontier")).overwrite(F.lit(True))
            snap_ids["frontier"] = self._snapshot_id("frontier")

        def _append(name: str, df: DataFrame | None, lazy_create: bool = True) -> None:
            """Idempotent round append: a crash between the data appends and
            the rounds-row flip leaves this (round, tag)'s rows in the table
            with no manifest reference; the re-run deletes them before
            appending, so re-executed rounds never duplicate log rows (the
            parquet store gets the same guarantee by clobbering the crashed
            snapshot directory)."""
            if df is None:
                return
            df = df.withColumn("_round", F.lit(round_no).cast("int")).withColumn(
                "_tag", F.lit(tag)
            )
            table_live = (not lazy_create) or name in snap_ids
            if table_live:
                # tag is caller-supplied public API: escape embedded quotes
                # so a tag like "r'1" can't break (or inject into) the SQL
                tag_sql = str(tag).replace("'", "''")
                self.spark.sql(
                    f"DELETE FROM {self._tbl(name)} "
                    f"WHERE _round = {int(round_no)} AND _tag = '{tag_sql}'"
                )
                df.writeTo(self._tbl(name)).append()
            else:
                # fetched/edges only: schema varies with engine options, so
                # the table is created from the first delta. seen is never
                # created here — createOrReplace would silently drop the
                # bucket(32, url_hash) spec and write properties
                # _ensure_tables declared for anti-join pruning.
                df.writeTo(self._tbl(name)).using("iceberg").createOrReplace()
            snap_ids[name] = self._snapshot_id(name)

        _append("seen", seen_delta, lazy_create=False)
        _append("fetched", fetched_delta)
        _append("edges", edges_delta)

        bloom = (prev or {}).get("bloom_shards")
        if bloom_delta is not None:
            bloom = update_bloom_shards(
                bloom_delta,
                self.path,
                bloom or {},
                f"snapshots/r{round_no:06d}{tag}",
                self.n_buckets,
                self.bloom_bits_per_shard,
            )

        measured: dict[str, Any] = {}
        if extra_meta_job is not None:
            measured = extra_meta_job()

        m = {**(meta or {}), **measured}
        order = (prev.get("committed_order", 0) + 1) if prev else 1
        m["committed_order"] = order
        row = self.spark.createDataFrame(
            [
                (
                    round_no,
                    tag,
                    order,
                    json.dumps(snap_ids),
                    json.dumps(bloom) if bloom else None,
                    json.dumps(m),
                )
            ],
            self._ROUNDS_DDL,
        )
        row.writeTo(self._tbl("rounds")).append()  # ← the atomic flip
        out = dict(m)
        out["round"] = round_no
        out["snapshot_ids"] = snap_ids
        out["bloom_shards"] = bloom
        return out

    # ---------------------------------------------------------------- gc
    def gc(self, file_level: bool = True) -> dict[str, Any]:
        """Iceberg-native maintenance. Retention is pinned to the snapshot
        ids the last committed ``rounds`` row references — NOT blanket
        ``retain_last => 1``, which keeps only each table's latest snapshot:
        after a torn round the tables carry newer uncommitted snapshots, and
        latest-only retention would expire exactly the snapshots the
        manifest time-travels to, breaking ``_read``. Bounding
        ``older_than`` by the referenced snapshot's own commit timestamp
        expires strictly-older history while the referenced snapshot (and
        anything newer) survives; superseded torn snapshots age out on the
        next gc after a newer round commits past them."""
        kept = self.manifest()["snapshot_ids"] if self.exists() else {}
        freed = 0
        for name in ("frontier", "seen", "fetched", "edges", "rounds"):
            try:
                snap = kept.get(name)
                ts = None
                if snap is not None:
                    rows = self.spark.sql(
                        f"SELECT committed_at FROM {self._tbl(name)}.snapshots "
                        f"WHERE snapshot_id = {int(snap)}"
                    ).collect()
                    ts = rows[0][0] if rows else None
                if ts is not None:
                    lit = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
                    self.spark.sql(
                        f"CALL {self.catalog}.system.expire_snapshots("
                        f"table => '{self.namespace}.{name}', "
                        f"older_than => TIMESTAMP '{lit}', retain_last => 1)"
                    )
                else:
                    # no manifest reference (e.g. the rounds table itself):
                    # latest-only retention is safe
                    self.spark.sql(
                        f"CALL {self.catalog}.system.expire_snapshots("
                        f"table => '{self.namespace}.{name}', retain_last => 1)"
                    )
                if file_level:
                    self.spark.sql(
                        f"CALL {self.catalog}.system.remove_orphan_files("
                        f"table => '{self.namespace}.{name}')"
                    )
            except Exception:
                # a table not created yet (lazy fetched/edges) is not an error
                if name in kept:
                    raise
        return {"bytes_freed": freed, "snapshots_expired": -1}
