"""Snapshot-store behaviors not covered by the crawl suites: seen-delta
compaction and COW bucket reuse."""

import os

import pytest
from pyspark.sql import functions as F

from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
from arxiv_crawler_spark.fixtures import gen_seeds, gen_world, spark_pages


def test_seen_compaction_preserves_dedupe(spark, tmp_path_factory):
    """With a tiny compaction threshold the delta chain must fold without
    changing the seen set or subsequent dedupe behavior."""
    pages = spark_pages(spark, gen_world(n_docs=40, seed=42)).cache()
    d = str(tmp_path_factory.mktemp("compact"))
    eng = CrawlEngine(
        spark, d, pages, CrawlConfig(mode="replay", max_papers=14, n_buckets=8)
    )
    eng.store.compact_seen_after = 5
    eng.bootstrap(gen_seeds(40))
    eng.run()
    m = eng.store.manifest()
    # the chain was folded at least once: far fewer dirs than rounds
    assert len(m["seen_deltas"]) <= 6, m["seen_deltas"]
    assert any("seen_compacted" in p for p in m["seen_deltas"])
    # tiered accounting: weights track how many round-deltas each run holds,
    # and no fold ever rewrote the whole chain into one run mid-crawl
    assert len(m["seen_delta_weights"]) == len(m["seen_deltas"])
    # every committed round contributed exactly one round-delta; folds must
    # conserve them (weight = folded round-delta count)
    assert sum(m["seen_delta_weights"]) == m["round"]
    assert all(w >= 1 for w in m["seen_delta_weights"])
    seen = eng.store.seen(m)
    # compaction must not duplicate or drop rows
    assert seen.count() == m["total_pops"] or seen.count() == seen.select("url").distinct().count()
    assert m["processed_count"] == 14
    # the fetched/edges logs fold the same way: bounded dir lists, one
    # fetched row per pop survives, and the trace is still pop-ordered
    assert len(m["fetched_deltas"]) <= 6 and any("fetched_compacted" in p for p in m["fetched_deltas"])
    assert sum(m["fetched_delta_weights"]) == m["round"]
    assert eng.store.fetched().count() == m["total_pops"]
    orders = [r["order"] for r in eng.trace().collect()]
    assert orders == sorted(orders) and len(orders) == m["total_pops"]


def test_snapshot_gc_keeps_live_state(spark, tmp_path_factory):
    """gc() must delete only snapshots the live manifest no longer
    references; every table stays readable and resume still works."""
    import os

    pages = spark_pages(spark, gen_world(n_docs=40, seed=42)).cache()
    d = str(tmp_path_factory.mktemp("gc"))
    eng = CrawlEngine(
        spark, d, pages, CrawlConfig(mode="replay", max_papers=12, n_buckets=8)
    )
    eng.bootstrap(gen_seeds(40))
    eng.run(max_rounds=8)
    m = eng.store.manifest()
    before_trace = [tuple(r) for r in eng.trace().collect()]
    before_seen = sorted(tuple(r) for r in eng.store.seen(m).collect())

    stats = eng.store.gc()
    assert stats["removed"] or stats["units_removed"], (
        "COW must have stranded at least one old snapshot or unit"
    )
    assert stats["bytes_freed"] > 0
    # file-level pass: stale units inside kept snapshot dirs (superseded
    # frontier buckets / folded delta runs / old bloom shards) are pruned
    assert stats["units_removed"] > 0
    # every referenced unit survives both passes
    for rel in (
        m["seen_deltas"]
        + m["fetched_deltas"]
        + m["edges_deltas"]
        + list(m["frontier_buckets"].values())
        + list((m.get("bloom_shards") or {}).values())
    ):
        assert os.path.exists(os.path.join(d, rel)), rel
    assert [tuple(r) for r in eng.trace().collect()] == before_trace
    assert sorted(tuple(r) for r in eng.store.seen().collect()) == before_seen
    assert eng.store.frontier().count() >= 0 and eng.store.edges().count() > 0

    # a fresh engine resumes over the gc'ed store and finishes the crawl
    eng2 = CrawlEngine(
        spark, d, pages, CrawlConfig(mode="replay", max_papers=12, n_buckets=8)
    )
    eng2.run()
    assert eng2.store.manifest()["processed_count"] == 12


def test_inline_gc_preserves_crawl(spark, tmp_path_factory):
    """gc_every_rounds: a crawl that expires snapshots mid-run produces the
    identical trace and seen set as one that never gc's."""
    pages = spark_pages(spark, gen_world(n_docs=40, seed=42)).cache()

    def run(gc_every):
        d = str(tmp_path_factory.mktemp(f"igc{gc_every}"))
        eng = CrawlEngine(
            spark, d, pages,
            CrawlConfig(mode="replay", max_papers=10, n_buckets=8,
                        gc_every_rounds=gc_every),
        )
        eng.bootstrap(gen_seeds(40))
        eng.run()
        return eng

    a, b = run(0), run(2)
    assert [tuple(r) for r in a.trace().collect()] == [tuple(r) for r in b.trace().collect()]
    assert sorted(tuple(r) for r in a.seen_statuses().collect()) == sorted(
        tuple(r) for r in b.seen_statuses().collect()
    )


# ------------------------------------------------------- iceberg backend
#
# Backend (a) of SURVEY.md §7.0.1: native Iceberg tables behind the same
# store contract. No Iceberg jars ship in this sandbox, so the end-to-end
# round-trip is gated on a configured catalog; the interface-parity and
# factory tests always run.


def test_iceberg_store_interface_parity(spark):
    """The sibling must expose the exact store surface the engine calls —
    a drop-in: same public methods, same commit signature."""
    import inspect

    from arxiv_crawler_spark.crawl.iceberg_store import IcebergSnapshotStore
    from arxiv_crawler_spark.crawl.store import SnapshotStore

    surface = [
        "exists", "manifest", "frontier", "seen", "fetched", "edges",
        "bloom_shards", "commit", "gc", "_empty_frontier", "_empty_seen",
    ]
    for name in surface:
        assert hasattr(IcebergSnapshotStore, name), name
    assert inspect.signature(IcebergSnapshotStore.commit) == inspect.signature(
        SnapshotStore.commit
    )


def test_iceberg_factory_refuses_without_catalog(spark, tmp_path_factory):
    """Requesting the iceberg backend without a configured catalog must be
    a loud error (silent parquet fallback would hide a misconfigured
    production deployment) — both via the factory and via CrawlConfig."""
    from arxiv_crawler_spark.crawl.iceberg_store import iceberg_available, make_store

    assert not iceberg_available(spark)
    with pytest.raises(RuntimeError, match="iceberg"):
        make_store(spark, str(tmp_path_factory.mktemp("ice")), backend="iceberg")
    with pytest.raises(RuntimeError, match="iceberg"):
        CrawlEngine(
            spark,
            str(tmp_path_factory.mktemp("ice2")),
            spark_pages(spark, gen_world(n_docs=4, seed=42)),
            CrawlConfig(store_backend="iceberg", max_papers=2),
        )


def test_iceberg_round_trip(spark, tmp_path_factory):
    """Full replay crawl on the Iceberg backend — runs only where Iceberg
    jars + a catalog are configured (e.g. spark-submit --packages
    org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 with
    spark.sql.catalog.iceberg=org.apache.iceberg.spark.SparkCatalog)."""
    from arxiv_crawler_spark.crawl.iceberg_store import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("no Iceberg catalog configured in this environment")
    pages = spark_pages(spark, gen_world(n_docs=12, seed=42))
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("ice_rt")),
        pages,
        CrawlConfig(mode="replay", max_papers=4, n_buckets=8,
                    store_backend="iceberg"),
    )
    eng.bootstrap(gen_seeds(12, n_seeds=2))
    eng.run()
    m = eng.store.manifest()
    assert m["round"] >= 1
    assert eng.store.seen(m).count() >= 4
