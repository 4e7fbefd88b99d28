"""t3: crawl-trace replay — the engine in replay mode (wave K=1) must
reproduce the reference scheduler's pop ordering bit-for-bit, and wave mode
must preserve the final URL-seen set (SURVEY.md §7.3.1, BASELINE.json
north_rule correctness gate)."""

import pytest

from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
from arxiv_crawler_spark.extraction.tei import extract_citations
from arxiv_crawler_spark.fixtures import arxiv_id_of, gen_seeds, gen_world, spark_pages, url_of
from arxiv_crawler_spark.oracle.refcrawler import (
    crawl_oracle,
    extraction_world,
    seen_set,
)

N_DOCS = 60
MAX_PAPERS = 24  # exercises the BFS→citations phase switch at 12


@pytest.fixture(scope="module")
def world_pdf():
    return gen_world(n_docs=N_DOCS, seed=42)


@pytest.fixture(scope="module")
def oracle_out(world_pdf):
    world = extraction_world(
        {
            row["url"].rsplit("/", 1)[1]: extract_citations(row["html"])
            for _, row in world_pdf.iterrows()
        }
    )
    seeds = gen_seeds(N_DOCS)
    trace, st = crawl_oracle(world, seeds, max_papers=MAX_PAPERS)
    return world, seeds, trace, st


def _id_to_url(aid: str) -> str:
    return f"https://arxiv.org/abs/{aid}"


def test_oracle_sanity(oracle_out):
    _, _, trace, st = oracle_out
    assert len([t for t in trace if t.status == "processed"]) == MAX_PAPERS
    assert any(t.status == "failed" for t in trace)  # dangling ids exercised
    assert any(t.phase == "citations" for t in trace)  # phase switch hit
    assert any(t.phase == "bfs" for t in trace)


@pytest.fixture(scope="module")
def replay_engine(spark, world_pdf, oracle_out, tmp_path_factory):
    _, seeds, _, _ = oracle_out
    pages = spark_pages(spark, world_pdf).cache()
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("store_replay")),
        pages,
        CrawlConfig(mode="replay", max_papers=MAX_PAPERS, n_buckets=8, use_bloom=True, bloom_min_seen=0),
    )
    eng.bootstrap(seeds)
    eng.run()
    return eng


def test_replay_trace_matches_oracle(replay_engine, oracle_out):
    _, _, trace, _ = oracle_out
    got = replay_engine.trace().collect()
    assert len(got) == len(trace)
    for g, t in zip(got, trace):
        assert g["url"] == _id_to_url(t.arxiv_id), (g, t)
        assert g["order"] == t.order
        assert g["depth"] == t.depth
        assert g["count_at_pop"] == t.count_at_pop
        assert g["phase"] == t.phase
        assert g["status"] == t.status


def test_replay_seen_set_matches_oracle(replay_engine, oracle_out):
    _, _, _, st = oracle_out
    want = {_id_to_url(a): s for a, s in seen_set(st).items()}
    got = {r["url"]: r["status"] for r in replay_engine.seen_statuses().collect()}
    assert got == want


def test_replay_extracted_text_byte_identical(replay_engine, world_pdf):
    """input_hint invariant: extracted text per url == fixture oracle text."""
    texts = dict(zip(world_pdf["url"], world_pdf["text"]))
    rows = replay_engine.store.fetched().filter("status = 'processed'").collect()
    assert rows
    for r in rows:
        assert r["extracted_text"] == texts[r["url"]], r["url"]


def test_wave_mode_seen_set_equal(spark, world_pdf, oracle_out, tmp_path_factory):
    """Wave K>1 guarantees the order-insensitive half of the contract: a
    superset crawl that, run to frontier exhaustion with the same failure
    world, ends with the same URL-seen partition for the URLs the reference
    visited... here: with budget ≥ reachable set, final seen sets (statuses)
    must be identical because both exhaust the same reachable component."""
    world, seeds, _, _ = oracle_out
    # run BOTH to exhaustion (budget > reachable set size)
    trace, st = crawl_oracle(world, seeds, max_papers=10_000)
    pages = spark_pages(spark, world_pdf)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("store_wave")),
        pages,
        CrawlConfig(
            mode="wave",
            max_papers=10_000,
            wave_size=16,
            round_seconds=48.0,  # budget 16/host/round
            n_buckets=8,
        ),
    )
    eng.bootstrap(seeds)
    eng.run(max_rounds=100)
    want = {_id_to_url(a): s for a, s in seen_set(st).items()}
    got = {r["url"]: r["status"] for r in eng.seen_statuses().collect()}
    assert got == want


def test_throughput_mode_seen_set_equal(spark, world_pdf, oracle_out, tmp_path_factory):
    """exact_lineage=False (the bench's throughput mode: no new-link /
    deduped sum; frontier size from the histogram agg over the new
    frontier, as in exact mode) must still crawl the exact same set."""
    world, seeds, _, _ = oracle_out
    trace, st = crawl_oracle(world, seeds, max_papers=10_000)
    pages = spark_pages(spark, world_pdf)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("store_tput")),
        pages,
        CrawlConfig(
            mode="wave", max_papers=10_000, wave_size=16, round_seconds=48.0,
            n_buckets=8, exact_lineage=False,
        ),
    )
    eng.bootstrap(seeds)
    eng.run(max_rounds=100)
    m = eng.store.manifest()
    assert m["frontier_size"] == 0  # measured (not -1) even in throughput mode
    want = {_id_to_url(a): s for a, s in seen_set(st).items()}
    got = {r["url"]: r["status"] for r in eng.seen_statuses().collect()}
    assert got == want


def test_distributed_bloom_equivalence_and_layout(spark, world_pdf, oracle_out, tmp_path_factory):
    """The executor-side bloom pre-filter must be semantically invisible
    (identical final seen set vs use_bloom=False) and must exist as COW
    shard files referenced from the manifest — no monolithic bitmap."""
    import os

    _, seeds, _, _ = oracle_out
    pages = spark_pages(spark, world_pdf)

    def run(use_bloom, name):
        eng = CrawlEngine(
            spark,
            str(tmp_path_factory.mktemp(name)),
            pages,
            CrawlConfig(
                mode="wave", max_papers=10_000, wave_size=16, round_seconds=48.0,
                n_buckets=8, use_bloom=use_bloom, bloom_min_seen=0,
            ),
        )
        eng.bootstrap(seeds)
        eng.run(max_rounds=100)
        return eng

    with_bloom = run(True, "bloom_on")
    without = run(False, "bloom_off")
    sa = sorted(tuple(r) for r in with_bloom.seen_statuses().collect())
    sb = sorted(tuple(r) for r in without.seen_statuses().collect())
    assert sa == sb

    m = with_bloom.store.manifest()
    shards = m["bloom_shards"]
    assert shards, "bloom should have activated (bloom_min_seen=0)"
    assert "bloom_file" not in m  # the monolithic bitmap is gone
    for rel in shards.values():
        assert rel.startswith("snapshots/") and "/bloom/shard_" in rel
        assert os.path.exists(os.path.join(with_bloom.store.path, rel))
    assert without.store.manifest()["bloom_shards"] is None


def test_bloom_mid_crawl_activation(spark, world_pdf, oracle_out, tmp_path_factory):
    """With a nonzero activation threshold the bloom starts inactive, folds
    the ENTIRE seen set in when the threshold is crossed mid-crawl, and the
    final seen set still matches the oracle (a partial fold would create
    bloom false negatives → urls crawled twice)."""
    world, seeds, _, _ = oracle_out
    _, st = crawl_oracle(world, seeds, max_papers=10_000)
    pages = spark_pages(spark, world_pdf)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("bloom_mid")),
        pages,
        CrawlConfig(
            mode="wave", max_papers=10_000, wave_size=16, round_seconds=48.0,
            n_buckets=8, use_bloom=True, bloom_min_seen=20,  # crosses after ~round 1
        ),
    )
    eng.bootstrap(seeds)
    eng.run(max_rounds=100)
    ms = eng.store.manifest()
    assert ms["bloom_shards"], "threshold crossed — bloom must be active"
    want = {_id_to_url(a): s for a, s in seen_set(st).items()}
    got = {r["url"]: r["status"] for r in eng.seen_statuses().collect()}
    assert got == want


def test_lineage_counters(replay_engine):
    m = replay_engine.store.manifest()
    lin = m["lineage"]
    assert lin["fetched"] == 1  # replay waves are single pops
    assert lin["frontier_size"] == m["frontier_size"] == sum(m["bucket_sizes"].values())
    assert m["processed_count"] == MAX_PAPERS


def test_replay_with_murmur64_hash(spark, world_pdf, oracle_out, tmp_path_factory):
    """The north_rule murmur hash drives the same replay result (hash choice
    must not affect scheduling semantics)."""
    world, seeds, _, _ = oracle_out
    # phase switching depends on max_papers, so the oracle must run with the
    # same budget as the engine
    trace, _ = crawl_oracle(world, seeds, max_papers=6)
    pages = spark_pages(spark, world_pdf)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("store_m64")),
        pages,
        CrawlConfig(mode="replay", max_papers=6, n_buckets=8, hash_algo="murmur64"),
    )
    eng.bootstrap(seeds)
    eng.run()
    got = [r["url"] for r in eng.trace().collect()]
    want = [_id_to_url(t.arxiv_id) for t in trace]
    assert got == want
