"""Politeness semantics: binding per-host budgets, robots disallow, and
deferral lineage (X6, generalizing crawler.py:33,95)."""

import pytest
from pyspark.sql import functions as F

from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
from arxiv_crawler_spark.crawl.frontier import select_wave
from arxiv_crawler_spark.fixtures import gen_seeds, gen_world, spark_pages


def test_binding_budget_caps_wave(spark, tmp_path_factory):
    """crawl_delay 3.0 with a 3-second round = budget 1 per host (the
    reference's exact politeness regime) — waves must be 1 even when
    wave_size asks for more, and deferrals must be counted."""
    pages = spark_pages(spark, gen_world(n_docs=30, seed=42))
    robots = spark.createDataFrame(
        [("arxiv.org", 3.0, [])], "host string, crawl_delay double, disallow array<string>"
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("polite")),
        pages,
        CrawlConfig(
            mode="wave",
            max_papers=30,
            wave_size=8,
            round_seconds=3.0,
            n_buckets=8,
            collect_host_lineage=True,
        ),
        robots=robots,
    )
    eng.bootstrap(gen_seeds(30, n_seeds=4))
    r1 = eng.run_round()
    r2 = eng.run_round()
    assert r1.waved == 1 and r2.waved == 1  # budget binds below wave_size
    assert r2.politeness_deferred > 0
    assert r2.lineage["politeness_deferred_by_host"].get("arxiv.org", 0) > 0


def test_budget_scales_with_round_seconds(spark, tmp_path_factory):
    """round_seconds 9 with crawl_delay 3 → budget 3 per host per round."""
    pages = spark_pages(spark, gen_world(n_docs=30, seed=42))
    robots = spark.createDataFrame(
        [("arxiv.org", 3.0, [])], "host string, crawl_delay double, disallow array<string>"
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("polite3")),
        pages,
        CrawlConfig(mode="wave", max_papers=30, wave_size=8, round_seconds=9.0, n_buckets=8),
        robots=robots,
    )
    eng.bootstrap(gen_seeds(30, n_seeds=6))
    r1 = eng.run_round()
    assert r1.waved == 3


def test_robots_disallow_blocks_discovery(spark, tmp_path_factory):
    """Links matching a disallow prefix are recorded robots_denied and never
    fetched."""
    pages = spark_pages(spark, gen_world(n_docs=30, seed=42))
    robots = spark.createDataFrame(
        [("arxiv.org", 0.001, ["/abs/21"])],  # blocks every fixture url prefix
        "host string, crawl_delay double, disallow array<string>",
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("robots")),
        pages,
        CrawlConfig(mode="wave", max_papers=30, wave_size=8, round_seconds=3.0, n_buckets=8),
        robots=robots,
    )
    eng.bootstrap(gen_seeds(30, n_seeds=4))
    m = eng.store.manifest()
    # all seeds are /abs/21xx → denied at bootstrap, frontier empty
    assert m["frontier_size"] == 0
    seen = eng.store.seen(m)
    assert seen.filter(F.col("status") == "robots_denied").count() >= 4
    assert eng.run_round() is None


def test_select_wave_budget_windows(spark):
    """Direct window check: per-host top-budget selection with skew salt."""
    rows = [(i, f"https://h{i % 3}.x/{i}", f"h{i % 3}.x", 100 - i, 0, i) for i in range(30)]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, count long, depth int, discovery_seq long"
    )
    budgets = spark.createDataFrame([("h0.x", 2), ("h1.x", 1), ("h2.x", 3)], "host string, budget int")
    wave = select_wave(
        frontier, "citations", wave_cap=100, host_budgets=budgets, default_budget=1, salt_factor=4
    ).collect()
    by_host = {}
    for r in wave:
        by_host.setdefault(r["host"], []).append(r["count"])
    assert {h: len(v) for h, v in by_host.items()} == {"h0.x": 2, "h1.x": 1, "h2.x": 3}
    # each host's selection is its top-count rows
    assert sorted(by_host["h0.x"], reverse=True) == [100, 97]


def test_large_wave_paths_match_simple_path(spark):
    """The large-wave machinery (post-budget quantile prefilter + two-level
    distributed rank) must select the exact same wave, with the exact same
    pop_ranks, as the simple orderBy/limit/window path."""
    rows = [
        (i * 2_654_435_761 % (1 << 40), f"https://h{i % 17}.x/{i}", f"h{i % 17}.x",
         (i * 7919) % 400, i % 6, i)
        for i in range(5000)
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, count long, depth int, discovery_seq long"
    ).repartition(8)
    budgets = spark.createDataFrame(
        [(f"h{k}.x", 40 + k) for k in range(17)], "host string, budget int"
    )
    for phase in ("bfs", "citations"):
        for bgt in (None, budgets):
            simple = select_wave(
                frontier, phase, wave_cap=600, host_budgets=bgt, default_budget=50,
                salt_factor=4, threshold_prefilter_min=10**9,
            )
            fancy = select_wave(
                frontier, phase, wave_cap=600, host_budgets=bgt, default_budget=50,
                salt_factor=4, threshold_prefilter_min=100,
            )
            s = sorted(tuple(r) for r in simple.collect())
            f = sorted(tuple(r) for r in fancy.collect())
            assert len(s) == 600
            assert s == f, f"wave mismatch (phase={phase}, budgets={bgt is not None})"


def test_multihost_crawl_budgets_and_seen_set(spark, tmp_path_factory):
    """Common-Crawl-shaped world: pages spread over 8 mirror hosts via a
    pluggable link resolver. Per-host budgets must cap each round's per-host
    fetches, and the final URL-seen set must still equal the oracle's
    (host routing must not change reachability)."""
    from arxiv_crawler_spark.extraction.tei import extract_citations
    from arxiv_crawler_spark.fixtures import (
        N_HOSTS,
        gen_seeds,
        gen_world,
        host_of_id,
        multihost_resolver,
        spark_pages,
    )
    from arxiv_crawler_spark.oracle.refcrawler import crawl_oracle, extraction_world, seen_set

    n_docs = 50
    world_pdf = gen_world(n_docs=n_docs, seed=42, multi_host=True)
    pages = spark_pages(spark, world_pdf)
    robots = spark.createDataFrame(
        [(f"mirror{k}.example.org", 3.0, []) for k in range(N_HOSTS)],
        "host string, crawl_delay double, disallow array<string>",
    )
    seeds = gen_seeds(n_docs)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("mh")),
        pages,
        CrawlConfig(
            mode="wave",
            max_papers=10_000,
            wave_size=64,
            round_seconds=6.0,  # budget 2 per host per round
            n_buckets=8,
            collect_host_lineage=True,
        ),
        robots=robots,
        link_resolver=multihost_resolver,
    )
    eng.bootstrap(seeds)
    results = eng.run(max_rounds=60)
    assert results
    for r in results:
        assert r.waved <= 2 * N_HOSTS  # per-host budget of 2 really binds
    assert any(r.politeness_deferred > 0 for r in results[:3])

    # final seen set equals the oracle's, mapped through the host routing
    world = extraction_world(
        {
            row["url"].rsplit("/", 1)[1]: extract_citations(row["html"])
            for _, row in world_pdf.iterrows()
        }
    )
    _, st = crawl_oracle(world, seeds, max_papers=10_000)
    want = {
        f"https://mirror{host_of_id(a)}.example.org/abs/{a}": s
        for a, s in seen_set(st).items()
    }
    got = {r["url"]: r["status"] for r in eng.seen_statuses().collect()}
    assert got == want


def _hist_of(frontier):
    """Build the {(depth, cbin): n} histogram the manifest would carry."""
    from arxiv_crawler_spark.crawl.frontier import hist_cell_cols

    return {
        (int(r["_hd"]), int(r["_hc"])): int(r["c"])
        for r in frontier.groupBy(*hist_cell_cols()).agg(F.count(F.lit(1)).alias("c")).collect()
    }


def test_hist_bounds_wave_matches_simple_path(spark):
    """Manifest-histogram bounds (zero-scan path) must select the exact same
    wave + pop_ranks as the simple path and as the approxQuantile path."""
    rows = [
        (i * 2_654_435_761 % (1 << 40), f"https://h{i % 17}.x/{i}", f"h{i % 17}.x",
         (i * 7919) % 400, i % 6, i)
        for i in range(5000)
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, count long, depth int, discovery_seq long"
    ).repartition(8)
    hist = _hist_of(frontier)
    assert sum(hist.values()) == 5000
    for phase in ("bfs", "citations"):
        simple = select_wave(
            frontier, phase, wave_cap=600, default_budget=700,
            threshold_prefilter_min=10**9,
        )
        hist_path = select_wave(
            frontier, phase, wave_cap=600, default_budget=700,
            threshold_prefilter_min=100, priority_hist=hist,
        )
        s = sorted(tuple(r) for r in simple.collect())
        h = sorted(tuple(r) for r in hist_path.collect())
        assert len(s) == 600
        assert s == h, f"hist-bounds wave mismatch (phase={phase})"


def test_tied_frontier_mega_bucket_rank(spark):
    """The web-scale common case: a frontier that is one giant priority tie
    (every row (depth=3, count=1)). All rows land in ONE rank bucket; the
    mega-bucket sub-split must still produce the exact wave with exact
    pop_ranks — and no single task may have seen the whole bucket."""
    n = 20000
    rows = [
        (i * 2_654_435_761 % (1 << 40), f"https://h{i % 5}.x/{i}", f"h{i % 5}.x", 1, 3, i)
        for i in range(n)
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, count long, depth int, discovery_seq long"
    ).repartition(16)
    hist = _hist_of(frontier)
    assert len(hist) == 1  # genuinely one tie cell
    for phase in ("bfs", "citations"):
        simple = select_wave(
            frontier, phase, wave_cap=4000, default_budget=5000,
            threshold_prefilter_min=10**9,
        )
        for ph in (None, hist):
            fancy = select_wave(
                frontier, phase, wave_cap=4000, default_budget=5000,
                threshold_prefilter_min=100, priority_hist=ph,
                mega_bucket_min=1024,
            )
            s = sorted(tuple(r) for r in simple.collect())
            f = sorted(tuple(r) for r in fancy.collect())
            assert len(s) == 4000
            assert s == f, f"mega-bucket wave mismatch (phase={phase}, hist={ph is not None})"


def test_hist_bounds_cover_target_exactly():
    """hist_bounds' cumulative-coverage contract, brute-forced: rows with
    key ≤ last boundary must number ≥ min(3·wave_cap, total)."""
    import random

    from arxiv_crawler_spark.crawl.frontier import hist_bounds

    rnd = random.Random(7)
    rows = [(rnd.randint(0, 9), rnd.choice([0, 1, 2, 3, 5, 17, 400, 12345])) for _ in range(5000)]

    def cbin(c):
        import math

        return c if c <= 31 else 27 + int(math.log2(c))

    hist = {}
    for d, c in rows:
        k = (d, cbin(c))
        hist[k] = hist.get(k, 0) + 1
    for phase in ("bfs", "citations"):

        def key(d, c):
            inv = (1 << 22) - 1 - c
            return d * (1 << 22) + inv if phase == "bfs" else inv * (1 << 22) + d

        for cap in (10, 100, 1000, 4000):
            bounds = hist_bounds(hist, phase, cap, 8)
            assert bounds == sorted(bounds)
            covered = sum(1 for d, c in rows if key(d, c) <= bounds[-1])
            assert covered >= min(3 * cap, len(rows)), (phase, cap, covered)


def test_crawl_maintains_frontier_hist(spark, tmp_path_factory):
    """The manifest histogram and per-bucket sizes must stay exactly
    consistent with the live frontier across rounds, and every frontier
    bucket must be rewritten into the newest snapshot — in both lineage
    modes."""
    from arxiv_crawler_spark.crawl.frontier import hist_cell_cols
    from arxiv_crawler_spark.crawl.scheduler import _hist_flat

    pages = spark_pages(spark, gen_world(n_docs=60, seed=42)).cache()
    for exact in (True, False):
        eng = CrawlEngine(
            spark, str(tmp_path_factory.mktemp(f"hist{exact}")), pages,
            CrawlConfig(mode="wave", wave_size=7, max_papers=30, n_buckets=8,
                        exact_lineage=exact),
        )
        eng.bootstrap(gen_seeds(60))
        eng.run(max_rounds=3)
        m = eng.store.manifest()
        live = _hist_of(eng.store.frontier(m))
        assert _hist_flat(m.get("frontier_hist")) == (live or None)
        assert m["frontier_size"] == sum(live.values())
        assert all(p.startswith(m["snapshot"] + "/") for p in m["frontier_buckets"].values())
        by_bucket = {
            str(r["b"]): int(r["c"])
            for r in eng.store.frontier(m)
            .groupBy(F.pmod("url_hash", F.lit(8)).alias("b"))
            .count()
            .withColumnRenamed("count", "c")
            .collect()
        }
        assert m["bucket_sizes"] == by_bucket


def test_parse_robots_txt_unit():
    """Pure-parser spec: grouping, precedence, merging, malformed input."""
    from arxiv_crawler_spark.crawl.politeness import parse_robots_txt

    txt = (
        "# banner comment\r\n"
        "User-agent: graftbot\r\n"
        "User-agent: otherbot  # stacked header\r\n"
        "Disallow: /bots-only\r\n"
        "Crawl-delay: 0.5\r\n"
        "\r\n"
        "User-agent: *\r\n"
        "Disallow: /everyone\r\n"
        "Disallow:\r\n"          # empty value = allow-all, ignored
        "Crawl-delay: nine\r\n"  # malformed number, ignored
        "Crawl-delay: 9\r\n"
    )
    assert parse_robots_txt(txt, "GraftBot") == (0.5, ["/bots-only"])
    assert parse_robots_txt(txt, "otherbot") == (0.5, ["/bots-only"])
    assert parse_robots_txt(txt, "unknown") == (9.0, ["/everyone"])
    # two groups for the same agent merge: disallow union, last delay wins
    two = "User-agent: *\nDisallow: /a\nCrawl-delay: 1\nUser-agent: *\nDisallow: /b\nCrawl-delay: 4\n"
    assert parse_robots_txt(two, "x") == (4.0, ["/a", "/b"])
    # rules before any User-agent line are ignored; junk lines skipped
    assert parse_robots_txt("Disallow: /orphan\ngarbage line\n", "x") == (None, [])
    assert parse_robots_txt(None, "x") == (None, [])


def test_parse_robots_feeds_engine_identically(spark, tmp_path_factory):
    """A crawl driven by parse_robots(raw texts) must behave exactly like one
    driven by the hand-structured robots table (same denied set, same trace)."""
    from arxiv_crawler_spark.crawl.politeness import parse_robots

    pages = spark_pages(spark, gen_world(n_docs=30, seed=42)).cache()
    structured = spark.createDataFrame(
        [("arxiv.org", 3.0, ["/abs/2100.10002"])],
        "host string, crawl_delay double, disallow array<string>",
    )
    raw = spark.createDataFrame(
        [("arxiv.org", "User-agent: *\nDisallow: /abs/2100.10002\nCrawl-delay: 3\n")],
        "host string, robots_txt string",
    )

    def run(robots, tag):
        eng = CrawlEngine(
            spark, str(tmp_path_factory.mktemp(tag)), pages,
            CrawlConfig(mode="replay", max_papers=8, n_buckets=8),
            robots=robots,
        )
        eng.bootstrap(gen_seeds(30))
        eng.run()
        return eng

    a, b = run(structured, "rs"), run(parse_robots(raw), "rp")
    assert [tuple(r) for r in a.trace().collect()] == [tuple(r) for r in b.trace().collect()]
    assert sorted(tuple(r) for r in a.seen_statuses().collect()) == sorted(
        tuple(r) for r in b.seen_statuses().collect()
    )
    denied = b.store.seen().filter(F.col("status") == "robots_denied").count()
    assert denied >= 1


def test_wave_paths_randomized_parity(spark):
    """Randomized (seeded) stress over frontier shapes that mix heavy ties,
    skewed hosts and spread priorities: every fancy-path configuration
    (approxQuantile bounds, histogram bounds, mega-split forced on) must
    reproduce the simple path exactly, both phases."""
    import random

    for seed in (11, 23):
        rnd = random.Random(seed)
        n = rnd.choice([6000, 9000])
        rows = []
        for i in range(n):
            shape = rnd.random()
            if shape < 0.55:      # massive tie block (web common case)
                d, c = 3, 1
            elif shape < 0.8:     # moderate spread
                d, c = rnd.randint(0, 4), rnd.randint(0, 30)
            else:                 # hub tail
                d, c = rnd.randint(0, 2), rnd.randint(100, 50_000)
            rows.append(
                (i * 2_654_435_761 % (1 << 40), f"https://h{i % 11}.x/{i}",
                 f"h{i % 11}.x", c, d, i)
            )
        frontier = spark.createDataFrame(
            rows,
            "url_hash long, url string, host string, count long, depth int, discovery_seq long",
        ).repartition(8)
        hist = _hist_of(frontier)
        cap = rnd.choice([800, 2000])
        for phase in ("bfs", "citations"):
            simple = sorted(
                tuple(r)
                for r in select_wave(
                    frontier, phase, wave_cap=cap, default_budget=cap + 1,
                    threshold_prefilter_min=10**9,
                ).collect()
            )
            assert len(simple) == cap
            for ph, mega in ((None, 1 << 18), (hist, 1 << 18), (hist, 256), (None, 256)):
                fancy = sorted(
                    tuple(r)
                    for r in select_wave(
                        frontier, phase, wave_cap=cap, default_budget=cap + 1,
                        threshold_prefilter_min=100, priority_hist=ph,
                        mega_bucket_min=mega,
                    ).collect()
                )
                assert fancy == simple, (seed, phase, ph is not None, mega)


def test_wave_cap_beyond_2_21(spark):
    """10M+-URL waves are the production shape (BENCH/BASELINE.md §d): the
    encode_seq pop_rank field is 28 bits, so a wave_cap past the old 2^21
    ceiling must select an exact dense rank and encode every pop_rank
    without overflow. Exercises the histogram-free large-wave path
    (prefilter + bucketed rank) at 9.6M frontier rows / 2.2M wave."""
    from pyspark.sql import functions as F

    from arxiv_crawler_spark.crawl.frontier import encode_seq

    n, cap = 9_600_000, 2_200_000
    assert cap > (1 << 21)
    frontier = spark.range(n).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("https://h.x/"), F.col("id")).alias("url"),
        F.lit("h.x").alias("host"),
        (F.col("id") % 1000).alias("count"),
        (F.col("id") % 4).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    wave = select_wave(
        frontier, "citations", wave_cap=cap, default_budget=cap, salt_factor=4,
    )
    agg = wave.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("pop_rank").alias("dr"),
        F.max("pop_rank").alias("mx"),
        F.min("pop_rank").alias("mn"),
        F.max(encode_seq(1, F.col("pop_rank"), 0)).alias("max_seq"),
    ).collect()[0]
    assert agg["n"] == cap and agg["dr"] == cap  # exact dense rank
    assert agg["mn"] == 1 and agg["mx"] == cap
    # encoded seq stayed inside the 62-bit layout (no overflow into sign)
    assert agg["max_seq"] == (1 << 42) + (1 << 41) + (cap << 14)


def test_budget_join_non_broadcast_parity(spark):
    """broadcast_budgets=False (the >broadcast_hosts_max escape hatch) must
    select the exact same wave as the broadcast plan, and exceptions-only
    budgets must behave identically to the full budget table (the left
    join + coalesce(default) treats absent hosts as default)."""
    rows = [
        (i, f"https://h{i % 9}.x/{i}", f"h{i % 9}.x", (i * 13) % 200, i % 4, i)
        for i in range(3000)
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, count long, depth int, discovery_seq long"
    ).repartition(8)
    default = 30
    full = spark.createDataFrame(
        [(f"h{k}.x", 10 + 10 * k) for k in range(9)], "host string, budget int"
    )
    exceptions = full.filter(F.col("budget") != default)  # h2.x (=30) dropped
    waves = []
    for bgt, bcast in [(full, True), (exceptions, True), (exceptions, False)]:
        w = select_wave(
            frontier, "citations", wave_cap=400, host_budgets=bgt,
            default_budget=default, broadcast_budgets=bcast, salt_factor=4,
        )
        waves.append(sorted(tuple(r) for r in w.collect()))
    assert waves[0] == waves[1] == waves[2]
    assert len(waves[0]) == 400
