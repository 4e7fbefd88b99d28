"""The benchmark workloads.

``crawl-polite`` skewed 64-host world with small pages and robots.txt
                 budgets that cap every wave: the per-round fixed cost
                 (salted window-rank, robots-denied split, snapshot commit,
                 a growing frontier) dominates. In the traced run, one
                 closed-loop client then reads the four corpus views from
                 the snapshot the last round committed.
``analytics``    warm passes over eight headline analytics queries: only
                 ``plans.analytics`` and ``operators.*`` run, no crawl layer.
``crawl-wave``   single-host world of Grobid-sized TEI pages, politeness
                 unbounded, so per-URL work (fetch join, Arrow TEI
                 extraction, Bloom filter, seen-set anti-join) carries the
                 largest share a round can give it. Runnable by hand; not in
                 BENCHMARK.json, whose time budget fits two workloads.

End-to-end metrics use one name per quantity across workloads: a *step* is
a crawl round (wave selection → committed snapshot) or one pass over the
queries. ``step_s_p50`` is the median round, or the sum of each query's
median over the timed passes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import numpy as np

from perfbench import checks, kernels, worlds
from perfbench.tracing import SparkEvents, Tracer, captured_marks

VIEWS = ("search_papers", "dataset_status", "queued_status", "cited_by_contexts")
PAGE = 100  # rows a view client fetches per request

# Eight of the program's 25 headline analytics queries (bench.HEADLINE),
# one per operator family: all 25 take ~32 s per warm pass on a 4-core
# host, more than a run can spend.
QUERIES = (
    "q01_pricing_summary",  # grouped aggregation
    "q04_broadcast_join",  # broadcast hash join
    "q07_window_topk_per_group",  # window rank / top-k
    "q12_explode_tokens",  # explode + aggregate
    "q19_frontier_merge",  # discovery aggregation (frontier-merge shape)
    "q32_tumbling_window",  # event-time windows
    "q77_pack_sequences",  # sequence packing
    "q82_redact_pii",  # regex scrubbing
)


@dataclass(frozen=True)
class CrawlSize:
    n_docs: int
    n_seeds: int
    wave: int  # wave cap; crawl-polite's waves are capped by host budgets instead
    n_bib: int  # bibliography entries per page (36 ≈ a Grobid-parsed paper)
    n_refs: int  # in-text reference sentences per page
    min_rounds: int
    n_hosts: int = 0
    round_seconds: float = 1e9
    hot_delay: float = 0.0
    delays: tuple[float, ...] = ()
    kernel_docs: int = 200
    kernel_seconds: float = 1.0  # per kernel


@dataclass(frozen=True)
class AnalyticsSize:
    sf: float
    warmup_passes: int  # untimed; the driver JIT keeps speeding passes up for ~10 passes
    min_passes: int
    setups: int


# A crawl round costs 10-17 s of mostly fixed Spark overhead on a 4-core
# host whatever the wave size, and a run must stay near a minute.
SIZES = {
    ("crawl-polite", "full"): CrawlSize(
        n_docs=12_000, n_seeds=4000, wave=1_000_000, n_bib=12, n_refs=8, min_rounds=2,
        n_hosts=64, round_seconds=10.0, hot_delay=0.1, delays=(1.0, 2.0, 3.0, 4.0, 6.0),
    ),
    ("crawl-polite", "smoke"): CrawlSize(
        n_docs=1200, n_seeds=600, wave=1_000_000, n_bib=12, n_refs=8, min_rounds=1,
        n_hosts=8, round_seconds=8.0, hot_delay=0.5, delays=(2.0, 4.0),
        kernel_docs=20, kernel_seconds=0.3,
    ),
    ("crawl-wave", "full"): CrawlSize(
        n_docs=20_000, n_seeds=2000, wave=2000, n_bib=36, n_refs=24, min_rounds=2,
    ),
    ("crawl-wave", "smoke"): CrawlSize(
        n_docs=400, n_seeds=40, wave=40, n_bib=36, n_refs=24, min_rounds=1,
        kernel_docs=20, kernel_seconds=0.3,
    ),
    ("analytics", "full"): AnalyticsSize(sf=0.01, warmup_passes=5, min_passes=2, setups=3),
    ("analytics", "smoke"): AnalyticsSize(sf=0.001, warmup_passes=1, min_passes=1, setups=2),
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, counting each inode once (the store
    hardlinks committed deltas into its tail tree)."""
    seen, size = set(), 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                size += st.st_size
    return size, len(seen)


class Run:
    """State of one benchmark run: session, spans, failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.size = SIZES[(workload, size)]
        self.work = work
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.event_dir = os.path.join(work, "events")
        self.events: SparkEvents | None = None

    # ------------------------------------------------------------ plumbing
    def check(self, name: str, fn, *args) -> None:
        """Run one correctness check; a failure or exception is recorded."""
        self.attempted += 1
        try:
            msgs = fn(*args)
        except Exception as e:  # a crashing check is a failed check
            msgs = [f"{name}: raised {e!r}"]
        for m in msgs:
            print(f"CHECK FAILED {m}", file=sys.stderr)
        if msgs:
            self.failures.append(name)

    def start_session(self) -> None:
        from arxiv_crawler_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        with self.tracer.span("get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{len(os.sched_getaffinity(0))}]",
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()  # the session is usable, not just built

    def stop(self) -> SparkEvents | None:
        """Stop the session and wait for its JVM to exit; in a traced run,
        parse the (now complete) event log."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
                gateway.proc.wait(timeout=120)
            if self.trace:
                self.events = SparkEvents.load(self.event_dir)
        return self.events

    def spark_layer(self, events: SparkEvents | None, step_spans: list[dict]) -> dict[str, float]:
        """Spark event-log totals over the timed steps, per step."""
        keys = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "failed_tasks")
        if events is None or not step_spans:
            return {f"spark.{k}": 0.0 for k in keys}
        per = [events.within(s["start"], s["end"]) for s in step_spans]
        return {f"spark.{k}": sum(p[k] for p in per) / len(per) for k in keys}


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------


def _crawl_setup(run: Run, polite: bool):
    """World + robots + engine + bootstrap into a fresh store."""
    from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
    from arxiv_crawler_spark.crawl.politeness import parse_robots
    from arxiv_crawler_spark.fixtures import arxiv_id_of

    sz = run.size
    spark = run.spark
    resolver = worlds.skewed_resolver(run.seed, sz.n_hosts) if polite else None
    with run.tracer.span("world"):
        pages, cite = worlds.tei_pages(
            spark, sz.n_docs, run.seed, n_bib=sz.n_bib, n_refs=sz.n_refs, resolver=resolver
        )
        pages = pages.repartition(4 * spark.sparkContext.defaultParallelism).cache()
        pages.count()
    robots_src = robots = None
    if polite:
        robots_src = worlds.robots_bodies(run.seed, sz.n_hosts, sz.hot_delay, sz.delays)
        with run.tracer.span("parse_robots"):
            robots = parse_robots(
                spark.createDataFrame(robots_src[["host", "robots_txt"]])
            ).cache()
            robots.count()
    # crawl-polite runs the engine's defaults (xxhash64 url hashes; the Bloom
    # pre-filter stays off below 100k seen URLs); crawl-wave switches on the
    # per-URL layers: murmur64 hashes and the Bloom pre-filter from round 2
    per_url = {} if polite else {"hash_algo": "murmur64", "bloom_min_seen": 0, "exact_lineage": False}
    cfg = CrawlConfig(
        mode="wave",
        max_papers=sz.n_docs,
        wave_size=sz.wave,
        round_seconds=sz.round_seconds,
        **per_url,
    )
    store = os.path.join(run.work, "store")
    eng = CrawlEngine(spark, store, pages, cfg, robots=robots, link_resolver=resolver)
    # seeds spread evenly over the world; enough that every host holds more
    # than its budget (~44 per small host at full size), so the first wave fills
    stride = sz.n_docs // sz.n_seeds
    with run.tracer.span("bootstrap"):
        eng.bootstrap([arxiv_id_of(i) for i in range(0, sz.n_docs, stride)])
    return eng, pages, robots, robots_src, cite


def _budgets(sz: CrawlSize, robots_src) -> dict[str, int]:
    return {
        h: max(1, int(np.floor(sz.round_seconds / d)))
        for h, d in zip(robots_src["host"], robots_src["crawl_delay"])
    }


def _views(eng, query: str) -> dict:
    """The four corpus views as a client calls them: build the view on the
    newest snapshot and fetch every row (search is capped at PAGE).
    Each call returns the row count it received."""
    return {
        "search_papers": lambda: len(eng.search_papers(query, limit=PAGE).collect()),
        "dataset_status": lambda: len(eng.dataset_status().collect()),
        "queued_status": lambda: len(eng.queued_status().collect()),
        "cited_by_contexts": lambda: len(eng.cited_by_contexts().collect()),
    }


def run_crawl(run: Run, polite: bool) -> tuple[dict, dict]:
    sz: CrawlSize = run.size
    tr = run.tracer
    if run.trace:
        os.environ["SPARK_GRAFT_DEBUG_TIMING"] = "1"
    run.start_session()

    with tr.span("setup"):
        eng, pages, robots, robots_src, cite = _crawl_setup(run, polite)
    query = worlds.TOPICS[run.seed % len(worlds.TOPICS)]

    rounds, marks, store_deltas, round_spans = [], [], [], []
    t_start = time.perf_counter()
    while len(rounds) < sz.min_rounds or time.perf_counter() - t_start < run.seconds:
        before = _dir_usage(eng.store.path)
        run.attempted += 1
        with captured_marks() as mk, tr.span("run_round") as s:
            r = eng.run_round()
        if r is None:
            raise RuntimeError("crawl ended early: frontier empty or max_papers reached")
        after = _dir_usage(eng.store.path)
        rounds.append(r)
        marks.append(mk)
        round_spans.append(s)
        store_deltas.append((after[0] - before[0], after[1] - before[1]))
    # the traced run's closed-loop client reads the newest snapshot: each
    # view in turn (the untraced run skips them: they feed no end-to-end
    # metric and a run has no time to spare)
    view_rows: dict[str, int] = {}
    if run.trace:
        for name, fn in _views(eng, query).items():
            run.attempted += 1
            with tr.span("view", view=name):
                view_rows[name] = fn()

    popped = sum(r.waved for r in rounds)
    bloom_size = (eng.cfg.n_buckets, eng.cfg.bloom_bits_per_shard)
    snap = checks.Snapshot(eng)
    try:
        seen = snap.seen_hashes()
        run.check("store invariants", checks.store_invariants, snap, popped)
        run.check("closed-form citations", checks.closed_form_citations, snap, cite)
        run.check("bloom filter", checks.bloom_filter_no_false_negatives, seen, *bloom_size)
        if snap.manifest.get("bloom_shards"):
            run.check("bloom shards", checks.bloom_shards_no_false_negatives, snap, *bloom_size)
        if view_rows:
            run.check("views", checks.view_row_counts, snap, view_rows, query, PAGE)
        budgets = None
        if polite:
            budgets = _budgets(sz, robots_src)
            run.check("politeness", checks.politeness, snap, budgets, robots_src, robots, rounds)
    finally:
        snap.close()

    layer = {}
    if run.trace:
        layer.update(_crawl_kernels(run, pages, seen, bloom_size))

    e2e = {
        "setup_s": tr.durations("get_spark")[0] + tr.durations("setup")[0],
        "step_s_p50": _median([s["dur"] for s in round_spans]),
    }

    events = run.stop()
    per_round = [events.within(s["start"], s["end"]) for s in round_spans] if events else []
    cap = sum(budgets.values()) if polite else sz.wave
    layer.update({
        "session.start_s": tr.durations("get_spark")[0],
        "politeness.parse_robots_s": _median(tr.durations("parse_robots")),
        "scheduler.bootstrap_s": _median(tr.durations("bootstrap")),
        "scheduler.fetch_extract_s": _median([m.get("fetch+extract+stats", 0.0) for m in marks]),
        "scheduler.commit_s": _median([m.get("commit", 0.0) for m in marks]),
        "scheduler.wave_select_s": _median(
            [m.get("wave select+count", 0.0) + m.get("wave select", 0.0) for m in marks]
        ),
        "scheduler.robots_denied_s": _median([m.get("pre-commit misc", 0.0) for m in marks]),
        "scheduler.spark_jobs_per_round": _median([p["jobs"] for p in per_round]),
        "scheduler.spark_tasks_per_round": _median([p["tasks"] for p in per_round]),
        "scheduler.driver_only_s": _median([p["driver_only_s"] for p in per_round]),
        "frontier.wave_fill_ratio": _median([r.waved / cap for r in rounds]),
        "frontier.rows_end": rounds[-1].frontier_size,
        "politeness.robots_denied_per_round": _median([r.robots_denied for r in rounds]),
        "store.bytes_written_per_round": _median([d[0] for d in store_deltas]),
        "store.files_written_per_round": _median([d[1] for d in store_deltas]),
        "store.bytes_per_url": _dir_usage(eng.store.path)[0] / popped,
        **{f"view.{v}_s": _median([s["dur"] for s in tr.find("view") if s["view"] == v]) for v in VIEWS},
        **run.spark_layer(events, round_spans),
    })
    return e2e, layer


def _crawl_kernels(run: Run, pages, seen: np.ndarray, bloom_size: tuple[int, int]) -> dict[str, float]:
    """Single-process kernel timings on this run's own world and seen set."""
    import pandas as pd

    from arxiv_crawler_spark.functions.hashing import murmur3_x64_64_np

    sz = run.size
    secs = sz.kernel_seconds
    with run.tracer.span("kernels"):
        rows = pages.select("url", "html").limit(sz.kernel_docs).collect()
        docs = [bytes(r["html"]) for r in rows]
        urls = pages.select("url").toPandas()["url"]
        # URLs of ids beyond the world: never seen by construction
        unseen_urls = pd.Series([f"https://unseen.example.org/abs/{k}" for k in range(len(urls))])
        unseen = murmur3_x64_64_np(unseen_urls).astype(np.int64)
        out = {}
        with run.tracer.span("kernel", kernel="tei"):
            out.update(kernels.tei_extract(docs, secs))
        with run.tracer.span("kernel", kernel="murmur64"):
            out.update(kernels.murmur64(urls, secs))
        with run.tracer.span("kernel", kernel="bloom"):
            out.update(kernels.bloom(seen, unseen, *bloom_size, secs))
    return out


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def run_analytics(run: Run) -> tuple[dict, dict]:
    from arxiv_crawler_spark.plans.analytics import ORACLE_SQL, SPARK_QUERIES

    sz: AnalyticsSize = run.size
    tr = run.tracer
    run.start_session()
    data = os.path.join(run.work, "tables")
    for _ in range(sz.setups):
        shutil.rmtree(data, ignore_errors=True)
        with tr.span("tables"):
            worlds.analytics_tables(data, run.seed, sz.sf)

    # untimed warm-up passes; the first one's results are checked against
    # the DuckDB oracle
    oracle = checks.Oracle(data, worlds.ANALYTICS_TABLES)
    try:
        for k in range(sz.warmup_passes):
            for q in QUERIES:
                run.attempted += 1
                with tr.span("warmup_query", query=q):
                    got = SPARK_QUERIES[q](run.spark, data).toPandas()
                if k == 0:
                    run.check(f"oracle {q}", oracle.check, q, ORACLE_SQL[q], got)
    finally:
        oracle.close()

    passes: list[dict] = []
    t_start = time.perf_counter()
    while len(passes) < sz.min_passes or time.perf_counter() - t_start < run.seconds:
        with tr.span("pass") as p:
            for q in QUERIES:
                run.attempted += 1
                with tr.span("query", query=q):
                    SPARK_QUERIES[q](run.spark, data).toPandas()
        passes.append(p)

    query_s = {
        q: _median([s["dur"] for s in tr.find("query") if s["query"] == q]) for q in QUERIES
    }
    e2e = {
        "setup_s": tr.durations("get_spark")[0] + _median(tr.durations("tables")),
        # a median pass: each query's median over the timed passes, summed,
        # so one slow call in one pass does not move the whole pass
        "step_s_p50": sum(query_s.values()),
    }
    events = run.stop()
    layer = {
        "session.start_s": tr.durations("get_spark")[0],
        **{f"query.{q}_s": v for q, v in query_s.items()},
        **run.spark_layer(events, passes),
    }
    return e2e, layer
