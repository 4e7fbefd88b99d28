"""The crawl round loop — distributed re-statement of ``ArxivCrawler.crawl``
(crawler.py:207-279).

Each scheduling round is ONE batch DataFrame job chain:

    frontier ── select_wave (priority + salted per-host windows) ──┐
    pages ───── fetch join (broadcast the wave) ── extract (Arrow) ─┤
    seen ────── anti-join dedupe (Bloom pre-filter) ── aggregate ───┤
                merge frontier (full rewrite) + append fetched/edges ┘
                → atomic snapshot commit (manifest flip)

Two modes:

* ``replay`` (wave of 1): bit-matches the reference's sequential pop order
  — the correctness contract of BASELINE.json (same seed list + politeness
  budget → same crawl ordering + final URL-seen set).
* ``wave`` (K per round): the scale mode. Ordering equivalence is only
  guaranteed for K=1; wave mode preserves the final URL-seen *set* under
  an equal politeness budget (tested), which is the order-insensitive half
  of the contract.

Scale notes (local[32] here, 1000 executors at 100 TB):
* the wave is broadcast into the fetch join — `pages` (the 100 TB side)
  is never shuffled; with `pages` stored bucketed by url the join is a
  co-located probe.
* the seen-set anti-join probes only links that survive the sharded Bloom
  pre-filter; seen deltas are written hash-bucketed and sorted by url_hash
  so parquet row-group stats prune the probe scan.
* the Bloom itself is fully decentralized (crawl/bloom.py): per-bucket
  bitmap shard files updated AND probed executor-side, COW per round —
  no per-row driver collects and no whole-bitmap broadcast anywhere in
  the round loop (at 10^10-key sizing the bitmap is ~12 GB; broadcasting
  it per round would be the scale-killer).
* every frontier commit rewrites all hash buckets: a wave of K URLs plus
  its ~8 links per URL lands in about min(n_buckets, 9·K) buckets, so
  only replay-sized waves would leave any bucket untouched.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arxiv_crawler_spark.crawl import politeness as pol
from arxiv_crawler_spark.crawl.bloom import bloom_flag
from arxiv_crawler_spark.crawl.frontier import (
    hist_cell_cols,
    merge_frontier,
    merge_seeds,
    select_wave,
)
from arxiv_crawler_spark.crawl.store import SnapshotStore
from arxiv_crawler_spark.extraction.tei import extract_pages
from arxiv_crawler_spark.functions.hashing import url_hash
from arxiv_crawler_spark.functions.urls import arxiv_id_to_url, canonicalize_url, host_of

__all__ = ["CrawlConfig", "CrawlEngine"]

# the wave is broadcast into the fetch join below this size
_BROADCAST_WAVE_MAX = 2_000_000
# politeness join sides are broadcast only below this many rows (hosts);
# above it the joins fall back to shuffle-on-host, which the budget windows
# re-use (co-partitioned). At Common-Crawl scale the robots table is O(10^8)
# hosts — only the non-default / non-empty-disallow EXCEPTIONS ship at all,
# and even those stop broadcasting past this cap
_BROADCAST_HOSTS_MAX = 500_000


def _hist_agg(
    df: DataFrame, bucket_col
) -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """ONE agg job over a frontier → (per-bucket priority histogram,
    per-bucket row counts). The histogram rides the manifest so the next
    round's select_wave derives its prefilter threshold and rank-bucket
    boundaries driver-side — no histogram scan of the frontier, no count
    job (frontier.py hist_bounds). ≤ n_buckets × a few hundred sparse
    (depth, count-bin) cells come back to the driver — aggregates, never
    rows."""
    rows = (
        df.groupBy(bucket_col.alias("b"), *hist_cell_cols())
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    hist: dict[str, dict[str, int]] = {}
    sizes: dict[str, int] = {}
    for r in rows:
        b = str(r["b"])
        hist.setdefault(b, {})[f"{r['_hd']}:{r['_hc']}"] = int(r["c"])
        sizes[b] = sizes.get(b, 0) + int(r["c"])
    return hist, sizes


def _hist_flat(manifest_hist: dict | None) -> dict[tuple[int, int], int] | None:
    """Manifest per-bucket histogram → global {(depth, cbin): n} for
    select_wave (bounds are global; the per-bucket split is lineage)."""
    if not manifest_hist:
        return None
    out: dict[tuple[int, int], int] = {}
    for cells in manifest_hist.values():
        for k, n in cells.items():
            d, cb = k.split(":")
            key = (int(d), int(cb))
            out[key] = out.get(key, 0) + int(n)
    return out or None


@dataclass
class CrawlConfig:
    mode: str = "replay"  # 'replay' (K=1, order-exact) | 'wave'
    max_papers: int = 100  # crawler.py:32
    wave_size: int = 1  # K: fetches per round (wave mode)
    round_seconds: float = 3.0  # politeness token window (≙ rate_limit_delay)
    hash_algo: str = "xxhash64"  # 'murmur64' | 'xxhash64'
    n_buckets: int = 32
    use_bloom: bool = True
    bloom_bits_per_shard: int = 1 << 20
    # the Bloom pre-filter pays off once the exact anti-join probes a large
    # seen set; below this many seen urls the two extra Arrow passes cost
    # more than they save, so the filter stays warm but unused
    bloom_min_seen: int = 100_000
    # per-host deferral counters cost a full-frontier groupBy per round —
    # exact lineage for tests/audits, off for throughput runs
    collect_host_lineage: bool = False
    # exact new-link / deduped counters cost one sum over the round's
    # discoveries (overlapped with the commit writes); with it off both
    # are reported as -1 (throughput mode)
    exact_lineage: bool = True
    # snapshot-store backend: 'parquet' (manifest store, sandbox default) |
    # 'iceberg' (native tables via crawl/iceberg_store.py — requires a
    # configured Spark Iceberg catalog; raises at engine init if absent)
    store_backend: str = "parquet"
    iceberg_catalog: str = "iceberg"
    # expire unreferenced COW snapshots/units every N rounds (0 = never):
    # a long crawl self-maintains its store (Iceberg expire_snapshots +
    # remove_orphan_files analog, store.gc) — driver-side file ops only,
    # overlapped with nothing, so keep it off for latency-sensitive tests
    gc_every_rounds: int = 0


@dataclass
class RoundResult:
    round_no: int
    phase: str
    waved: int
    processed: int
    failed: int
    new_links: int
    deduped: int
    robots_denied: int
    politeness_deferred: int
    frontier_size: int
    seconds: float = 0.0
    lineage: dict[str, Any] = field(default_factory=dict)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        pages: DataFrame,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        link_resolver=None,
    ):
        """``link_resolver``: Column→Column mapping an extracted link id to
        its canonical URL. Defaults to the reference's arXiv world (every id
        lives on arxiv.org — arxiv_util.py single-host assumption); a
        Common-Crawl-style multi-host world passes a resolver that routes
        ids to their hosts (see fixtures.multihost_resolver)."""
        self.spark = spark
        self.cfg = config or CrawlConfig()
        if self.cfg.store_backend == "parquet":
            self.store = SnapshotStore(
                store_path,
                spark,
                n_buckets=self.cfg.n_buckets,
                bloom_bits_per_shard=self.cfg.bloom_bits_per_shard,
            )
        else:
            from arxiv_crawler_spark.crawl.iceberg_store import make_store

            self.store = make_store(
                spark,
                store_path,
                backend=self.cfg.store_backend,
                n_buckets=self.cfg.n_buckets,
                catalog=self.cfg.iceberg_catalog,
                bloom_bits_per_shard=self.cfg.bloom_bits_per_shard,
            )
        self.pages = pages
        self.robots = robots
        self.link_resolver = link_resolver or arxiv_id_to_url
        if self.cfg.mode == "replay":
            self.cfg.wave_size = 1

    # ------------------------------------------------------------ helpers
    def _hash(self, col):
        return url_hash(col, self.cfg.hash_algo)

    def _politeness_sizes(self) -> tuple[int, int]:
        """One-time sizing of the two politeness join sides (robots is
        static for the crawl's lifetime): (#hosts with a non-default
        budget, #hosts with a non-empty disallow). One aggregation job,
        cached — never re-run per round."""
        if not hasattr(self, "_pol_sizes"):
            if self.robots is None:
                self._pol_sizes = (0, 0)
            else:
                dflt = pol.default_budget(self.cfg.round_seconds)
                bgt = F.greatest(
                    F.lit(1), F.floor(F.lit(self.cfg.round_seconds) / F.col("crawl_delay"))
                ).cast("int")
                row = self.robots.select(
                    F.sum((bgt != dflt).cast("long")).alias("n_exc"),
                    F.sum((F.size("disallow") > 0).cast("long")).alias("n_dis"),
                ).collect()[0]
                self._pol_sizes = (int(row["n_exc"] or 0), int(row["n_dis"] or 0))
        return self._pol_sizes

    def _budget_side(self) -> tuple[Any, bool]:
        """Wave-selection budget join side: exceptions-only table + whether
        it is small enough to broadcast. An empty exception set collapses to
        (None, True) — every host at the default budget needs no join."""
        n_exc, _ = self._politeness_sizes()
        if self.robots is None or n_exc == 0:
            return None, True
        exc = pol.host_budgets(self.robots, self.cfg.round_seconds, exceptions_only=True)
        return exc, n_exc <= _BROADCAST_HOSTS_MAX

    def _split_denied(self, links):
        _, n_dis = self._politeness_sizes()
        return pol.split_robots_denied(
            links, self.robots, broadcast=n_dis <= _BROADCAST_HOSTS_MAX
        )

    def _phase(self, processed_count: int) -> str:
        """crawler.py:236,243-246: forced BFS first; citation-greedy once
        papers_processed > max_papers // 2 (count survives resume — X5)."""
        if processed_count > self.cfg.max_papers // 2:
            return "citations"
        return "bfs"

    # ---------------------------------------------------------- bootstrap
    def bootstrap(self, seed_arxiv_ids: list[str]) -> dict[str, Any]:
        """Initialize the store with the seed frontier (X1, crawler.py:215-226).

        Bootstrapping over an existing store re-runs the seed merge against
        the current frontier/seen (resume + new seeds, like re-invoking
        ``crawl`` with a loaded state)."""
        seeds_pdf = pd.DataFrame(
            {"raw_id": seed_arxiv_ids, "seed_idx": list(range(len(seed_arxiv_ids)))}
        )
        seeds = (
            self.spark.createDataFrame(seeds_pdf)
            .withColumn("url", canonicalize_url(self.link_resolver(F.col("raw_id"))))
            .withColumn("host", host_of(F.col("url")))
            .withColumn("url_hash", self._hash(F.col("url")))
        )
        seeds, denied = self._split_denied(seeds)

        if self.store.exists():
            m = self.store.manifest()
            frontier, seen = self.store.frontier(m), self.store.seen(m)
            round_no, processed, failed, pops = (
                m["round"],
                m["processed_count"],
                m["failed_count"],
                m["total_pops"],
            )
            bloom_active = self.store.bloom_shards(m) is not None
        else:
            frontier, seen = self.store._empty_frontier(), self.store._empty_seen()
            round_no, processed, failed, pops = 0, 0, 0, 0
            bloom_active = False

        new_frontier = merge_seeds(frontier, seen, seeds, round_no)
        denied_rows = denied.select(
            "url_hash", "url", F.lit("robots_denied").alias("status")
        ).join(seen.select("url_hash"), "url_hash", "left_anti")
        # an already-active bloom gains the denied seeds (executor-side);
        # an inactive one activates lazily in run_round once seen is large
        bloom_delta = (
            denied_rows.select("url_hash")
            if (self.cfg.use_bloom and bloom_active and self.robots is not None)
            else None
        )

        # one agg: per-bucket sizes + priority histogram → manifest
        # bookkeeping (saves the next round's histogram scan of the frontier)
        bucket_col = F.pmod(F.col("url_hash"), F.lit(self.cfg.n_buckets)).cast("int")
        frontier_hist, bucket_sizes = _hist_agg(new_frontier, bucket_col)
        size = sum(bucket_sizes.values())
        # re-seeding an existing store commits a same-round snapshot under a
        # fresh tag so live data dirs are never clobbered
        tag = ""
        if self.store.exists():
            k = 0
            while True:
                tag = f"-seed{k}"
                if not self.store.is_referenced(f"snapshots/r{round_no:06d}{tag}"):
                    break
                k += 1
        return self.store.commit(
            round_no,
            tag=tag,
            frontier=new_frontier,
            seen_delta=denied_rows if self.robots is not None else None,
            bloom_delta=bloom_delta,
            meta={
                "processed_count": processed,
                "failed_count": failed,
                "total_pops": pops,
                "frontier_size": size,
                "bucket_sizes": bucket_sizes,
                "frontier_hist": frontier_hist,
                "max_papers": self.cfg.max_papers,
                "lineage": {"round": round_no, "frontier_size": size},
            },
        )

    # -------------------------------------------------------------- round
    def run_round(self) -> RoundResult | None:
        t0 = time.monotonic()
        _tlast = [t0]

        def _mark(label: str) -> None:
            if os.environ.get("SPARK_GRAFT_DEBUG_TIMING"):
                now = time.monotonic()
                print(f"    [round] {label}: {now - _tlast[0]:.2f}s", flush=True)
                _tlast[0] = now

        m = self.store.manifest()
        round_no = m["round"] + 1
        processed_count, failed_count, total_pops = (
            m["processed_count"],
            m["failed_count"],
            m["total_pops"],
        )
        if processed_count >= self.cfg.max_papers or m["frontier_size"] == 0:
            return None  # crawler.py:243 termination

        phase = self._phase(processed_count)
        frontier = self.store.frontier(m)
        seen = self.store.seen(m)

        # 1. wave selection (W1/W2/X6)
        remaining = self.cfg.max_papers - processed_count
        wave_cap = min(self.cfg.wave_size, remaining)
        budgets, budgets_bcast = self._budget_side()
        wave = select_wave(
            frontier,
            phase,
            wave_cap=wave_cap,
            host_budgets=budgets,
            broadcast_budgets=budgets_bcast,
            default_budget=pol.default_budget(self.cfg.round_seconds),
            priority_hist=_hist_flat(m.get("frontier_hist")),
        ).cache()
        _mark("wave select")

        # 2. fetch = join against pages (S8/S9: the sandbox fetch layer).
        # Broadcast the small wave so the 100 TB pages side never shuffles.
        wave_b = F.broadcast(wave) if wave_cap <= _BROADCAST_WAVE_MAX else wave
        # precondition: `pages` is unique by url (one snapshot per URL, per
        # the input_hint schema). A duplicate url would double-count its pop;
        # dedup here would shuffle wave×html bytes every round, so the
        # contract lives with the source table (enforce at ingest).
        fetch = wave_b.join(self.pages.select("url", "html"), "url", "inner")

        # 3. extract (U1, Arrow-batched). The wave's scheduling columns ride
        # THROUGH the UDF (passthrough), so no join reunites wave and
        # extraction afterwards; the only wave rows missing from ``ext`` are
        # urls with no page at all (dangling citations → failed pops,
        # crawler.py:261-263). Round 7: those are restored from a left-anti
        # against the pages URL COLUMN, not against the extraction output —
        # extraction never drops a matched row (parse failures come back as
        # ok=false), so wave ∖ pages.url ≡ wave ∖ ext.keys, and deriving it
        # from the column-pruned pages scan frees ``ext`` from having a
        # second consumer. With one consumer, ext needs NO cache: the old
        # shape materialized the fat extraction output into executor memory
        # (~10 KB/doc — 7.5 GB at the 750k production wave) only so the
        # missing-row anti-join could read its keys, and the anti-join
        # stage then sat in block-level cache locks waiting on extraction
        # (measured: an 800 s-task-time stage with 90 s of CPU per
        # production round).
        ext = extract_pages(fetch, passthrough=True)
        ext_fields = [f for f in ext.schema.fields if f.name not in wave.columns]
        missing = wave.join(self.pages.select("url"), "url", "left_anti").select(
            "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in ext_fields]
        )
        fetched = (
            ext.unionByName(missing)
            .withColumn("ok", F.coalesce(F.col("ok"), F.lit(False)))
            .withColumn(
                "status", F.when(F.col("ok"), F.lit("processed")).otherwise(F.lit("failed"))
            )
            .withColumn("round", F.lit(round_no))
            .withColumn("phase", F.lit(phase))
            .withColumn("global_order", F.lit(total_pops) + F.col("pop_rank") - 1)
            .withColumn(
                "num_arxiv_citations",
                F.size(F.filter(F.coalesce(F.col("citations"), F.array()), lambda c: c["arxiv_id"].isNotNull())),
            )
            .withColumnRenamed("count", "count_at_pop")
            .cache()
        )

        # 4. edges: explode citations with their bib index (F8)
        edges = fetched.filter(F.col("status") == "processed").select(
            F.col("url").alias("citing_url"),
            F.col("depth").alias("citing_depth"),
            "pop_rank",
            F.posexplode_outer("citations").alias("bib_index", "cit"),
        )
        edges_out = edges.filter(F.col("cit").isNotNull()).select(
            "citing_url",
            "citing_depth",
            "bib_index",
            F.lit(round_no).alias("round"),
            F.col("cit.citation_id").alias("citation_id"),
            F.col("cit.authors").alias("authors"),
            F.col("cit.title").alias("title"),
            F.col("cit.year").alias("year"),
            F.col("cit.venue").alias("venue"),
            F.col("cit.arxiv_id").alias("cited_arxiv_id"),
            F.col("cit.reference_contexts").alias("reference_contexts"),
            F.col("cit.num_references").alias("num_references"),
        )

        # 5. discovered links (per occurrence — crawler.py:134,151)
        links = (
            edges.filter(F.col("cit.arxiv_id").isNotNull())
            .withColumn("url", canonicalize_url(self.link_resolver(F.col("cit.arxiv_id"))))
            .withColumn("host", host_of(F.col("url")))
            .withColumn("url_hash", self._hash(F.col("url")))
            .select("url_hash", "url", "host", "pop_rank", "bib_index", "citing_depth")
        )
        links_ok, links_denied = self._split_denied(links)

        # 6. seen-set dedupe (J1): Bloom pre-filter, then exact anti-join.
        # The bloom lives as per-bucket shard files probed executor-side
        # (crawl/bloom.py) — no driver collect, no whole-bitmap broadcast.
        bloom_shards = self.store.bloom_shards(m) if self.cfg.use_bloom else None
        n_seen_approx = total_pops + failed_count  # upper bound on |seen|
        if bloom_shards is not None:
            # ONE probe pass (one repartition of the round's links), flag
            # folded into the anti-join condition: a Bloom miss matches no
            # seen row by construction (kept for free), a Bloom hit is kept
            # iff its url_hash is absent from the exact seen table.
            flagged = bloom_flag(
                links_ok, self.store.path, bloom_shards, self.cfg.n_buckets,
                self.cfg.bloom_bits_per_shard,
            )
            seen_k = seen.select(F.col("url_hash").alias("_seen_hash"))
            unseen = flagged.join(
                seen_k,
                (flagged["url_hash"] == seen_k["_seen_hash"]) & flagged["_maybe_seen"],
                "left_anti",
            ).drop("_maybe_seen")
        else:
            unseen = links_ok.join(seen.select("url_hash"), "url_hash", "left_anti")
        if self.cfg.mode != "replay":
            # wave mode: also drop links to members of this very wave
            # (sequentially they would have been seen; seen-set equality holds)
            unseen = unseen.join(wave.select("url_hash"), "url_hash", "left_anti")

        # 7. per-key aggregation (A2/X3): occurrences + first discovery
        disc = unseen.groupBy("url_hash", "url", "host").agg(
            F.count(F.lit(1)).alias("occ"),
            F.min(F.struct("pop_rank", "bib_index", "citing_depth")).alias("first"),
        ).select(
            "url_hash",
            "url",
            "host",
            "occ",
            F.col("first.pop_rank").alias("first_pop_rank"),
            F.col("first.bib_index").alias("first_bib_index"),
            F.col("first.citing_depth").alias("first_depth"),
        ).cache()

        # one stats pass over the cached wave results (runs extraction once);
        # waved = processed + failed (the left join keeps every wave row),
        # so the wave count comes free with the extraction pass
        stats = fetched.agg(
            F.sum(F.when(F.col("status") == "processed", 1).otherwise(0)).alias("p"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("f"),
            F.coalesce(F.sum("num_arxiv_citations"), F.lit(0)).alias("links"),
        ).collect()[0]
        n_links = int(stats["links"])
        waved = int(stats["p"] or 0) + int(stats["f"] or 0)
        if waved == 0:  # budgets deferred everything; nothing to commit
            for df in (wave, fetched, disc):
                df.unpersist()
            return None
        _mark("fetch+extract+stats")

        # 8. frontier merge: the wave and its discoveries fold into the
        # whole frontier, which the commit rewrites in full
        new_frontier = merge_frontier(frontier, wave.select("url_hash"), disc, round_no).cache()

        # The priority-histogram agg (next round's scan-free wave bounds +
        # per-bucket sizes) runs INSIDE the commit's thread pool, overlapped
        # with the data writes — it shares the cached merge chain with the
        # frontier write, so block-level cache locks pipeline the two jobs
        # instead of computing the chain twice. The exact-lineage sum over
        # the cached discoveries runs there too.
        bucket_col = F.pmod(F.col("url_hash"), F.lit(self.cfg.n_buckets)).cast("int")

        def frontier_meta() -> dict[str, Any]:
            frontier_hist, bucket_sizes = _hist_agg(new_frontier, bucket_col)
            new_size = sum(bucket_sizes.values())
            deduped = -1
            if self.cfg.exact_lineage:
                # occurrences not newly queued (already seen, in-wave, or denied)
                deduped = n_links - int(disc.agg(F.sum("occ")).collect()[0][0] or 0)
            return {
                "frontier_hist": frontier_hist,
                "bucket_sizes": bucket_sizes,
                "frontier_size": new_size,
                "lineage": {
                    **lineage,
                    "deduped": deduped,
                    "frontier_size": new_size,
                },
            }

        # 9. seen delta (+ robots-denied links, only when robots exist).
        # ``fetched`` is the wave left-joined to extraction, so it already
        # carries one (url_hash, url, status) row per wave member — no join.
        n_denied = 0
        seen_delta = fetched.select("url_hash", "url", "status")
        if self.robots is not None:
            denied_new = (
                links_denied.select("url_hash", "url")
                .distinct()
                .join(seen.select("url_hash"), "url_hash", "left_anti")
                .join(wave.select("url_hash"), "url_hash", "left_anti")
                .withColumn("status", F.lit("robots_denied"))
                .cache()
            )
            n_denied = denied_new.count()
            seen_delta = seen_delta.unionByName(denied_new)

        # politeness deferral lineage (exact, optional — full-frontier agg)
        deferred = 0
        lineage_hosts: dict[str, int] = {}
        if self.cfg.collect_host_lineage and self.cfg.mode != "replay":
            fh = frontier.groupBy("host").count()
            wh = wave.groupBy("host").agg(F.count(F.lit(1)).alias("got"))
            for r in fh.join(wh, "host", "left").fillna(0, ["got"]).collect():
                d = int(r["count"] - r["got"])
                if d > 0:
                    lineage_hosts[r["host"]] = d
                    deferred += d

        # bloom gains everything newly seen this round (executor-side, COW
        # shard files — see crawl/bloom.py). Inactive → activate lazily by
        # folding the ENTIRE seen set in once the exact anti-join probe is
        # expensive enough to be worth pre-filtering (bloom_min_seen).
        bloom_delta = None
        if self.cfg.use_bloom:
            if bloom_shards is not None:
                bloom_delta = seen_delta.select("url_hash")
            elif n_seen_approx + waved >= self.cfg.bloom_min_seen:
                bloom_delta = seen.select("url_hash").unionByName(
                    seen_delta.select("url_hash")
                )

        fetched_out = fetched.select(
            "url_hash",
            "url",
            "host",
            "round",
            "global_order",
            "pop_rank",
            "depth",
            "count_at_pop",
            "phase",
            "status",
            "num_citations",
            "num_arxiv_citations",
            "extracted_text",
            # ProcessedPaper metadata (models.py:38-56) — the browser's
            # search/detail fields, carried on the fetched log
            "title",
            "authors",
            "abstract",
            "published",
            "categories",
        )

        new_processed = processed_count + int(stats["p"])
        new_failed = failed_count + int(stats["f"])
        lineage = {
            "round": round_no,
            "phase": phase,
            "fetched": int(waved),
            "processed": int(stats["p"]),
            "failed": int(stats["f"]),
            "links": n_links,
            "robots_denied": n_denied,
            "politeness_deferred": deferred,
            "politeness_deferred_by_host": lineage_hosts,
        }

        _mark("pre-commit misc")
        committed = self.store.commit(
            round_no,
            frontier=new_frontier,
            seen_delta=seen_delta,
            fetched_delta=fetched_out,
            edges_delta=edges_out,
            bloom_delta=bloom_delta,
            extra_meta_job=frontier_meta,
            meta={
                "processed_count": new_processed,
                "failed_count": new_failed,
                "total_pops": total_pops + waved,
                "max_papers": self.cfg.max_papers,
            },
        )
        _mark("commit")
        for df in (wave, fetched, disc, new_frontier):
            df.unpersist()
        deduped = committed["lineage"]["deduped"]
        return RoundResult(
            round_no,
            phase,
            waved,
            int(stats["p"]),
            int(stats["f"]),
            n_links - deduped if deduped >= 0 else -1,
            deduped,
            n_denied,
            deferred,
            int(committed["frontier_size"]),
            time.monotonic() - t0,
            committed["lineage"],
        )


    # ---------------------------------------------------------------- run
    def run(self, max_rounds: int | None = None) -> list[RoundResult]:
        results: list[RoundResult] = []
        while max_rounds is None or len(results) < max_rounds:
            r = self.run_round()
            if r is None:
                break
            results.append(r)
            if self.cfg.gc_every_rounds and len(results) % self.cfg.gc_every_rounds == 0:
                self.store.gc()
        return results

    # -------------------------------------------------------------- views
    def trace(self) -> DataFrame:
        """Pop-ordered crawl trace (FIXTURES.md §4 schema)."""
        return self.store.fetched().select(
            F.col("global_order").alias("order"),
            "url",
            "depth",
            F.col("count_at_pop"),
            "phase",
            "status",
        ).orderBy("order")

    def status_summary(self) -> DataFrame:
        """Crawler-status header (browser/app.py:419-514): one row of
        processed/failed/queued counts + round, straight from the manifest
        (no table scan — the lineage counters ARE the status)."""
        m = self.store.manifest()
        return self.spark.createDataFrame(
            [
                (
                    int(m["round"]),
                    int(m["processed_count"]),
                    int(m["failed_count"]),
                    int(m["frontier_size"]),
                    int(m["total_pops"]),
                )
            ],
            "round int, processed_count long, failed_count long, queued_count long, total_pops long",
        )

    def dataset_status(self, sort: str = "cited_by") -> DataFrame:
        """In-dataset papers view (app.py:446-475): per processed url, the
        internal vs external citation split (P3 membership against the
        crawled set) and the cited-by count (J7 reverse index), sorted like
        the reference's ``dataset_sort`` modes."""
        processed = self.store.fetched().filter(F.col("status") == "processed")
        proc_urls = processed.select(F.col("url").alias("p_url")).distinct()
        edges = self.store.edges().withColumn(
            "cited_url",
            F.when(
                F.col("cited_arxiv_id").isNotNull(),
                canonicalize_url(self.link_resolver(F.col("cited_arxiv_id"))),
            ),
        )
        # internal = cited paper is itself in the crawled dataset (app.py:448).
        # Join strategy is left to Catalyst/AQE (same policy as
        # cited_by_contexts below): the processed set IS the dataset, so a
        # forced broadcast would ship the whole corpus to every executor at
        # a 10^10-URL crawl; AQE still picks broadcast when it's small.
        flagged = edges.join(
            proc_urls, edges.cited_url == proc_urls.p_url, "left"
        ).withColumn("is_internal", F.col("p_url").isNotNull())
        per_citer = flagged.groupBy(F.col("citing_url").alias("url")).agg(
            F.sum(F.when(F.col("is_internal"), 1).otherwise(0)).alias("internal_citations"),
            F.sum(F.when(F.col("is_internal"), 0).otherwise(1)).alias("external_citations"),
        )
        cited_by = (
            flagged.filter(F.col("is_internal"))
            .groupBy(F.col("cited_url").alias("url"))
            .agg(F.count(F.lit(1)).alias("cited_by"))
        )
        out = (
            processed.select("url", "global_order")
            .join(per_citer, "url", "left")
            .join(cited_by, "url", "left")
            .fillna(0, ["internal_citations", "external_citations", "cited_by"])
        )
        orders = {
            "cited_by": [F.desc("cited_by"), F.asc("url")],
            "internal": [F.desc("internal_citations"), F.asc("url")],
            "external": [F.desc("external_citations"), F.asc("url")],
            "id": [F.asc("url")],
            "crawled": [F.asc("global_order")],
        }
        return out.orderBy(*orders[sort]).select(
            "url", "internal_citations", "external_citations", "cited_by"
        )

    def search_papers(self, q: str, limit: int = 100) -> DataFrame:
        """Keyword search over the crawled papers (browser/app.py:255-290):
        case-insensitive literal ``contains`` on title OR abstract OR any
        author (the reference's three-field predicate, :268-276), each hit
        enriched with its cited-by count (``len(cited_by_index.get(id))``,
        :280 — citing dataset papers per cited url). The reference takes the
        first 100 in frame order; distributed, "first" is undefined, so the
        cap is applied in (cited_by desc, url asc) order — the home page's
        sort — as the documented divergence."""
        ql = (q or "").strip().lower()
        processed = self.store.fetched().filter(F.col("status") == "processed")
        if not ql:
            return processed.select(
                "url", "title", "abstract", "published", "categories"
            ).withColumn("cited_by_count", F.lit(0).cast("long")).limit(0)
        hit = (
            F.contains(F.lower(F.coalesce(F.col("title"), F.lit(""))), F.lit(ql))
            | F.contains(F.lower(F.coalesce(F.col("abstract"), F.lit(""))), F.lit(ql))
            | F.exists(
                F.coalesce(F.col("authors"), F.array().cast("array<string>")),
                lambda a: F.contains(F.lower(a), F.lit(ql)),
            )
        )
        cited_by = (
            self.store.edges()
            .filter(F.col("cited_arxiv_id").isNotNull())
            .withColumn(
                "url", canonicalize_url(self.link_resolver(F.col("cited_arxiv_id")))
            )
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias("cited_by_count"))
        )
        return (
            processed.filter(hit)
            .join(cited_by, "url", "left")
            .select(
                "url",
                "title",
                "abstract",
                "published",
                "categories",
                F.coalesce("cited_by_count", F.lit(0)).alias("cited_by_count"),
            )
            .orderBy(F.desc("cited_by_count"), F.asc("url"))
            .limit(limit)
        )

    def cited_by_contexts(self) -> DataFrame:
        """Reverse-context view (browser/app.py:387-405): for every crawled
        paper, the reference_contexts with which each *citing* dataset paper
        cites it — the paper page's "cited by" section. The reference scans
        the citer's citations and takes the FIRST entry matching the cited
        id (the ``break`` at :399); here that is ``min_by(contexts,
        bib_index)`` per (citer, cited) pair. One row per context, with the
        citer's title joined from the fetched log."""
        processed = self.store.fetched().filter(F.col("status") == "processed")
        e = (
            self.store.edges()
            .filter(F.col("cited_arxiv_id").isNotNull())
            .withColumn(
                "cited_url", canonicalize_url(self.link_resolver(F.col("cited_arxiv_id")))
            )
            # the paper page exists for dataset members only
            .join(
                processed.select(F.col("url").alias("cited_url")).distinct(),
                "cited_url",
                "left_semi",
            )
        )
        first = e.groupBy("cited_url", "citing_url").agg(
            F.min_by("reference_contexts", "bib_index").alias("ctxs")
        )
        # a re-processed url (self-citation re-queue) has two fetched rows;
        # the reference's arxiv_id_index keeps the last processing (:393)
        titles = processed.groupBy(F.col("url").alias("citing_url")).agg(
            F.max_by("title", "global_order").alias("citing_title")
        )
        # big-big joins on url keys — leave the strategy to Catalyst/AQE
        # (broadcast would ship the whole processed set at 10^10 scale)
        return (
            first.join(titles, "citing_url", "left")
            .select(
                "cited_url",
                "citing_url",
                "citing_title",
                F.posexplode_outer("ctxs").alias("ctx_pos", "reference_context"),
            )
        )

    def queued_status(self, sort: str = "priority") -> DataFrame:
        """Pending-queue view (app.py:477-498): frontier rows with their
        (priority=count, depth) sorted like the reference's ``queued_sort``."""
        f = self.store.frontier()
        orders = {
            "priority": [F.desc("count"), F.asc("url")],
            "depth": [F.asc("depth"), F.desc("count"), F.asc("url")],
            "id": [F.asc("url")],
        }
        return f.select("url", F.col("count").alias("priority"), "depth").orderBy(*orders[sort])

    def near_dup_report(self, since_round: int | None = None) -> DataFrame:
        """Near-duplicate candidate pairs (MinHash-LSH, operators/dedup.py)
        over the live store's processed documents, url-keyed on their
        extracted text. With ``since_round`` the report is INCREMENTAL:
        rounds before it are the ``lsh_index_build`` side (at scale a
        persisted (id, band_hash) parquet — a derived artifact rebuildable
        from the fetched log, so it needs no extra commit machinery) and
        only the newer rounds' documents are banded (Θ(|increment|)) and
        probed against it, plus the increment's internal pairs — a crawl
        increment never re-bands the archive. Without it, the bootstrap
        path bands the whole corpus. Candidates only; verify downstream
        with ``jaccard_pairs`` before acting on them."""
        from arxiv_crawler_spark.operators.dedup import (
            lsh_candidate_pairs,
            lsh_index_build,
            lsh_index_probe,
        )

        docs = (
            self.store.fetched()
            .filter(F.col("status") == "processed")
            .select("url", "round", "extracted_text")
        )
        if since_round is None:
            return lsh_candidate_pairs(docs, id_col="url", text_col="extracted_text")
        old = docs.filter(F.col("round") < since_round)
        new = docs.filter(F.col("round") >= since_round)
        idx = lsh_index_build(old, id_col="url", text_col="extracted_text")
        # band the increment ONCE (Θ(|increment|) shingle+minhash work) and
        # share it across the probe and the internal-pairs branches: the
        # union does not reuse a bare subplan, but a band_hash repartition
        # — the partitioning both joins need anyway — gives the branches a
        # common exchange AQE's stage reuse dedupes at runtime, with no
        # persist leaking cache across actions (round-6 fix)
        nb = lsh_index_build(new, id_col="url", text_col="extracted_text").repartition(
            "band_hash"
        )
        return lsh_index_probe(idx, delta_banded=nb).unionByName(
            lsh_candidate_pairs(new, banded=nb)
        )

    def seen_statuses(self) -> DataFrame:
        """Final URL-seen set: processed ∪ failed ∪ still-queued
        (crawler.py:57-59). One row per url: a self-citing paper can be both
        processed and re-queued (crawler.py:152 checks seen *before* the
        current paper commits), and a re-processed url appears in two seen
        deltas — the oracle's state dict collapses those with queued-wins
        precedence (refcrawler.seen_set), mirrored here."""
        m = self.store.manifest()
        rows = self.store.seen(m).select("url", "status").unionByName(
            self.store.frontier(m).select("url", F.lit("queued").alias("status"))
        )
        rank = (
            F.when(F.col("status") == "queued", 2)
            .when(F.col("status") == "failed", 1)
            .otherwise(0)
        )
        return rows.groupBy("url").agg(
            F.max(F.struct(rank.alias("r"), F.col("status").alias("s")))["s"].alias("status")
        )
