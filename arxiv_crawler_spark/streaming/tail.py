"""Structured-Streaming tail over the crawl store's append logs.

The snapshot store publishes every COMMITTED round's ``fetched``/``edges``/
``seen`` delta files into ``tail/<log>/`` — hardlinked AFTER the manifest
flip (store.py::_publish_tail). That tree IS a file-stream source: a live
crawl publishes one round's files per commit, and a ``readStream`` over it
picks each round's rows up exactly once (the file source tracks seen files
in its checkpoint) — incremental analytics (running cited-by counts,
per-status rates, freshness dashboards) over a crawl *while it runs*,
without re-scanning the whole log each round. The reference's closest
analog is re-reading ``citations.jsonl`` per browser request (app.py);
here the same view maintains itself incrementally.

Exactly-once under torn commits: data files land BEFORE the manifest flip,
but publication happens strictly AFTER it, so a round whose manifest never
flipped is invisible to the stream; its re-run publishes the rewrite once
(tested: tests/test_streaming.py::test_store_tail_torn_commit_invisible).
A crash in the flip→publish window only *delays* the round — publication
is idempotent and self-heals on the next commit or ``stream_log`` setup.

Contracts and caveats (documented, not hidden):

* Only raw per-round deltas are published — tier-compaction output
  (``<name>_compacted_t*``) rewrites rows the stream already consumed and
  is never linked, so folds never double-count.
* ``store.gc()`` prunes tail files once compaction dereferences their
  source round. The tail is built for LIVE consumption: keep the stream's
  processing lag well under the first-fold horizon (``compact_seen_after``
  rounds — 48 by default), or run the crawl with ``gc_every_rounds=0``
  while tailing.
* Publication uses hardlinks (zero storage); on filesystems without them
  (cross-device, object stores) the store falls back to copies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["stream_log", "stream_fetched", "stream_edges", "cited_by_counts_stream"]


def stream_log(
    spark: SparkSession,
    store_path: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over one append log (``fetched`` | ``edges`` |
    ``seen``). One micro-batch ingests whole round-delta files — rounds are
    the natural batch granularity of the store. Setup heals the tail tree
    first, so a store whose last writer crashed between the manifest flip
    and tail publication streams its final committed round too."""
    from arxiv_crawler_spark.crawl.store import SnapshotStore

    store = SnapshotStore(store_path, spark)
    store.publish_tail()
    # file streams need an explicit schema — infer it from the committed
    # batch view (manifest-referenced paths, so a torn round can't poison it)
    schema = {"fetched": store.fetched, "edges": store.edges, "seen": store.seen}[name]().schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(store_path, "tail", name))


def stream_fetched(spark: SparkSession, store_path: str) -> DataFrame:
    return stream_log(spark, store_path, "fetched")


def stream_edges(spark: SparkSession, store_path: str) -> DataFrame:
    return stream_log(spark, store_path, "edges")


def cited_by_counts_stream(edges: DataFrame) -> DataFrame:
    """Running cited-by counts over the edges tail — the incrementally
    maintained form of the browser's cited-by view (app.py cited_by
    enrichment; plans/analytics q34/J7), keyed on the resolved arXiv id
    (edges without one cannot be cited-by targets). Complete-mode
    aggregation: state is O(|distinct cited ids|), the same cardinality
    the batch view materializes."""
    return (
        edges.filter(F.col("cited_arxiv_id").isNotNull())
        .groupBy("cited_arxiv_id")
        .agg(F.count(F.lit(1)).alias("cited_by_count"))
    )
