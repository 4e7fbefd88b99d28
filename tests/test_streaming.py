"""Structured Streaming parity: the streaming tumbling rollup must produce
exactly the batch rollup once the source is fully consumed."""

import pytest

from arxiv_crawler_spark.streaming.events import streaming_tumbling_rollup, tumbling_rollup


def test_stream_equals_batch(spark, sf_dir):
    events_path = f"{sf_dir}/events.parquet"
    batch = tumbling_rollup(spark.read.parquet(events_path), "6 hours")
    want = sorted(tuple(r) for r in batch.collect())

    stream_df = streaming_tumbling_rollup(spark, events_path, "6 hours")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.sql("select * from rollup_test").collect())
    assert got == want


def test_stateful_streaming_sessionize_equals_batch(spark, sf_dir):
    """applyInPandasWithState sessionization must converge to the batch
    sessionizer's result once the source is drained (latest row per
    (user, session) in update mode)."""
    from arxiv_crawler_spark.streaming.events import sessionize
    from arxiv_crawler_spark.streaming.stateful import streaming_sessionize

    events_path = f"{sf_dir}/events.parquet"
    want = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"], r["sum_value"], r["session_start"], r["session_end"]
        )
        for r in sessionize(spark.read.parquet(events_path)).collect()
    }

    stream = streaming_sessionize(spark, events_path)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.sql("select * from sess_test").collect()
    got = {}
    for r in rows:  # update mode: last emission per key wins
        got[(r["user_id"], r["session_idx"])] = (
            r["n_events"], r["sum_value"], r["session_start"], r["session_end"]
        )
    assert got == want


def test_transform_with_state_sessionize_equals_batch(spark, sf_dir):
    """The transformWithStateInPandas (StatefulProcessor/ValueState) form
    must converge to the same result as the batch sessionizer — both
    stateful APIs share one vectorized core. Skipped where google.protobuf
    (the TWS state protocol's python dependency) is not installed — this
    sandbox ships pyspark without it; the processor logic itself is the
    same `_advance` core the applyInPandasWithState parity test covers."""
    from arxiv_crawler_spark.streaming.events import sessionize
    from arxiv_crawler_spark.streaming.stateful import streaming_sessionize_tws, tws_available

    if not tws_available():
        pytest.skip("google.protobuf not installed — transformWithState protocol unavailable")

    events_path = f"{sf_dir}/events.parquet"
    want = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"], r["sum_value"], r["session_start"], r["session_end"]
        )
        for r in sessionize(spark.read.parquet(events_path)).collect()
    }

    stream = streaming_sessionize_tws(spark, events_path)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_tws_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = {}
    for r in spark.sql("select * from sess_tws_test").collect():
        got[(r["user_id"], r["session_idx"])] = (
            r["n_events"], r["sum_value"], r["session_start"], r["session_end"]
        )
    assert got == want


def test_session_processor_wrapper_logic():
    """The StatefulProcessor wrapper must thread ValueState through the
    shared _advance core exactly like the GroupState wrapper — tested with
    a fake state handle so it runs even without the TWS protocol deps."""
    import pandas as pd

    from arxiv_crawler_spark.streaming.stateful import _SessionProcessor, _advance

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    ts = pd.to_datetime(
        ["2024-01-01 10:00:00", "2024-01-01 10:10:00", "2024-01-01 12:00:00"]
    )
    batch1 = pd.DataFrame({"ts": ts, "event_id": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    batch2 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:20:00"]), "event_id": [4], "value": [4.0]}
    )
    proc = _SessionProcessor(30 * 60.0)
    proc.session = FakeValueState()
    out1 = pd.concat(list(proc.handleInputRows((7,), iter([batch1]), None)))
    out2 = pd.concat(list(proc.handleInputRows((7,), iter([batch2]), None)))
    # oracle: run the shared core over the same two batches directly
    rows1, st = _advance(7, batch1, None, 30 * 60.0)
    rows2, _ = _advance(7, batch2, st, 30 * 60.0)
    assert out1.to_dict("records") == rows1
    assert out2.to_dict("records") == rows2
    # semantic spot-checks: 2 sessions in batch 1; batch 2 event (12:20)
    # continues session 2 (gap 20 min < 30) with its running aggregates
    assert [r["session_idx"] for r in rows1] == [1, 2]
    assert rows2 == [
        {
            "user_id": 7, "session_idx": 2, "n_events": 2, "sum_value": 7.0,
            "session_start": "2024-01-01 12:00:00.000000",
            "session_end": "2024-01-01 12:20:00.000000",
        }
    ]


def test_stateful_state_spans_microbatches(spark, sf_dir, tmp_path):
    """Split the events into three time-ordered files and feed them one per
    micro-batch — sessions that straddle a batch boundary must still merge
    (the per-key state carries the open session across batches)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from arxiv_crawler_spark.streaming.events import sessionize
    from arxiv_crawler_spark.streaming.stateful import _session_fn, OUT_SCHEMA, STATE_SCHEMA
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["sum_value"])
        for r in sessionize(events).collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    thirds = [ordered[: len(ordered) // 3], ordered[len(ordered) // 3 : 2 * len(ordered) // 3],
              ordered[2 * len(ordered) // 3 :]]
    for i, chunk in enumerate(thirds):
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        part = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        os.rename(part, str(src / f"{i:03d}.parquet"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(30 * 60.0), OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
    q = (
        out.writeStream.format("memory").queryName("sess_mb")
        .outputMode("update").trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(240)
    finally:
        q.stop()
    got = {}
    for r in spark.sql("select * from sess_mb order by user_id, session_idx").collect():
        got[(r["user_id"], r["session_idx"])] = (r["n_events"], r["sum_value"])
    assert got == want


def test_store_tail_stream_equals_batch(spark, tmp_path_factory):
    """Streaming tail over the crawl store's append logs: after a mini
    crawl, an availableNow pass over the edges/fetched tails must see
    exactly the committed log (same rows as the batch store readers), and
    the running cited-by aggregation must equal the batch q34/J7 view."""
    import tempfile

    from pyspark.sql import functions as F

    from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
    from arxiv_crawler_spark.fixtures import gen_seeds, gen_world, spark_pages
    from arxiv_crawler_spark.streaming.tail import (
        cited_by_counts_stream,
        stream_edges,
        stream_fetched,
    )

    pages = spark_pages(spark, gen_world(n_docs=24, seed=42))
    store = str(tmp_path_factory.mktemp("tail_store"))
    eng = CrawlEngine(
        spark, store, pages,
        CrawlConfig(mode="replay", max_papers=6, n_buckets=8, use_bloom=False),
    )
    eng.bootstrap(gen_seeds(24, n_seeds=3))
    eng.run()

    ckpt = tempfile.mkdtemp(prefix="tail_ckpt_")
    q = (
        cited_by_counts_stream(stream_edges(spark, store))
        .writeStream.format("memory").queryName("tail_cited")
        .outputMode("complete")
        .option("checkpointLocation", ckpt + "/e")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["cited_arxiv_id"]: r["cited_by_count"]
        for r in spark.sql("select * from tail_cited").collect()
    }
    want = {
        r["cited_arxiv_id"]: r["n"]
        for r in eng.store.edges()
        .filter(F.col("cited_arxiv_id").isNotNull())
        .groupBy("cited_arxiv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0

    q2 = (
        stream_fetched(spark, store)
        .writeStream.format("memory").queryName("tail_fetched")
        .option("checkpointLocation", ckpt + "/f")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n_stream = spark.sql("select count(*) c from tail_fetched").collect()[0]["c"]
    assert n_stream == eng.store.fetched().count()


def test_store_tail_torn_commit_invisible(spark, tmp_path_factory):
    """Exactly-once under torn commits: data files land before the manifest
    flip, but tail publication happens strictly after it — a round whose
    manifest never flipped must be invisible to the stream, and its later
    proper commit must surface exactly once."""
    import os
    import tempfile

    from arxiv_crawler_spark.crawl.store import SnapshotStore

    path = str(tmp_path_factory.mktemp("torn_store"))
    store = SnapshotStore(path, spark, n_buckets=4)

    def delta(lo, hi, rnd):
        return spark.range(lo, hi).selectExpr(
            "id as url_hash",
            "concat('u', id) as url",
            "'processed' as status",
            f"{rnd} as round",
        )

    frontier = spark.range(0).selectExpr(
        "id as url_hash", "cast(null as string) as url", "cast(null as string) as host",
        "id as count", "cast(0 as int) as depth", "id as discovery_seq",
    )
    store.commit(1, frontier=frontier,
                 seen_delta=None, fetched_delta=delta(0, 10, 1),
                 meta={"processed_count": 10, "failed_count": 0,
                       "total_pops": 10, "frontier_size": 0})

    # torn round 2: data dir written, manifest never flipped
    torn_dir = os.path.join(path, "snapshots", "r000002", "fetched")
    delta(10, 25, 2).coalesce(1).write.parquet(torn_dir)

    from arxiv_crawler_spark.streaming.tail import stream_log

    def drain(qname):
        q = (
            stream_log(spark, path, "fetched")
            .writeStream.format("memory").queryName(qname)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="torn_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["url_hash"] for r in spark.sql(f"select url_hash from {qname}").collect()}

    got = drain("torn_t1")
    assert got == set(range(10))  # torn round invisible

    # proper commit of round 2 (clobbers the torn dir, publishes post-flip)
    store.commit(2, frontier=None,
                 seen_delta=None, fetched_delta=delta(10, 25, 2),
                 meta={"processed_count": 25, "failed_count": 0,
                       "total_pops": 25, "frontier_size": 0})
    got2 = drain("torn_t2")
    assert got2 == set(range(25))  # surfaces exactly once
    n = spark.sql("select count(*) c from torn_t2").collect()[0]["c"]
    assert n == 25


def test_tail_gc_prunes_compacted_rounds(spark, tmp_path_factory):
    """Once tier compaction folds raw round deltas out of the manifest,
    gc() must prune their tail publications (the stream consumed them long
    ago — the tail listing stays O(horizon)) while the batch view and the
    live rounds' tail files survive."""
    import os

    from arxiv_crawler_spark.crawl.store import SnapshotStore

    path = str(tmp_path_factory.mktemp("tailgc_store"))
    store = SnapshotStore(path, spark, n_buckets=4, compact_seen_after=2)

    def delta(lo, hi, rnd):
        return spark.range(lo, hi).selectExpr(
            "id as url_hash", "concat('u', id) as url",
            "'processed' as status", f"{rnd} as round", "id as global_order",
        )

    n_rounds = 7  # tier T=2 → folds trigger well within 7 commits
    for r in range(1, n_rounds + 1):
        store.commit(r, frontier=None,
                     seen_delta=None, fetched_delta=delta((r - 1) * 10, r * 10, r),
                     meta={"processed_count": r * 10, "failed_count": 0,
                           "total_pops": r * 10, "frontier_size": 0})

    m = store.manifest()
    raw = [d for d in m["fetched_deltas"] if "_compacted_t" not in d]
    assert len(raw) < n_rounds  # compaction actually folded some rounds

    tail_dir = os.path.join(path, "tail", "fetched")
    prefixes_before = {f.rsplit("__", 1)[0] for f in os.listdir(tail_dir)}
    # EVERY round published — including rounds whose delta was tier-folded
    # in its own commit (raw in no manifest; the own-snapshot publication
    # rule covers them, else every (T+1)-th round would vanish from the tail)
    assert len(prefixes_before) == n_rounds

    import tempfile

    from arxiv_crawler_spark.streaming.tail import stream_log

    q = (
        stream_log(spark, path, "fetched")
        .writeStream.format("memory").queryName("tailgc_all")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="tailgc_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = {r["url_hash"] for r in spark.sql("select url_hash from tailgc_all").collect()}
    assert seen == set(range(n_rounds * 10))  # no fold-round gaps, no dups
    assert spark.sql("select count(*) c from tailgc_all").collect()[0]["c"] == n_rounds * 10

    g = store.gc()
    assert g["tail_removed"] > 0
    prefixes_after = {f.rsplit("__", 1)[0] for f in os.listdir(tail_dir)}
    # survivors: manifest raw deltas + the current snapshot's own
    # publication (live even when folded in its own commit)
    want = {d.replace("/", "_") for d in raw} | {
        m["snapshot"].replace("/", "_") + "_fetched"
    }
    assert prefixes_after == want
    # batch view unaffected: all 70 rows still readable via the manifest
    assert store.fetched().count() == n_rounds * 10


def test_streaming_exact_dedup_equals_batch(spark, tmp_path_factory):
    """streaming_exact_dedup's final update per content hash (keeper =
    min doc_id, dup_count) equals batch exact_dedup, with state spanning
    micro-batches (maxFilesPerTrigger=1 over two staged files that split
    duplicate groups)."""
    import pandas as pd

    from arxiv_crawler_spark.operators.dedup import exact_dedup
    from arxiv_crawler_spark.streaming.stateful import (
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        _dedup_fn,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path_factory.mktemp("sdedup")
    rows1 = [(10, "alpha text"), (11, "beta text"), (12, "alpha text")]
    rows2 = [(5, "alpha text"), (13, "gamma text"), (14, "beta text")]
    spark.createDataFrame(rows1, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows2, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(src / "b2")
    )
    staged = src / "in"
    staged.mkdir()
    import glob, os

    for i, d in enumerate(["b1", "b2"]):
        (f,) = glob.glob(str(src / d / "part-*.parquet"))
        os.symlink(f, str(staged / f"{i}-part.parquet"))

    batch_df = spark.read.parquet(str(staged))
    schema = batch_df.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged))
        .withColumn("content_hash", F.md5(F.col("text")))
        .select("content_hash", "doc_id")
    )
    out = stream.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn(), DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout,
    )
    sink = f"sdedup_{id(out)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"select * from {sink}").toPandas()
    # keep the LAST update per hash (updates arrive in batch order)
    final = got.groupby("content_hash").last().reset_index()
    want = exact_dedup(batch_df).toPandas()
    merged = final.merge(want, on="content_hash", suffixes=("_s", "_b"))
    assert len(merged) == len(want) == 3
    assert (merged["keeper_id_s"] == merged["keeper_id_b"]).all()
    assert (merged["dup_count_s"] == merged["dup_count_b"]).all()
    # the late-arriving smaller id (5) must have displaced keeper 10
    alpha = want[want["keeper_id"] == 5]
    assert len(alpha) == 1 and int(alpha["dup_count"].iloc[0]) == 3


def test_streaming_hll_registers_equal_batch(spark, tmp_path_factory):
    """hll_registers is a plain groupBy/max, so it runs unchanged as a
    streaming aggregation over the store tail (x72): the stream's final
    register table must equal the batch registers over the committed
    fetched log — same sketch, maintained live."""
    import tempfile

    from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
    from arxiv_crawler_spark.fixtures import gen_seeds, gen_world, spark_pages
    from arxiv_crawler_spark.operators.sketches import hll_registers
    from arxiv_crawler_spark.streaming.tail import stream_fetched

    pages = spark_pages(spark, gen_world(n_docs=24, seed=42))
    store = str(tmp_path_factory.mktemp("hll_tail_store"))
    eng = CrawlEngine(
        spark, store, pages,
        CrawlConfig(mode="replay", max_papers=6, n_buckets=8, use_bloom=False),
    )
    eng.bootstrap(gen_seeds(24, n_seeds=3))
    eng.run()

    q = (
        hll_registers(stream_fetched(spark, store).select("url"), "url", p=8)
        .writeStream.format("memory").queryName("hll_tail_regs")
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="hll_tail_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select reg, mj from hll_tail_regs").collect())
    )
    want = sorted(
        map(tuple, hll_registers(eng.store.fetched().select("url"), "url", p=8).collect())
    )
    assert got == want and len(want) > 0


def test_windowed_streaming_hll_equals_batch(spark, sf_dir):
    """Approximate distinct-users-per-window, live: grouped HLL registers
    keyed by a 6-hour tumbling window run as a streaming aggregation over
    the events source must equal the batch registers — the windowed form
    of x72 (cardinality monitoring with bounded per-window state)."""
    from pyspark.sql import functions as F

    from arxiv_crawler_spark.operators.sketches import hll_registers_by

    events_path = f"{sf_dir}/events.parquet"

    def keyed(df):
        return df.select(
            F.window(F.col("ts").cast("timestamp"), "6 hours")["start"].alias("w"),
            F.col("user_id").cast("string").alias("u"),
        )

    batch = hll_registers_by(keyed(spark.read.parquet(events_path)), "w", "u", p=8)
    want = sorted(tuple(r) for r in batch.collect())

    import os
    import tempfile

    schema = spark.read.parquet(events_path).schema
    staged = tempfile.mkdtemp(prefix="hll_stream_src_")  # file source needs a dir
    os.symlink(os.path.abspath(events_path), os.path.join(staged, "part-0.parquet"))
    stream = hll_registers_by(
        keyed(spark.readStream.schema(schema).parquet(staged)), "w", "u", p=8
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("hll_windowed")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("select key, reg, mj from hll_windowed").collect()
    )
    assert got == want and len(want) > 0
