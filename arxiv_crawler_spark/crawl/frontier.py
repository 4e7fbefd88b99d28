"""Frontier DataFrame operations: priority ordering, wave selection with
salted per-host windows, seed merge, and the per-round frontier merge.

This module is the distributed re-statement of the reference's in-memory
priority dict (``queued_ids``, crawler.py:59) and its update rules
(crawler.py:149-157, 215-226). Everything is declarative DataFrame code —
Catalyst plans the joins, AQE handles skew — except the two decisions Spark
cannot make for us: the deterministic ``discovery_seq`` encoding and the
two-level salted window-rank that defeats host skew.

discovery_seq
-------------
The reference's tie-break is CPython dict insertion order (``max`` returns
the *first* maximal item, crawler.py:195-205). Insertion order is exactly
"(round, pop-rank of the citing paper, bib-entry index) of the first
discovery" — so instead of maintaining a dense counter (which would need a
global window per round), we *encode* that triple into one int64::

    discovery: seq = (round << 42) | (1 << 41) | (pop_rank << 14) | bib_index
    seed:      seq = (round << 42) | seed_idx

Order-isomorphic to insertion order, collision-free (pop_rank < 2^27,
bib_index < 2^14, seed_idx < 2^41, round < 2^20 — bounds asserted), and
assigned with pure column arithmetic: no window, no
``monotonically_increasing_id`` (whose values are partition-dependent and
would break replay determinism, SURVEY.md §4).

Field sizing is driven by the deployment shape, not symmetry: a
1000-executor crawl schedules 10M+-URL waves (BENCH/BASELINE.md §d), so
pop_rank gets 27 bits (134M-URL waves); bib_index counts bibliography
entries in ONE paper — the reference's worlds run ~36 (crawler fixture) and
even pathological survey papers stay well under 2^14 = 16384, and the
overflow guard raises rather than wrapping if one ever exceeds it. Seeds
never come from a pop, so they have no (rank, bib) split — bit 41
distinguishes the two forms and keeps every seed of a round ahead of every
discovery of the same round (reference: a re-seed resets depth on queued
entries but new seeds enqueue with the merge, before that round's
discoveries are appended — crawler.py:215-226).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "priority_order",
    "encode_seq",
    "merge_seeds",
    "select_wave",
    "merge_frontier",
    "hist_cell_cols",
    "hist_bounds",
]

_SEQ_ROUND_SHIFT = 42
_SEQ_RANK_SHIFT = 14
_SEQ_DISC_FLAG = 1 << 41  # discovery marker: sorts after every seed of the round
_SEQ_RANK_MAX = (1 << 27) - 1
_SEQ_BIB_MAX = (1 << 14) - 1
_SEQ_ROUND_MAX = (1 << 20) - 1
_SEQ_SEED_MAX = (1 << 41) - 1  # seeds: no (rank, bib) split, idx spans the low field


def priority_order(phase: str) -> list[Column]:
    """Sort columns for a phase (crawler.py:195-205).

    bfs       = max over (-depth, count)  → depth asc, count desc
    citations = max over (count, -depth)  → count desc, depth asc
    tie-break = first inserted            → discovery_seq asc
    """
    if phase == "bfs":
        return [F.asc("depth"), F.desc("count"), F.asc("discovery_seq")]
    if phase == "citations":
        return [F.desc("count"), F.asc("depth"), F.asc("discovery_seq")]
    raise ValueError(f"unknown phase: {phase}")


def encode_seq(round_no: Column | int, pop_rank: Column | int, bib_index: Column | int) -> Column:
    """Pack (round, pop_rank, bib_index) into an int64 queue position.

    Field bounds are enforced: python ints are validated eagerly; column
    inputs get a JVM-side ``assert_true`` guard (a silent overflow of
    pop_rank into the round bits would corrupt discovery_seq ordering and
    replay determinism)."""
    if isinstance(round_no, int) and not (0 <= round_no <= _SEQ_ROUND_MAX):
        raise ValueError(f"encode_seq: round {round_no} out of [0, {_SEQ_ROUND_MAX}]")
    if isinstance(pop_rank, int) and not (0 <= pop_rank <= _SEQ_RANK_MAX):
        raise ValueError(f"encode_seq: pop_rank {pop_rank} out of [0, {_SEQ_RANK_MAX}]")
    if isinstance(bib_index, int) and not (0 <= bib_index <= _SEQ_BIB_MAX):
        raise ValueError(f"encode_seq: bib_index {bib_index} out of [0, {_SEQ_BIB_MAX}]")
    r = F.lit(round_no) if isinstance(round_no, int) else round_no
    p = F.lit(pop_rank) if isinstance(pop_rank, int) else pop_rank
    b = F.lit(bib_index) if isinstance(bib_index, int) else bib_index
    seq = (
        F.shiftleft(r.cast("long"), _SEQ_ROUND_SHIFT)
        + F.lit(_SEQ_DISC_FLAG)
        + F.shiftleft(p.cast("long"), _SEQ_RANK_SHIFT)
        + b.cast("long")
    )
    # runtime guard on column-valued fields: assert_true yields NULL when the
    # bounds hold (so the coalesce is a no-op) and raises on overflow
    checks = []
    if not isinstance(round_no, int):
        checks.append((r >= 0) & (r <= _SEQ_ROUND_MAX))
    if not isinstance(pop_rank, int):
        checks.append((p >= 0) & (p <= _SEQ_RANK_MAX))
    if not isinstance(bib_index, int):
        checks.append((b >= 0) & (b <= _SEQ_BIB_MAX))
    if checks:
        cond = checks[0]
        for c in checks[1:]:
            cond = cond & c
        guard = F.assert_true(cond, F.lit("encode_seq field overflow (>2^27-1 rank, >2^14-1 bib, or >2^20-1 round)"))
        seq = F.coalesce(guard.cast("long"), seq)
    return seq


def encode_seed_seq(round_no: int, seed_idx: Column) -> Column:
    """Queue position for a seed enqueued at ``round_no``. Seeds all carry
    pop_rank 0 (they are not discovered by any pop), so seed_idx may use the
    WHOLE 42-bit low field — the per-field split exists to interleave
    (pop_rank, bib_index) of real discoveries, which seeds never have. Seed
    lists up to 2.2·10^12 entries stay encodable (the old layout packed
    seed_idx into the bib field, capping seed lists at that field's width)."""
    if not (0 <= round_no <= _SEQ_ROUND_MAX):
        raise ValueError(f"encode_seed_seq: round {round_no} out of [0, {_SEQ_ROUND_MAX}]")
    s = seed_idx.cast("long")
    guard = F.assert_true(
        (s >= 0) & (s <= _SEQ_SEED_MAX), F.lit("encode_seed_seq seed_idx overflow (>2^41-1)")
    )
    return F.coalesce(
        guard.cast("long"), F.shiftleft(F.lit(round_no).cast("long"), _SEQ_ROUND_SHIFT) + s
    )


def merge_seeds(frontier: DataFrame, seen: DataFrame, seeds: DataFrame, round_no: int) -> DataFrame:
    """Seed-merge semantics of crawler.py:215-226.

    ``seeds``: (url_hash, url, host, seed_idx) in seed-list order, already
    canonicalized. Rules: drop seeds already seen; a seed already queued
    keeps its count and queue position but has depth reset to 0
    (crawler.py:223-224); a new seed enqueues with (0, 0) at the end, in
    seed order. Duplicate seeds collapse to their first occurrence.
    """
    w = Window.partitionBy("url_hash").orderBy("seed_idx")
    s = (
        seeds.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .join(seen.select("url_hash"), "url_hash", "left_anti")
    )
    joined = frontier.alias("f").join(s.alias("s"), "url_hash", "full_outer")
    return joined.select(
        F.col("url_hash"),
        F.coalesce(F.col("f.url"), F.col("s.url")).alias("url"),
        F.coalesce(F.col("f.host"), F.col("s.host")).alias("host"),
        F.coalesce(F.col("f.count"), F.lit(0)).alias("count"),
        F.when(F.col("s.seed_idx").isNotNull(), F.lit(0))
        .otherwise(F.col("f.depth"))
        .cast("int")
        .alias("depth"),
        F.coalesce(
            F.col("f.discovery_seq"), encode_seed_seq(round_no, F.col("s.seed_idx"))
        ).alias("discovery_seq"),
    )


def _scalar_priority(phase: str) -> Column:
    """Monotone int64 image of the (depth, count) priority order — used only
    for quantile thresholding, where the discovery_seq tie-break is covered
    by overfetch slack. count clamps at 2^22-1 (beyond that, ordering among
    mega-hubs is already dominated by count)."""
    c = F.least(F.col("count"), F.lit((1 << 22) - 1))
    inv_c = F.lit((1 << 22) - 1) - c
    d = F.col("depth").cast("long")
    if phase == "bfs":
        return d * (1 << 22) + inv_c
    return inv_c * (1 << 22) + d


# ---------------------------------------------------------------- histogram
#
# The frontier manifest carries a tiny priority histogram per bucket: row
# counts grouped by (depth, count-bin). Each commit recomputes it with one agg
# over the new frontier, overlapped with the frontier write, and it lets
# select_wave derive its prefilter threshold and rank-bucket boundaries
# **driver-side, with zero frontier scan**. Without it, a large wave pays one
# histogram pass over the whole frontier — O(10^9 rows) of scan per round at
# web scale just to find ~32 numbers. This is the Iceberg manifest-statistics
# idea (per-file column stats steering the scan) applied to the priority key.
#
# Count bins are exact for c ≤ 31 and log2-spaced above (counts clamp at
# 2^22-1 like _scalar_priority), so a histogram has ≤ 49 count bins × the few
# distinct depths a crawl produces — hundreds of cells, not rows.

_HIST_CLAMP = (1 << 22) - 1
_HIST_EXACT = 31  # bins 0..31 are exact counts; above: 27 + floor(log2(c))


def hist_cell_cols() -> list[Column]:
    """Grouping columns (depth, cbin) for the manifest priority histogram —
    the Spark-side twin of the driver-side bin arithmetic in hist_bounds."""
    c = F.least(F.col("count"), F.lit(_HIST_CLAMP))
    cbin = F.when(c <= _HIST_EXACT, c).otherwise(
        F.lit(27) + F.floor(F.log2(c))
    )
    return [F.col("depth").cast("int").alias("_hd"), cbin.cast("int").alias("_hc")]


def _bin_lo(b: int) -> int:
    return b if b <= _HIST_EXACT else 1 << (b - 27)


def hist_total(hist: dict[tuple[int, int], int]) -> int:
    return sum(hist.values())


def hist_bounds(
    hist: dict[tuple[int, int], int],
    phase: str,
    wave_cap: int,
    n_buckets: int,
    overfetch: float = 3.0,
) -> list[float]:
    """Ascending _scalar_priority boundaries from the manifest histogram.

    Cells tile the scalar-key space exactly: for bfs, cell (d, b) spans
    ``[d·2²² + inv(hi(b)), d·2²² + inv(lo(b))]`` and cells are key-ascending
    in (d asc, b desc); for citations the per-bin groups (summed over depth)
    span disjoint inv-count ranges, key-ascending in b desc. Cumulative
    counts at cell edges are therefore EXACT row counts ≤ that key — so the
    last boundary provably covers the global top-wave_cap rows whenever the
    cumulative count reaches wave_cap (the under-collect fallback in
    select_wave guards the post-budget case). Boundary spacing targets
    ~overfetch·wave_cap/n_buckets rows per rank bucket; a coarse cell can
    exceed that (heavy ties) — _bucketed_rank's mega-bucket sub-split keeps
    those off a single task."""
    if not hist:
        return []
    inv = lambda c: _HIST_CLAMP - c  # noqa: E731
    if phase == "bfs":
        # end-of-cell key = d*2^22 + inv(lo(b)); ascending order: d asc, b desc
        cells = sorted(
            ((d, b, n) for (d, b), n in hist.items()), key=lambda t: (t[0], -t[1])
        )
        edges = [(float((d << 22) + inv(_bin_lo(b))), n) for d, b, n in cells]
    elif phase == "citations":
        by_bin: dict[int, int] = {}
        for (_, b), n in hist.items():
            by_bin[b] = by_bin.get(b, 0) + n
        # end-of-group key = inv(lo(b))*2^22 + (2^22-1): ≥ any depth in the
        # group, < the next group's minimum key ((inv(lo(b))+1)*2^22)
        edges = [
            (float((inv(_bin_lo(b)) << 22) + _HIST_CLAMP), by_bin[b])
            for b in sorted(by_bin, reverse=True)
        ]
    else:
        raise ValueError(f"unknown phase: {phase}")

    target = max(1, int(overfetch * wave_cap))
    step = max(1, -(-target // n_buckets))  # ceil
    bounds: list[float] = []
    cum = 0
    next_emit = step
    for key, n in edges:
        cum += n
        if cum >= next_emit or cum >= target:
            if not bounds or key > bounds[-1]:
                bounds.append(key)
            next_emit = cum + step
        if cum >= target:
            break
    if cum < target and (not bounds or edges[-1][0] > bounds[-1]):
        # frontier smaller than the overfetch target — the threshold must
        # still cover every row, or the prefilter would silently starve the
        # wave and force the fallback sort
        bounds.append(edges[-1][0])
    return bounds


def select_wave(
    frontier: DataFrame,
    phase: str,
    *,
    wave_cap: int,
    host_budgets: DataFrame | None = None,
    broadcast_budgets: bool = True,
    default_budget: int = 1,
    salt_factor: int = 8,
    threshold_prefilter_min: int = 10_000,
    priority_hist: dict[tuple[int, int], int] | None = None,
    mega_bucket_min: int = 1 << 18,
) -> DataFrame:
    """Pick the next fetch wave.

    Per-host budgets (politeness, X6) are enforced with a **two-level salted
    window-rank** (the north_rule technique): rank within (host, salt) and
    keep ≤ budget per salt — this bounds any single task's window to
    1/salt_factor of a hot host — then re-rank the ≤ salt·budget survivors
    within the host to take the exact per-host top-budget. A global
    priority-sorted ``limit(wave_cap)`` applies last. Replay mode is just
    ``wave_cap=1`` with no budgets.

    Returns wave rows + ``pop_rank`` (1-based, priority order).
    """
    if wave_cap > _SEQ_RANK_MAX:
        raise ValueError(
            f"wave_cap {wave_cap} exceeds the encode_seq pop_rank field ({_SEQ_RANK_MAX})"
        )
    order = priority_order(phase)
    cand = frontier

    sess = frontier.sparkSession

    # the per-host windows can only bind when some host's budget is below
    # the global cap — with a uniform budget ≥ wave_cap they are provably
    # no-ops, so skip the two window shuffles entirely
    budgets_can_bind = host_budgets is not None or default_budget < wave_cap
    want_prefilter = wave_cap >= threshold_prefilter_min
    if want_prefilter and not priority_hist:
        # no manifest histogram (a caller outside the crawl loop): one agg
        # over the frontier builds it, and the bounds come from it below
        priority_hist = {
            (int(r["_hd"]), int(r["_hc"])): int(r["c"])
            for r in frontier.groupBy(*hist_cell_cols())
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    large = bool(want_prefilter and hist_total(priority_hist) > 4 * wave_cap)

    if wave_cap > 1 and budgets_can_bind:
        # budgets first, prefilter second: a priority-only prefilter ahead
        # of binding budgets could be dominated by a few hot hosts whose
        # rows are then cut to `budget` each, under-filling the wave while
        # eligible rows on other hosts were filtered away. Post-budget, the
        # prefilter is a pure scan-efficiency move again (its under-collect
        # fallback is also checked post-budget, so wave composition is
        # identical to the unfiltered path).
        if host_budgets is not None:
            # host_budgets should be EXCEPTIONS ONLY (hosts whose budget
            # differs from default_budget — politeness.host_budgets with
            # exceptions_only=True): the left join + coalesce below treats
            # absent hosts as default, so shipping default rows is pure
            # waste. broadcast_budgets=False is the caller's escape hatch
            # when even the exception set exceeds broadcast size — the join
            # then shuffles on host, which the windows below shuffle on
            # anyway (co-partitioned, no extra exchange).
            bside = F.broadcast(host_budgets) if broadcast_budgets else host_budgets
            cand = cand.join(bside, "host", "left").withColumn(
                "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
            )
        else:
            cand = cand.withColumn("budget", F.lit(default_budget))
        salt = F.pmod(F.xxhash64("url_hash"), F.lit(salt_factor))
        w1 = Window.partitionBy(F.col("host"), salt).orderBy(*order)
        cand = cand.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= F.col("budget"))
        w2 = Window.partitionBy("host").orderBy(*order)
        cand = cand.withColumn("_r2", F.row_number().over(w2)).filter(F.col("_r2") <= F.col("budget"))
        cand = cand.drop("_r1", "_r2")

    if large:
        # Large waves: B ascending boundaries of the scalar priority key,
        # spaced to cover ~3·wave_cap rows. The last boundary is the
        # prefilter threshold (rows beyond it would be deferred to later
        # rounds regardless — scan efficiency only); the boundaries also
        # bucket the survivors for a fully parallel exact rank (no
        # single-task sort/window anywhere). Boundaries come from the
        # priority histogram (zero frontier scan when the manifest carries
        # it). Falls back to the simple exact path if the estimate
        # under-collects (binding budgets).
        key = _scalar_priority(phase)
        keyed = cand.withColumn("_pk", key.cast("double"))
        n_buckets = max(2, sess.sparkContext.defaultParallelism)
        bounds = hist_bounds(priority_hist, phase, wave_cap, n_buckets)
        filtered = keyed.filter(F.col("_pk") <= bounds[-1])
        ranked, n_candidates = _bucketed_rank(
            filtered, bounds, order, wave_cap, salt_factor=salt_factor,
            mega_bucket_min=mega_bucket_min,
        )
        if n_candidates >= wave_cap:
            return ranked.drop("budget", "_pk")
        cand = keyed.drop("_pk")  # under-collected (heavy ties) — simple exact path

    wave = cand.orderBy(*order).limit(wave_cap)
    wr = Window.orderBy(*order)  # wave is ≤ wave_cap rows — single-partition window is fine
    return wave.withColumn("pop_rank", F.row_number().over(wr)).drop("budget")


def _bucketed_rank(
    filtered: DataFrame,
    bounds: list[float],
    order: list[Column],
    wave_cap: int,
    salt_factor: int = 8,
    mega_bucket_min: int = 1 << 18,
) -> tuple[DataFrame, int]:
    """Exact global priority rank with no single-partition window.

    Bucket id = number of quantile boundaries strictly below the row's
    priority key — a pure function of the ROW VALUE against literal
    boundaries baked into the plan, so it is identical across jobs and
    recomputations (a partition-id scheme is not: range-partition sampling
    can land boundaries differently between the offset-collect job and the
    final evaluation, corrupting ranks — measured, not hypothetical).
    Monotone: smaller key (higher priority) → smaller-or-equal bucket;
    key ties share a bucket, so (bucket asc, within-bucket order) is the
    exact global order. One ≤ n_buckets-row collect turns per-bucket
    counts into rank offsets; buckets starting past wave_cap never reach
    the window at all.

    **Mega buckets** (> ``mega_bucket_min`` rows — at web scale the COMMON
    case: a BFS frontier is mostly (depth=d, count=1) ties, which share one
    priority key and land in one bucket) are sub-split before the window.
    (key, discovery_seq) extends the priority key to the exact total order,
    so value boundaries on the PAIR cut a mega bucket into contiguous order
    ranges: a deterministic hash-predicate sample (the IVF-sample pattern)
    yields per-bucket boundary pairs as plan literals, a per-sub-bucket
    count collect yields exact offsets, and the final window partitions by
    (bucket, sub) — every task bounded by ~mega_bucket_min rows, no matter
    how hot the tie. Exactness: lexicographic (key, seq) order within a
    bucket IS the priority order, boundaries are literals, offsets are
    exact counts.

    Returns (ranked_df, total_candidates) — the total doubles as the
    prefilter's under-collect check, saving a count job.
    """
    if len(bounds) > 1:
        barr = F.array(*[F.lit(float(b)) for b in bounds[:-1]])
        bucket = F.size(F.filter(barr, lambda b: b < F.col("_pk")))
    else:
        bucket = F.lit(0)
    r = filtered.withColumn("_bk", bucket)
    counts_map = {
        int(row["_bk"]): int(row["c"])
        for row in r.groupBy("_bk").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for bk in sorted(counts_map):
        offsets[bk] = acc
        acc += counts_map[bk]
    keep = [bk for bk, off in offsets.items() if off < wave_cap]
    if not keep:  # no candidates at all — caller falls back
        return filtered.limit(0).withColumn("pop_rank", F.lit(0)), 0

    mega = [bk for bk in keep if counts_map[bk] > mega_bucket_min]
    need = {bk: wave_cap - offsets[bk] for bk in keep}
    sub_bounds = (
        _mega_sub_bounds(r, mega, counts_map, need, mega_bucket_min) if mega else {}
    )
    mega = [bk for bk in mega if sub_bounds.get(bk)]

    if not mega:
        omap = F.create_map(*[F.lit(v) for bk in keep for v in (bk, offsets[bk])])
        w = Window.partitionBy("_bk").orderBy(*order)
        ranked = (
            r.filter(F.col("_bk").isin(keep))
            .withColumn("pop_rank", (F.row_number().over(w) + omap[F.col("_bk")]).cast("int"))
            .filter(F.col("pop_rank") <= wave_cap)
            .drop("_bk")
        )
        return ranked, acc

    # For each mega bucket: drop the bucket's tail past the sampled cut pair
    # (only the top `need ≤ wave_cap ≤ 2^27` rows can reach the wave, so the
    # number of literals is bounded by WAVE size, never bucket size), then
    # sub-bucket survivors by the boundary pairs — the number of literal
    # (key, seq) pairs lexicographically below the row.
    lex_le = lambda p, s: (F.lit(p) > F.col("_pk")) | (  # noqa: E731
        (F.lit(p) == F.col("_pk")) & (F.lit(s) >= F.col("discovery_seq"))
    )
    sub = F.lit(0)
    keep_cond = F.lit(True)
    for bk in mega:
        if sub_bounds[bk]["cut"] is not None:
            cut_p, cut_s = sub_bounds[bk]["cut"]
            keep_cond = F.when(F.col("_bk") == bk, lex_le(cut_p, cut_s)).otherwise(keep_cond)
        pairs = F.array(
            *[
                F.struct(F.lit(float(p)).alias("p"), F.lit(int(s)).alias("s"))
                for p, s in sub_bounds[bk]["bounds"]
            ]
        )
        below = F.size(
            F.filter(
                pairs,
                lambda b: (b["p"] < F.col("_pk"))
                | ((b["p"] == F.col("_pk")) & (b["s"] < F.col("discovery_seq"))),
            )
        )
        sub = F.when(F.col("_bk") == bk, below).otherwise(sub)
    kept = r.filter(F.col("_bk").isin(keep)).filter(keep_cond).withColumn("_sub", sub)

    # exact per-(bucket, sub) counts → combined offsets (one bounded collect)
    sub_counts = {
        (int(row["_bk"]), int(row["_sub"])): int(row["c"])
        for row in kept.groupBy("_bk", "_sub").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # the sampled cut is a heuristic; the counts are exact — if it cut a mega
    # bucket below its need, rank exactness is gone: fall back (caller takes
    # the simple path). 4× slack makes this vanishingly rare.
    for bk in mega:
        surv = sum(c for (b, _), c in sub_counts.items() if b == bk)
        if surv < min(need[bk], counts_map[bk]):
            return filtered.limit(0).withColumn("pop_rank", F.lit(0)), 0
    combined: dict[tuple[int, int], int] = {}
    for bk in keep:
        off = offsets[bk]
        for s in sorted(s for (b, s) in sub_counts if b == bk):
            combined[(bk, s)] = off
            off += sub_counts[(bk, s)]
    live = [k for k, off in combined.items() if off < wave_cap]
    okey = F.concat_ws(":", F.col("_bk"), F.col("_sub"))
    omap = F.create_map(
        *[F.lit(v) for (bk, s) in live for v in (f"{bk}:{s}", combined[(bk, s)])]
    )
    w = Window.partitionBy("_bk", "_sub").orderBy(*order)
    ranked = (
        kept.filter(okey.isin([f"{bk}:{s}" for bk, s in live]))
        .withColumn("pop_rank", (F.row_number().over(w) + omap[okey]).cast("int"))
        .filter(F.col("pop_rank") <= wave_cap)
        .drop("_bk", "_sub")
    )
    return ranked, acc


def _mega_sub_bounds(
    r: DataFrame,
    mega: list[int],
    counts_map: dict[int, int],
    need: dict[int, int],
    mega_bucket_min: int,
    sample_target: int = 4096,
    slack: float = 4.0,
) -> dict[int, dict]:
    """Per-mega-bucket tail cut + sub-split boundaries from ONE bounded
    deterministic sample job (the hash-predicate pattern).

    The sample (~sample_target pairs per bucket, rate as a plan-literal
    modulus) yields, per bucket: a **cut** pair at the ~slack·need/count
    quantile — only rows at or before it can reach the wave, so the bucket's
    tail (arbitrarily large) is filtered before any window — and **boundary**
    pairs that split the ≲ slack·need survivors into ≤ ceil(slack·need /
    mega_bucket_min) sub-buckets. Literal count is therefore bounded by the
    WAVE size (wave_cap ≤ 2^27 by the encode_seq pop_rank bound), never by the
    bucket size — a 10^10-row tie bucket costs the same plan as a 10^6-row
    one. Exactness never rests on the sample: offsets come from exact counts
    afterwards, and a too-deep cut is detected there and falls back."""
    rate_mod = {
        bk: max(1, counts_map[bk] // sample_target) for bk in mega
    }
    modmap = F.create_map(*[F.lit(v) for bk in mega for v in (bk, rate_mod[bk])])
    sample = (
        r.filter(F.col("_bk").isin(mega))
        .filter(F.pmod(F.xxhash64("url_hash"), modmap[F.col("_bk")]) == 0)
        .select("_bk", "_pk", "discovery_seq")
        .collect()
    )
    by_bk: dict[int, list[tuple[float, int]]] = {bk: [] for bk in mega}
    for row in sample:
        by_bk[int(row["_bk"])].append((float(row["_pk"]), int(row["discovery_seq"])))
    out: dict[int, dict] = {}
    for bk, pairs in by_bk.items():
        pairs.sort()
        if len(pairs) < 8:  # sample too thin to act on
            continue
        c = counts_map[bk]
        frac = slack * need[bk] / c
        if frac >= 1.0:
            # the whole bucket is within slack of the wave — no tail to cut
            # (a sampled cut would wrongly drop rows past the last sample)
            head, cut = pairs, None
            kept_est = c
        else:
            cut_idx = min(len(pairs) - 1, max(1, int(len(pairs) * frac)))
            head = pairs[: cut_idx + 1]
            cut = head[-1]
            kept_est = max(1, int(c * (cut_idx + 1) / len(pairs)))
        sub_n = max(2, -(-kept_est // mega_bucket_min))  # ceil
        if len(head) < sub_n:
            sub_n = max(2, len(head))
        step = len(head) / sub_n
        bounds = sorted({head[int(step * (i + 1)) - 1] for i in range(sub_n - 1)})
        if bounds:
            out[bk] = {"cut": cut, "bounds": bounds}
    return out


def merge_frontier(
    frontier: DataFrame,
    wave_keys: DataFrame,
    discoveries: DataFrame,
    round_no: int,
) -> DataFrame:
    """Per-round frontier merge: the whole new frontier, which the round's
    commit rewrites in full.

    ``discoveries``: (url_hash, url, host, occ, first_pop_rank,
    first_bib_index, first_depth) — already deduped against ``seen`` and
    aggregated per occurrence (crawler.py:149-157 / SURVEY.md X3):

    * popped keys leave the frontier (crawler.py:204)
    * an already-queued key gains +occ count, keeps its depth and its queue
      position (count of first discovery wins depth — crawler.py:156-157)
    * a new key enters with (occ, first_depth + 1) at queue position
      ``encode_seq(round, first_pop_rank, first_bib_index)``
    """
    rest = frontier.join(wave_keys.select("url_hash"), "url_hash", "left_anti")
    merged = rest.alias("f").join(discoveries.alias("d"), "url_hash", "full_outer")
    return merged.select(
        F.col("url_hash"),
        F.coalesce(F.col("f.url"), F.col("d.url")).alias("url"),
        F.coalesce(F.col("f.host"), F.col("d.host")).alias("host"),
        (F.coalesce(F.col("f.count"), F.lit(0)) + F.coalesce(F.col("d.occ"), F.lit(0))).alias("count"),
        F.coalesce(F.col("f.depth"), F.col("d.first_depth") + 1).cast("int").alias("depth"),
        F.coalesce(
            F.col("f.discovery_seq"),
            encode_seq(F.lit(round_no), F.col("d.first_pop_rank"), F.col("d.first_bib_index")),
        ).alias("discovery_seq"),
    )
