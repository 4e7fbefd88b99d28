"""10M-URL wave soak — the wave selector at its design point.

The 27/28-bit pop_rank layout and the hist-bounds prefilter are unit-tested
to 2.2M-URL waves (tests/test_politeness.py::test_wave_cap_beyond_2_21);
BENCH/BASELINE.md's scaling argument invokes the ≥10M-wave regime. This
soak drives exactly that: a ≥20M-URL multi-host frontier, ``select_wave``
at wave_cap ≥ 10M per round with the manifest-style priority histogram and
binding per-host budgets, frontier drain + rediscovery merge between
rounds — the engine's per-round selector dance without the fetch/extract
stages, so what is measured is the selector itself (driver histogram +
offsets maps, salted budget windows, mega-bucket sub-split).

Per round it asserts exactness (wave == cap, dense 1..cap pop_rank, no
per-host budget overrun) and prints one JSON line; a summary line reports
the per-round slope for BENCH/BASELINE.md. Usage:

    WSOAK_FRONTIER=24000000 WSOAK_WAVE=10000000 WSOAK_ROUNDS=6 \
        python scripts/wave_soak.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arxiv_crawler_spark.crawl.frontier import (  # noqa: E402
    encode_seq,
    hist_cell_cols,
    select_wave,
)
from arxiv_crawler_spark.session import get_spark  # noqa: E402

N_HOSTS = 64


def synth_frontier(spark, n: int, seq0: int = 0, skew: bool = True):
    """n-row frontier with host skew (zipf-ish: host = id % 64 biased so
    host 0 holds ~20% of rows — the mega-bucket shape) and a long-tailed
    count distribution (the histogram's exact+log2 bins both populated).
    ``skew=False`` → uniform hosts (round replenishment: drain is ~budget
    per host, i.e. uniform, so uniform refill keeps the soak steady-state
    instead of silently starving the small hosts)."""
    host_no = (
        F.when(F.col("id") % 5 == 0, F.lit(0)).otherwise(F.col("id") % N_HOSTS)
        if skew
        else F.col("id") % N_HOSTS
    )
    return spark.range(n).select(
        F.xxhash64(F.col("id") + F.lit(seq0)).alias("url_hash"),
        F.concat(F.lit("https://m"), host_no, F.lit(".x/"), F.col("id") + F.lit(seq0)).alias("url"),
        F.concat(F.lit("m"), host_no, F.lit(".x")).alias("host"),
        ((F.col("id") % 7) * (F.col("id") % 113) % 1500).cast("long").alias("count"),
        (F.col("id") % 6).cast("int").alias("depth"),
        (F.lit(seq0) + F.col("id")).alias("discovery_seq"),
    )


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    n_frontier = int(os.environ.get("WSOAK_FRONTIER", "24000000"))
    wave_cap = int(os.environ.get("WSOAK_WAVE", "10000000"))
    n_rounds = int(os.environ.get("WSOAK_ROUNDS", "6"))
    warmup = int(os.environ.get("WSOAK_WARMUP", "1"))

    spark = get_spark(app_name="arxiv-crawler-spark-wave-soak")
    spark.sparkContext.setLogLevel("ERROR")

    # binding budgets: Σ budgets = wave over 64 hosts, so the hot host
    # (≈20% of the frontier) is budget-capped every round and the salted
    # two-level window + mega-bucket sub-split are both on the hot path
    per_host = wave_cap // N_HOSTS
    budgets = spark.createDataFrame(
        [(f"m{k}.x", per_host) for k in range(N_HOSTS)], "host string, budget long"
    )

    frontier = synth_frontier(spark, n_frontier).persist()
    frontier.count()  # materialize before the timed rounds
    seq_next = n_frontier

    rows = []
    for r in range(n_rounds):
        t0 = time.monotonic()
        # manifest-style histogram: the same one agg the engine commits
        hist_rows = (
            frontier.groupBy(*hist_cell_cols()).agg(F.count(F.lit(1)).alias("c")).collect()
        )
        hist = {(int(x["_hd"]), int(x["_hc"])): int(x["c"]) for x in hist_rows}
        t_hist = time.monotonic() - t0

        wave = select_wave(
            frontier,
            "citations",
            wave_cap=wave_cap,
            host_budgets=budgets,
            default_budget=1,
            salt_factor=8,
            priority_hist=hist,
        ).persist()
        agg = wave.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("pop_rank").alias("dr"),
            F.min("pop_rank").alias("mn"),
            F.max("pop_rank").alias("mx"),
            F.max(encode_seq(1, F.col("pop_rank"), 0)).alias("max_seq"),
        ).collect()[0]
        t_select = time.monotonic() - t0 - t_hist
        # exact expected wave: Σ_h min(avail_h, budget_h), capped by wave_cap
        exp = min(
            wave_cap,
            int(
                frontier.groupBy("host").agg(F.count(F.lit(1)).alias("c"))
                .agg(F.sum(F.least(F.col("c"), F.lit(per_host))).alias("s"))
                .collect()[0]["s"]
            ),
        )
        assert agg["n"] == exp, (agg, exp)
        assert agg["dr"] == agg["n"] and agg["mn"] == 1 and agg["mx"] == agg["n"], agg
        over = (
            wave.groupBy("host").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > per_host).count()
        )
        assert over == 0, f"budget overrun on {over} hosts"

        # next round's frontier: drain the wave, merge rediscoveries (count
        # bumps on survivors) + fresh URLs (~5% of wave) — the COW touch
        # pattern without the store
        survivors = frontier.join(wave.select("url_hash"), "url_hash", "left_anti")
        # refill what the wave drained, uniformly over hosts (the drain is
        # ≈budget per host) — true steady state, no silent host starvation
        fresh = synth_frontier(spark, int(agg["n"]), seq0=seq_next, skew=False)
        seq_next += int(agg["n"])
        nxt = (
            survivors.withColumn(
                "count",
                F.when(F.col("url_hash") % 3 == 0, F.col("count") + 2).otherwise(F.col("count")),
            )
            .unionByName(fresh)
            # localCheckpoint (eager) truncates the per-round plan lineage —
            # the same reason the engine checkpoints its iterative frontier
            .localCheckpoint(eager=True)
        )
        n_live = nxt.count()
        frontier.unpersist()
        wave.unpersist()
        frontier = nxt
        dt = time.monotonic() - t0
        row = {
            "round": r,
            "seconds": round(dt, 2),
            "hist_seconds": round(t_hist, 2),
            "select_seconds": round(t_select, 2),
            "wave": int(agg["n"]),
            "urls_per_sec": round(agg["n"] / dt, 1),
            "frontier_size_next": n_live,
            "hist_cells": len(hist),
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    timed = rows[warmup:]
    secs = [x["seconds"] for x in timed]
    n = len(secs)
    mx, my = (n - 1) / 2, sum(secs) / n
    slope = sum((i - mx) * (y - my) for i, y in enumerate(secs)) / max(
        1e-9, sum((i - mx) ** 2 for i in range(n))
    )
    print(
        json.dumps(
            {
                "wave_soak": {
                    "frontier": n_frontier,
                    "wave_cap": wave_cap,
                    "rounds": len(rows),
                    "warmup_excluded": warmup,
                    "sec_per_round_mean": round(my, 2),
                    "sec_per_round_slope_pct_of_mean": round(100 * slope / my, 2),
                    "urls_per_sec_steady": round(sum(x["wave"] for x in timed) / sum(secs), 1),
                    "hist_cells_max": max(x["hist_cells"] for x in rows),
                    "master": spark.sparkContext.master,
                }
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
