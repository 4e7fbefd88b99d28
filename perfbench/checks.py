"""Correctness checks, run outside the timed sections.

Each check returns a list of failure messages (empty = pass). The crawl
checks read the newest snapshot's parquet files (as its manifest lists
them) with DuckDB rather than through the engine's Spark readers, so a
store or view bug cannot hide behind the same reader.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from perfbench import worlds
from scripts.check_oracle import canon_dtype, value_hash


class Snapshot:
    """DuckDB views over the parquet files of a store's newest snapshot."""

    def __init__(self, eng) -> None:
        self.manifest = m = eng.store.manifest()
        self.path = eng.store.path
        self.con = duckdb.connect()
        logs = {
            "seen": m["seen_deltas"],
            "fetched": m["fetched_deltas"],
            "edges": m["edges_deltas"],
            "frontier": sorted(set(m["frontier_buckets"].values())),
        }
        for name, dirs in logs.items():
            files = [os.path.join(self.path, d, "**", "*.parquet") for d in dirs]
            self.con.sql(
                f"create view {name} as select * from read_parquet({files!r}, union_by_name=true)"
            )

    def one(self, sql: str):
        return self.con.sql(sql).fetchone()[0]

    def seen_hashes(self) -> np.ndarray:
        return self.con.sql("select url_hash from seen").fetchnumpy()["url_hash"].astype(np.int64)

    def close(self) -> None:
        self.con.close()


def store_invariants(snap: Snapshot, popped: int) -> list[str]:
    """seen ``url_hash`` unique; fetched ⊆ seen; frontier ∩ seen = ∅;
    manifest pops = Σ waves = fetched rows."""
    out = []
    dup = snap.one("select count(*) from (select url_hash from seen group by 1 having count(*) > 1)")
    if dup:
        out.append(f"seen: {dup} url_hash values appear more than once")
    n = snap.one("select count(*) from fetched anti join seen using (url_hash)")
    if n:
        out.append(f"fetched ⊄ seen: {n} fetched rows missing from seen")
    n = snap.one("select count(*) from frontier semi join seen using (url_hash)")
    if n:
        out.append(f"frontier ∩ seen: {n} rows")
    n_fetched = snap.one("select count(*) from fetched")
    if not (snap.manifest["total_pops"] == popped == n_fetched):
        out.append(
            f"pops: manifest {snap.manifest['total_pops']}, Σ waves {popped}, fetched rows {n_fetched}"
        )
    return out


def closed_form_citations(snap: Snapshot, cite: worlds.Citing) -> list[str]:
    """Every processed doc's edges carry exactly its N_CITED closed-form
    cited ids (as a multiset)."""
    cited = ", ".join(cite.sql("i", k) for k in range(1, worlds.N_CITED + 1))
    bad, n_proc = snap.con.sql(f"""
        with p as (select url, regexp_extract(url, '[^/]+$') as aid
                   from fetched where status = 'processed'),
             pi as (select url, (cast(split_part(aid, '.', 1) as bigint) - 2100) * 10000
                              + cast(split_part(aid, '.', 2) as bigint) - 10000 as i from p),
             want as (select url, list_sort(list_transform([{cited}],
                          c -> printf('%04d.%05d', 2100 + c // 10000, 10000 + c % 10000))) as w
                      from pi),
             got as (select citing_url as url, list_sort(list(cited_arxiv_id)) as g
                     from edges where cited_arxiv_id is not null group by 1)
        select count(*) filter (where g is null or g <> w), count(*)
        from want left join got using (url)""").fetchone()
    out = []
    if bad:
        out.append(f"citations: {bad} of {n_proc} processed docs differ from their closed form")
    if n_proc == 0:
        out.append("citations: no processed docs")
    return out


def bloom_filter_no_false_negatives(seen: np.ndarray, n_shards: int, bits_per_shard: int) -> list[str]:
    """A ``ShardedBloom`` at the engine's shard sizing, filled with the
    snapshot's seen ``url_hash`` values, tests positive on every one."""
    from arxiv_crawler_spark.crawl.bloom import ShardedBloom

    b = ShardedBloom(n_shards, bits_per_shard)
    b.add(seen)
    missing = int((~b.contains(seen)).sum())
    return [f"bloom filter: {missing} false negatives over {len(seen)} seen keys"] if missing else []


def bloom_shards_no_false_negatives(snap: Snapshot, n_shards: int, bits_per_shard: int) -> list[str]:
    """Every seen ``url_hash`` tests positive in the committed Bloom shard
    files (the engine writes them once the pre-filter is live)."""
    from arxiv_crawler_spark.crawl.bloom import ShardedBloom

    shards = snap.manifest["bloom_shards"]
    h = snap.seen_hashes()
    shard_of = ((h % n_shards) + n_shards) % n_shards
    missing = 0
    for s in np.unique(shard_of):
        rel = shards.get(str(int(s)))
        if rel is None:
            missing += int((shard_of == s).sum())
            continue
        b = ShardedBloom(1, bits_per_shard)
        b.bits = np.load(os.path.join(snap.path, rel))["bits"]
        missing += int((~b.contains(h[shard_of == s])).sum())
    return [f"bloom shards: {missing} false negatives over {len(h)} seen keys"] if missing else []


def view_row_counts(snap: Snapshot, got: dict[str, int], query: str, limit: int) -> list[str]:
    """Each corpus view's row count (as the client received it from the
    newest snapshot) equals a DuckDB count over that snapshot's files."""
    q = query.lower()
    want = {
        "queued_status": "select count(*) from frontier",
        "dataset_status": "select count(*) from fetched where status = 'processed'",
        "search_papers": f"""select least({limit}, count(*)) from fetched
            where status = 'processed' and (
              contains(lower(coalesce(title, '')), '{q}')
              or contains(lower(coalesce(abstract, '')), '{q}')
              or len(list_filter(coalesce(authors, []), a -> contains(lower(a), '{q}'))) > 0)""",
        # a cited paper matches its processed page by id (the resolver is
        # injective in the id, and every page URL ends in it)
        "cited_by_contexts": """
            with proc as (select distinct regexp_extract(url, '[^/]+$') as aid
                          from fetched where status = 'processed'),
                 firsts as (select e.cited_arxiv_id, e.citing_url,
                                   arg_min(e.reference_contexts, e.bib_index) as ctxs
                            from edges e join proc on e.cited_arxiv_id = proc.aid
                            group by e.cited_arxiv_id, e.citing_url)
            select coalesce(sum(greatest(1, coalesce(len(ctxs), 0))), 0) from firsts""",
    }
    out = []
    for k, sql in want.items():
        n = int(snap.one(sql))
        if got.get(k) != n:
            out.append(f"view {k}: {got.get(k)} rows, DuckDB counts {n}")
    return out


def politeness(
    snap: Snapshot, budgets: dict[str, int], robots: pd.DataFrame, parsed: DataFrame,
    timed_rounds: list,
) -> list[str]:
    """Fetched per (round, host) ≤ budget; no fetched URL under a disallow
    prefix the generator wrote; every timed wave saturated at Σ budgets;
    ``parse_robots`` returned each body's crawl-delay and prefixes."""
    out = []
    fetched = snap.con.sql("select round, host, url from fetched").df()
    per = fetched.groupby(["round", "host"]).size()
    over = [(r, h, n) for (r, h), n in per.items() if n > budgets[h]]
    if over:
        out.append(f"politeness: {len(over)} (round, host) cells over budget, e.g. {over[0]}")
    prefixes = dict(zip(robots["host"], robots["disallow"]))
    path = fetched["url"].str.replace(r"^https://[^/]*", "", regex=True)
    denied = sum(
        any(p.startswith(d) for d in prefixes[h]) for h, p in zip(fetched["host"], path)
    )
    if denied:
        out.append(f"politeness: {denied} fetched URLs under a disallow prefix")
    cap = sum(budgets.values())
    unsat = [r.waved for r in timed_rounds if r.waved != cap]
    if unsat:
        out.append(f"politeness: timed waves {unsat} not saturated at Σ budgets {cap}")
    got = parsed.toPandas().set_index("host")
    for h, delay, dis in zip(robots["host"], robots["crawl_delay"], robots["disallow"]):
        if got.loc[h, "crawl_delay"] != delay or list(got.loc[h, "disallow"]) != dis:
            out.append(f"parse_robots: {h} parsed as {got.loc[h].to_dict()}")
    return out


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


class Oracle:
    """DuckDB over the generated analytics tables."""

    def __init__(self, data_dir: str, tables) -> None:
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"create view {t} as select * from '{data_dir}/{t}.parquet'")

    def check(self, name: str, sql: str, got: pd.DataFrame) -> list[str]:
        """The repo's oracle gate (``scripts/check_oracle.py``): row count,
        schema (column names and canonical dtypes), order-insensitive value
        hash."""
        want = self.con.sql(sql).df()
        if len(got) != len(want):
            return [f"query {name}: {len(got)} rows, oracle {len(want)}"]
        if len(got) == 0:
            return [f"query {name}: empty result"]
        gs = {c: canon_dtype(got[c]) for c in sorted(got.columns)}
        ws = {c: canon_dtype(want[c]) for c in sorted(want.columns)}
        if gs != ws:
            return [f"query {name}: schema {gs}, oracle {ws}"]
        if value_hash(got) != value_hash(want):
            return [f"query {name}: value hash differs from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()
