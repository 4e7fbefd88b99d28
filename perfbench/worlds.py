"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` and the size arguments, so
two runs with the same seed feed the program identical inputs:

* :func:`tei_pages` — a crawl world of Grobid-shaped TEI pages built from
  JVM column expressions (no Python row loop). Doc ``i`` cites exactly the
  eight closed-form ids :func:`cited_index` gives, via explicit arXiv
  ``idno`` entries; every other bibliography entry carries no arXiv id.
* :func:`skewed_resolver` — the ``link_resolver`` of the multi-host world:
  one hot host holds about a quarter of all ids, the rest spread over
  ``n_hosts - 1`` hosts, and a fixed share of ids live under a path that
  robots.txt disallows.
* :func:`robots_bodies` — raw robots.txt text per host (crawl-delays that
  bind, disallow prefixes, a foreign-agent group the parser must skip).
* :func:`analytics_tables` — a TPC-H-shaped star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables the analytics plans
  read, written as parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_CITED = 8  # closed-form arXiv citations per document
TOPICS = [
    "scheduling", "extraction", "dedupe", "frontier", "politeness", "bloom",
    "wavefront", "snapshot", "citation", "ranking", "sharding", "retrieval",
    "streaming", "sketching", "indexing", "batching",
]
PRIVATE_SECTION = "private"  # path section every robots.txt disallows


_P = 1_000_003  # prime above any world size, so i -> i*mult + c (mod _P) is a bijection


@dataclass(frozen=True)
class Citing:
    """Closed-form citation rule: doc ``i`` cites
    ``((i * mult + k * step + offset) mod P) mod n`` for ``k = 1..N_CITED``
    — a seeded pseudo-random graph (so a breadth-first frontier keeps
    growing) in plain integer arithmetic that Spark, DuckDB and Python all
    evaluate identically."""

    n: int
    mult: int
    step: int
    offset: int

    @classmethod
    def from_seed(cls, n: int, seed: int) -> "Citing":
        if n > _P:
            raise ValueError(f"world of {n} docs exceeds {_P}")
        rng = np.random.default_rng([seed, 1])
        return cls(n, int(rng.integers(1, _P)), int(rng.integers(1, _P)), int(rng.integers(0, _P)))

    def sql(self, i: str, k: int) -> str:
        """The rule as a SQL expression over integer column ``i``."""
        return f"((({i}) * {self.mult} + {k * self.step + self.offset}) % {_P}) % {self.n}"


def aid_col(i: Column) -> Column:
    """arXiv id of doc ``i`` (same numbering as the program's
    ``fixtures.arxiv_id_of``)."""
    return F.format_string(
        "%04d.%05d", F.lit(2100) + (i / 10000).cast("int"), F.lit(10000) + i % 10000
    )


def cited_index(c: Citing, i: Column, k: int) -> Column:
    return ((i.cast("long") * F.lit(c.mult) + F.lit(k * c.step + c.offset)) % F.lit(_P)) % F.lit(c.n)


def tei_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int,
    *,
    n_bib: int,
    n_refs: int,
    resolver=None,
) -> tuple[DataFrame, Citing]:
    """``(url, html)`` pages of the crawl world and its citation rule.

    Sizes follow Grobid output for a normal paper at ``n_bib=36,
    n_refs=24`` (~25 KB of TEI). The header carries a seed-chosen topic
    word in the title and abstract so keyword search has something to
    match. ``resolver`` maps an arXiv-id column to the page URL (default:
    arxiv.org, the program's single-host world)."""
    from arxiv_crawler_spark.functions.urls import arxiv_id_to_url

    cite = Citing.from_seed(n_docs, seed)
    resolver = resolver or arxiv_id_to_url
    i = F.col("i")
    topic = F.element_at(
        F.array(*[F.lit(t) for t in TOPICS]),
        (F.pmod(F.xxhash64(i, F.lit(seed)), F.lit(len(TOPICS))) + 1).cast("int"),
    )
    authors = "".join(
        f"<author><persName><forename>Fo{j}</forename><surname>Sur{j}</surname>"
        "</persName></author>"
        for j in range(3)
    )
    header = F.concat(
        F.lit("<teiHeader><fileDesc><titleStmt><title>Crawling notes on "),
        topic,
        F.lit(" number "),
        i.cast("string"),
        F.lit("</title></titleStmt><publicationStmt><date type=\"published\" when=\"2021-03-04\" />"
              f"</publicationStmt><sourceDesc><biblStruct><analytic>{authors}</analytic>"
              "</biblStruct></sourceDesc></fileDesc><profileDesc><textClass><keywords>"
              "<term>cs.DC</term></keywords></textClass><abstract><div><p>We study "),
        topic,
        F.lit(" for web-scale crawls.</p></div></abstract></profileDesc></teiHeader>"),
    )
    bibs = []
    for k in range(n_bib):
        head = (
            f'<biblStruct xml:id="b{k}"><analytic><title level="a">A moderately long paper '
            f"title number {k} on web-scale crawl scheduling and extraction</title>{authors}"
        )
        if 1 <= k <= N_CITED:
            bibs.append(F.concat(
                F.lit(head + '<idno type="arXiv">arXiv:'),
                aid_col(cited_index(cite, i, k)),
                F.lit(f"</idno></analytic><monogr><title>Conf {k}</title><imprint>"
                      f'<date type="published" when="20{k:02d}" /></imprint></monogr>'
                      "</biblStruct>"),
            ))
        else:
            bibs.append(F.lit(
                head + f"</analytic><monogr><title>Journal of Venue {k}</title><imprint>"
                f'<date type="published" when="19{k % 100:02d}" /></imprint></monogr>'
                "</biblStruct>"
            ))
    body = "".join(
        "<p><s>A sentence with plenty of words describing the context of reference "
        f'number {k} in appropriate detail <ref type="bibr" target="#b{k % n_bib}">[{k}]'
        "</ref>.</s><s>A follow-up sentence padding the paragraph with prose.</s></p>"
        for k in range(n_refs)
    )
    html = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?><TEI xmlns="http://www.tei-c.org/ns/1.0">'),
        header,
        F.lit(f"<text><body>{body}</body><back><div><listBibl>"),
        *bibs,
        F.lit("</listBibl></div></back></text></TEI>"),
    )
    pages = spark.range(n_docs).select(F.col("id").alias("i")).select(
        resolver(aid_col(i)).alias("url"), html.cast("binary").alias("html")
    )
    return pages, cite


def skewed_resolver(seed: int, n_hosts: int, hot_share: float = 0.25, private_every: int = 16):
    """Column link-resolver for the skewed multi-host world.

    ``id → https://{host}/{section}/{id}``: a seeded hash of the id puts
    ``hot_share`` of ids on ``hot.example.org`` and the rest uniformly on
    ``h01 .. h{n_hosts-1}.example.org``; one id in ``private_every`` lives
    under ``/private/`` (disallowed by every robots.txt), the rest under
    ``/abs/``. Pure JVM expressions, injective in the id."""
    from arxiv_crawler_spark.functions.urls import normalize_arxiv_id_col

    def resolve(c: Column) -> Column:
        aid = normalize_arxiv_id_col(c)
        h = F.pmod(F.xxhash64(aid, F.lit(seed)), F.lit(1 << 20))
        hot = h < F.lit(int(hot_share * (1 << 20)))
        host = F.when(hot, F.lit("hot.example.org")).otherwise(
            F.format_string("h%02d.example.org", F.pmod(h, F.lit(n_hosts - 1)) + 1)
        )
        section = F.when(
            F.pmod(F.xxhash64(aid, F.lit(seed + 1)), F.lit(private_every)) == 0,
            F.lit(PRIVATE_SECTION),
        ).otherwise(F.lit("abs"))
        return F.concat(F.lit("https://"), host, F.lit("/"), section, F.lit("/"), aid)

    return resolve


def host_names(n_hosts: int) -> list[str]:
    return ["hot.example.org"] + [f"h{k:02d}.example.org" for k in range(1, n_hosts)]


def robots_bodies(seed: int, n_hosts: int, hot_delay: float, delays: tuple[float, ...]) -> pd.DataFrame:
    """``(host, robots_txt, crawl_delay, disallow)`` for every host of the
    skewed world: the raw body plus the values it was written from.

    Each body has a ``*`` group with a crawl-delay (``hot_delay`` for the
    hot host; ``delays`` cycled over the others in a seeded order, so the
    sum of budgets is the same for every seed) and two disallow prefixes,
    one of which (``/private/``) matches links in the world; plus a
    stricter group for a foreign agent, which the parser must ignore, and
    comment noise."""
    others = [delays[k % len(delays)] for k in range(n_hosts - 1)]
    np.random.default_rng([seed, 2]).shuffle(others)
    rows = []
    for k, host in enumerate(host_names(n_hosts)):
        delay = hot_delay if k == 0 else float(others[k - 1])
        disallow = [f"/{PRIVATE_SECTION}/", f"/tmp{k}/"]
        body = (
            f"# robots.txt for {host}\n"
            "User-agent: archiver-bot\n"
            "Disallow: /\n"
            "\n"
            "User-agent: *\n"
            f"Crawl-delay: {delay:g}\n"
            f"Disallow: {disallow[0]}\n"
            f"Disallow: {disallow[1]}  # never linked\n"
        )
        rows.append((host, body, delay, disallow))
    return pd.DataFrame(rows, columns=["host", "robots_txt", "crawl_delay", "disallow"])


# ---------------------------------------------------------------------------
# analytics tables
# ---------------------------------------------------------------------------

_WORDS = (
    "the a data spark join hash row batch scan column customer filter small slow merge "
    "order vector line table agg value key stream window part group big sort query fast"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
ANALYTICS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the analytics tables for scale factor ``sf`` as
    ``{out_dir}/{table}.parquet``; returns row counts. Schemas and value
    domains follow the program's test tables (TPC-H-ish star + events,
    documents, embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)

    def ts(days):
        return (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]")

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": ts(rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": ts(rng.integers(1, 2500, n_line)),
    })
    gaps = rng.exponential(259.0, n_ev)
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(49.6, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    docs = [list(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    texts = []
    for words in docs:
        if rng.random() < 0.05:  # a 12-token span copied from another doc
            words = words + docs[int(rng.integers(0, n_doc))][:12] + ["dup"]
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15 / 8.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0 / 8.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(pdf) for name, pdf in tables.items()}
