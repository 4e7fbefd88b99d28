"""Single-process kernel timings on a workload's own generated inputs.

Each kernel runs in the benchmark's own process (no Spark task), repeated
until ``min_seconds`` have passed, and reports items per second. These are
the per-URL costs the crawl round pays inside its Python workers.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd


def _rate(fn, items: int, min_seconds: float) -> float:
    fn()  # warm caches and lazy imports outside the timed loop
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_seconds:
            return n * items / dt


def tei_extract(docs: list[bytes], min_seconds: float) -> dict[str, float]:
    """The per-document body of ``extract_pages``: ``parse_tei`` +
    ``citations_from_root`` + ``metadata_from_root`` +
    ``canonical_extraction_json``."""
    from arxiv_crawler_spark.extraction.tei import (
        canonical_extraction_json,
        citations_from_root,
        metadata_from_root,
        parse_tei,
    )

    failed = 0
    for d in docs:
        try:
            citations_from_root(parse_tei(d))
        except Exception:
            failed += 1

    def run() -> None:
        for d in docs:
            root = parse_tei(d)
            canonical_extraction_json(citations_from_root(root))
            metadata_from_root(root)

    return {"tei.docs_per_s_1proc": _rate(run, len(docs), min_seconds), "tei.failed_docs": failed}


def murmur64(keys: pd.Series, min_seconds: float) -> dict[str, float]:
    from arxiv_crawler_spark.functions.hashing import murmur3_x64_64_np

    return {
        "hashing.murmur64_keys_per_s": _rate(
            lambda: murmur3_x64_64_np(keys), len(keys), min_seconds
        )
    }


def bloom(
    seen_hashes: np.ndarray,
    unseen_hashes: np.ndarray,
    n_shards: int,
    bits_per_shard: int,
    min_seconds: float,
) -> dict[str, float]:
    """``ShardedBloom.contains`` throughput on keys known to be unseen, and
    the false-positive ratio those probes measure, for a filter holding
    ``seen_hashes`` at the engine's shard sizing."""
    from arxiv_crawler_spark.crawl.bloom import ShardedBloom

    b = ShardedBloom(n_shards, bits_per_shard)
    b.add(seen_hashes)
    hits = int(b.contains(unseen_hashes).sum())
    return {
        "bloom.probe_keys_per_s": _rate(
            lambda: b.contains(unseen_hashes), len(unseen_hashes), min_seconds
        ),
        "bloom.fp_ratio": hits / max(1, len(unseen_hashes)),
    }
