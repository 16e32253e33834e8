"""Seeded input generators. The same seed gives the same inputs; the engine
receives only what these functions produce.

Crawl corpora come from the engine's own synthetic web
(`sources.synth`), so the crawl workloads also exercise the `sources`
layer. The search collection and the query stream are generated here with
numpy.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]

def _word(i: int) -> str:
    n = len(_SYLLABLES)
    w = _SYLLABLES[i % n] + _SYLLABLES[(i // n) % n]
    return w + _SYLLABLES[i // (n * n)] if i >= n * n else w


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def search_docs(rng: np.random.Generator, first_id: int, n_docs: int,
                vocab: int, zipf_s: float, len_lo: int,
                len_hi: int) -> dict[str, list]:
    """(doc_id, url, text) columns; terms are Zipf-distributed over
    `vocab` pseudo-words."""
    words = np.array([_word(i) for i in range(vocab)])
    lens = rng.integers(len_lo, len_hi + 1, size=n_docs)
    toks = words[rng.choice(vocab, size=int(lens.sum()), p=zipf_probs(
        vocab, zipf_s))]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n:e]) for e, n in zip(ends, lens)]
    ids = list(range(first_id, first_id + n_docs))
    return {"doc_id": ids,
            "url": [f"https://docs.example.com/d/{i}" for i in ids],
            "text": texts}


def search_queries(rng: np.random.Generator, n: int, vocab: int,
                   zipf_s: float) -> list[str]:
    """Queries of 1, 2, 3, 4, 1, ... terms, terms drawn with the
    collection's Zipf weights."""
    p = zipf_probs(vocab, zipf_s)
    return [" ".join(_word(int(t)) for t in rng.choice(vocab, size=1 + i % 4,
                                                       p=p))
            for i in range(n)]


def write_parquet(cols: dict[str, list], path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), str(path))


def replay_pages(seed: int, n_pages: int, pad_paras: int) -> list[tuple]:
    """(url, html) sample of fat synthetic pages for the in-process kernel
    replay and the UDF-boundary replay."""
    from high_performance_parallel_search_engine_spark.sources.synth import (
        page_record,
    )

    rnd = random.Random(seed)
    n_hosts, per_host = 8, 4096
    out = []
    for _ in range(n_pages):
        h, p = rnd.randrange(n_hosts), rnd.randrange(per_host)
        r = page_record("host", h, p, n_hosts=n_hosts,
                        pages_per_host=per_host, n_medium=0, seed=seed,
                        with_oracle_text=False, link_mode="tree",
                        pad_paras=pad_paras)
        out.append((r["url"], r["html"]))
    return out
