"""Driver-local BM25 serving for indices that fit one node's memory.

The reference engine's interactive search IS a single-node in-memory
index walk (Serial Version/src/ranking.c:54-117: the whole inverted
index lives in the process; a query walks |terms| posting lists and
sums BM25 parts). The Spark warm path (ranking.rank_bm25 with a df_map)
compiles a query to 3 jobs (two broadcasts and the scoring job), each
with a scheduling floor far above the kernel cost of scoring a few
posting lists. This module is the size-gated answer: when the warm
index's postings row count is under a cap, collect (term, doc_id, tf) +
(doc_id, dl) ONCE via Arrow into numpy posting lists at index-build
time, and serve rank queries entirely in-process with rank_bm25's
semantics - the same query_terms pipeline and the same candidate
resolution (ranking.resolve_terms: duplicate query terms score once per
occurrence, primary beats the plural/singular retry), score > 0 filter,
and the (score desc, doc_id asc) deterministic tie-break. Parity is
pytest-enforced against the Spark path.

This is the serving-side analog of broadcasting a small join side: the
DISTRIBUTED path built the index (tokenize/groupBy over the corpus);
an index that fits one node is then served node-locally, exactly as
the reference does. At 100 TB the postings blow the cap,
build_local_index returns None, and every query stays on the
distributed rank_bm25 path - nothing corpus-sized ever crosses to the
driver unless it provably fits.
"""

from __future__ import annotations

import math

import numpy as np

from ..kernel.text import BM25_B, BM25_K1, DEFAULT_STOPWORDS
from .ranking import query_terms, resolve_terms

# Collect-to-driver gate: ~20M postings is ~0.6 GB of numpy arrays plus
# a vocabulary-sized dict - comfortable on any serving node; past it the
# distributed rank_bm25 path serves unbounded corpora (identical
# results). Mirrors index.term_df_map's vocab cap.
LOCAL_INDEX_MAX_POSTINGS = 20_000_000

# Companion gate for callers that also collect a doc_id->url map to
# resolve hits locally (api.EngineState): ~2M urls is ~200 MB of
# driver dict; past it results resolve through a broadcast join against
# the cached urls DataFrame on the distributed path.
LOCAL_URLMAP_MAX_DOCS = 2_000_000


class LocalIndex:
    """In-process posting lists: {term: (doc_idx, tf, df)} over a compact
    0..n_docs-1 doc index sorted by doc_id (so a stable sort on -score
    breaks ties by doc_id ascending for free - the same deterministic
    tie-break rank_bm25 and the DuckDB oracles use)."""

    def __init__(self, terms: dict, doc_ids: np.ndarray, dl: np.ndarray,
                 total_docs: int, avg_dl: float):
        self.terms = terms
        self.doc_ids = doc_ids      # compact idx -> doc_id, ascending
        self.dl = dl                # compact idx -> document length
        self.total_docs = total_docs
        self.avg_dl = avg_dl

    # ---- query path (pure numpy, no Spark) -----------------------------

    def rank(self, query: str, top_k: int = 10, fallback: bool = False,
             stopwords=DEFAULT_STOPWORDS) -> list[tuple[int, float]]:
        """Top-k (doc_id, score), ordered (score desc, doc_id asc) -
        rank_bm25's contract, served without a Spark job."""
        cands = resolve_terms(query_terms(query, stopwords), self.terms,
                              fallback)
        if not cands:
            return []
        acc = np.zeros(len(self.doc_ids))
        for _, _, (idx, tf, df) in cands:
            idf = math.log((self.total_docs - df + 0.5) / (df + 0.5) + 1.0)
            dl = self.dl[idx]
            part = idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avg_dl))
            # idx is duplicate-free within one posting list (postings are
            # unique (term, doc_id) by construction), so buffered fancy
            # indexing is safe - and far faster than np.add.at; repeats of
            # the same doc across query terms accumulate across iterations
            acc[idx] += part
        pos = np.flatnonzero(acc > 0)
        if pos.size == 0:
            return []
        order = np.argsort(-acc[pos], kind="stable")[:top_k]
        chosen = pos[order]
        return [(int(self.doc_ids[i]), float(acc[i])) for i in chosen]

    def nbytes(self) -> int:
        """Approximate resident bytes (capacity-planning/status surface)."""
        n = self.doc_ids.nbytes + self.dl.nbytes
        for idx, tf, _ in self.terms.values():
            n += idx.nbytes + tf.nbytes
        return n


def build_local_serving(postings, doc_stats, urls, n_urls: int,
                        total_docs: int | None = None,
                        avg_dl: float | None = None,
                        n_postings: int | None = None,
                        max_postings: int = LOCAL_INDEX_MAX_POSTINGS,
                        max_urls: int = LOCAL_URLMAP_MAX_DOCS):
    """(LocalIndex, {doc_id: url}) or (None, None) when either collect cap
    fails - the gate-then-build sequence of api.EngineState, which serves
    both the dashboard and the CLI prompt, so one set of caps governs
    both. `urls` is a (doc_id, url) DataFrame of n_urls rows; pass
    n_postings to skip a count job the caller already ran."""
    if n_urls > max_urls:
        return None, None
    ix = build_local_index(postings, doc_stats, total_docs=total_docs,
                           avg_dl=avg_dl, max_postings=max_postings,
                           n_postings=n_postings)
    if ix is None:
        return None, None
    return ix, {r["doc_id"]: r["url"] for r in urls.collect()}


def build_local_index(postings, doc_stats, total_docs: int | None = None,
                      avg_dl: float | None = None,
                      max_postings: int = LOCAL_INDEX_MAX_POSTINGS,
                      n_postings: int | None = None) -> LocalIndex | None:
    """ONE Arrow collect of the warm index into a LocalIndex, or None when
    it exceeds `max_postings` (the distributed path then serves). Callers
    that already counted the cached postings pass n_postings to skip the
    count job. postings rows are unique (term, doc_id) by construction
    (index.build_postings groups on both), so df == group size."""
    import pandas as pd

    n = postings.count() if n_postings is None else n_postings
    if n == 0 or n > max_postings:
        return None
    pdf = postings.toPandas()
    sdf = doc_stats.toPandas().sort_values("doc_id")
    doc_ids = sdf["doc_id"].to_numpy(np.int64)
    dl = sdf["dl"].to_numpy(np.float64)
    if total_docs is None:
        total_docs = len(sdf)
    if avg_dl is None:
        avg_dl = float(dl.sum()) / total_docs if total_docs else 0.0
    if total_docs == 0 or avg_dl == 0:
        return None
    # doc_id -> compact index (posting doc_ids are a subset of doc_stats'
    # by construction: stats derive from the same tokenization)
    docpos = pd.Series(np.arange(len(doc_ids)), index=doc_ids)
    idx_all = docpos.loc[pdf["doc_id"].to_numpy()].to_numpy(np.int64)
    tf_all = pdf["tf"].to_numpy(np.float64)
    # slice per-term posting lists without a python-level groupby loop
    codes, uniques = pd.factorize(pdf["term"], sort=False)
    order = np.argsort(codes, kind="stable")
    idx_sorted, tf_sorted = idx_all[order], tf_all[order]
    counts = np.bincount(codes, minlength=len(uniques))
    offsets = np.concatenate(([0], np.cumsum(counts)))
    terms = {}
    for j, t in enumerate(uniques):
        lo, hi = offsets[j], offsets[j + 1]
        terms[t] = (idx_sorted[lo:hi], tf_sorted[lo:hi], int(counts[j]))
    return LocalIndex(terms, doc_ids, dl, int(total_docs), float(avg_dl))
