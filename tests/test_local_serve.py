"""Parity suite for the driver-local BM25 serving path.

operators/local_serve.py serves rank queries from in-process numpy
posting lists when the warm index fits under a collect cap; its contract
is EXACT agreement with the distributed rank_bm25 path on hits, order
(score desc, doc_id asc) and scores (same double-precision formula;
only the summation association differs). These tests pin that parity -
including the plural/singular fallback preference, duplicate query
terms, the score>0 filter - plus the cap gates and the EngineState
integration (local vs distributed serving produce identical API
responses).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from high_performance_parallel_search_engine_spark.operators import (  # noqa: E402
    index as IX,
)
from high_performance_parallel_search_engine_spark.operators import (  # noqa: E402
    local_serve as LS,
)
from high_performance_parallel_search_engine_spark.operators import (  # noqa: E402
    ranking as RK,
)


def _docs(spark):
    """Small corpus with shared vocabulary, plural/singular pairs and
    varied lengths (distinct scores -> order comparisons are strict)."""
    rows = []
    words = ["spark", "join", "window", "stream", "engine", "parallel",
             "search", "crawl", "index", "posting", "merge", "rank"]
    for i in range(40):
        toks = []
        for j, w in enumerate(words):
            reps = (i * (j + 3) + j) % 7
            toks += [w + ("s" if (i + j) % 5 == 0 else "")] * reps
        toks += ["filler%d" % (i % 9)] * (i % 11)
        rows.append((i, "https://host%d.example.com/p/%d" % (i % 4, i),
                     " ".join(toks) or "empty"))
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


QUERIES = [
    "spark join window stream",
    "parallel search engine",
    "posting merge rank",
    "spark spark join",        # duplicate query term scores twice
    "windows streams",         # only plural forms: fallback hits singular
    "nosuchterm spark",        # partial miss
    "nosuchterm anotherghost",  # full miss -> empty
]


@pytest.fixture(scope="module")
def warm(spark):
    docs = _docs(spark)
    postings = IX.build_postings(docs).cache()
    stats = IX.build_doc_stats(docs).cache()
    total = stats.count()
    avg_dl = (stats.groupBy().sum("dl").collect()[0][0] or 0) / total
    postings.count()
    local = LS.build_local_index(postings, stats, total_docs=total,
                                 avg_dl=avg_dl)
    assert local is not None
    yield {"postings": postings, "stats": stats, "total": total,
           "avg_dl": avg_dl, "local": local}
    postings.unpersist()
    stats.unpersist()


@pytest.mark.parametrize("fallback", [False, True])
def test_local_rank_matches_rank_bm25(warm, fallback):
    for q in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in RK.rank_bm25(
            warm["postings"], warm["stats"], q, total_docs=warm["total"],
            avg_dl=warm["avg_dl"], top_k=10, fallback=fallback).collect()]
        got = warm["local"].rank(q, top_k=10, fallback=fallback)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_local_rank_respects_top_k_and_positive_filter(warm):
    full = warm["local"].rank("spark join", top_k=10_000)
    assert all(s > 0 for _, s in full)
    assert warm["local"].rank("spark join", top_k=3) == full[:3]
    # deterministic tie-break contract: (score desc, doc_id asc)
    assert full == sorted(full, key=lambda t: (-t[1], t[0]))


def test_build_cap_returns_none(warm, spark):
    assert LS.build_local_index(warm["postings"], warm["stats"],
                                max_postings=1) is None
    empty = spark.createDataFrame([], "term string, doc_id long, tf long")
    empty_stats = spark.createDataFrame([], "doc_id long, dl long")
    assert LS.build_local_index(empty, empty_stats) is None


def test_nbytes_reports_resident_arrays(warm):
    n = warm["local"].nbytes()
    assert n > 0
    # posting arrays dominate: idx(int64)+tf(float64) per posting row
    n_postings = warm["postings"].count()
    assert n >= 16 * n_postings


def test_engine_state_local_and_distributed_parity(spark, tmp_path,
                                                   monkeypatch):
    """EngineState serves this corpus via the local path; with the collect
    cap forced to 0 it rebuilds on the distributed path - both API
    responses carry identical hits (doc_id, url, 4-dp score) for single
    and batched search, and status() reports which path is live."""
    from high_performance_parallel_search_engine_spark import api as API

    wd = str(tmp_path / "work")
    (_docs(spark)
     .selectExpr("doc_id as seq", "url", "text")
     .write.parquet(f"{wd}/round=0/pages.parquet"))

    st = API.EngineState(spark, wd)
    local_single = st.search("spark join window stream", limit=5)
    local_batch = st.search_batch(["parallel search engine",
                                   "windows streams"], limit=5)
    assert st.status()["serving_path"] == "local"
    # sub-Spark-job latency is the point of the path
    assert local_single["query_time_ms"] < 50

    monkeypatch.setattr(API, "_LOCAL_URLMAP_MAX_DOCS", 0)
    st.invalidate()
    dist_single = st.search("spark join window stream", limit=5)
    dist_batch = st.search_batch(["parallel search engine",
                                  "windows streams"], limit=5)
    assert st.status()["serving_path"] == "distributed"

    assert local_single["results"] == dist_single["results"]
    assert [r["results"] for r in local_batch["results"]] == \
        [r["results"] for r in dist_batch["results"]]
    st.invalidate()
