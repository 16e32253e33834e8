"""Term-bucketed postings store + candidate-term scan pushdown.

Scale invariants under test (the 100 TB index-read story):
- a BM25 query against the bucketed store reads ONLY the buckets its
  candidate terms hash to (SelectedBucketsCount < total),
- the same query on plain parquet pushes `In(term, ...)` into the scan,
- term-keyed aggregation over the store runs without an Exchange,
- results are bit-identical to the unbucketed path,
- the store directory is self-describing: a fresh catalog re-attaches it
  with register_postings_store and prunes identically,
- a published store (publish_store) serves BM25 through open_store from a
  fresh catalog with its own doc_stats, and a republish into the same
  directory replaces every part of the previous one, sidecars included.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from high_performance_parallel_search_engine_spark.operators.index import (
    build_index_tables, term_df)
from high_performance_parallel_search_engine_spark.operators.index_store import (
    MANIFEST_NAME, open_store, publish_store, register_postings_store,
    save_postings_bucketed, selected_buckets)
from high_performance_parallel_search_engine_spark.operators.ranking import (
    TERM_PUSHDOWN_MAX, _pushdown_candidate_terms, rank_bm25)
from high_performance_parallel_search_engine_spark.plans.lineage import explain_text

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
         "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
         "victor", "whiskey", "xray", "yankee", "zulu"]


def _text(i: int) -> str:
    ws = [WORDS[(i + k * k) % len(WORDS)] for k in range(12)]
    ws.append("cats" if i % 3 == 0 else "dog")
    return " ".join(ws)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(40)], "doc_id long, text string")
    postings, stats = build_index_tables(docs)
    postings = postings.cache()
    stats = stats.cache()
    postings.count()
    return postings, stats


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    postings, _ = corpus
    path = str(tmp_path_factory.mktemp("pstore") / "postings_bucketed")
    tbl = save_postings_bucketed(postings, path, table="t_postings_store",
                                 buckets=16)
    return tbl, path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_store_round_trip(corpus, store):
    postings, _ = corpus
    tbl, _ = store
    assert _rows(tbl) == _rows(postings)


def test_filter_query_prunes_buckets(store):
    tbl, _ = store
    q = tbl.where(F.col("term").isin(["alpha", "tango"]))
    sel = selected_buckets(q)
    assert sel is not None
    k, total = sel
    assert total == 16
    assert 1 <= k <= 2  # two terms hash to at most two buckets
    # and the pruned read still returns every matching posting
    assert q.count() == tbl.where(F.col("term").isin(["alpha", "tango"])) \
                           .count()


def test_rank_bm25_on_store_matches_plain_and_prunes(corpus, store):
    postings, stats = corpus
    tbl, _ = store
    plain = rank_bm25(postings, stats, "alpha tango dog", top_k=10)
    bucketed = rank_bm25(tbl, stats, "alpha tango dog", top_k=10)
    assert _rows(plain) == _rows(bucketed)
    sel = selected_buckets(bucketed)
    assert sel is not None and sel[0] < sel[1]


def test_rank_bm25_fallback_retry_form_is_pushed(corpus, store):
    """'cat' is not indexed; the OpenMP retry form 'cats' is. The pushdown
    must include the retry candidates or the fallback would be filtered
    away at the scan."""
    postings, stats = corpus
    tbl, _ = store
    plain = rank_bm25(postings, stats, "cat", top_k=10, fallback=True)
    bucketed = rank_bm25(tbl, stats, "cat", top_k=10, fallback=True)
    got = _rows(bucketed)
    assert got == _rows(plain)
    assert len(got) == 10  # every third doc contains 'cats'
    sel = selected_buckets(bucketed)
    assert sel is not None and sel[0] < sel[1]


def test_term_df_on_store_is_exchange_free(store):
    tbl, _ = store
    agg = term_df(tbl)
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_reregister_after_catalog_wipe(spark, corpus, store):
    postings, _ = corpus
    _, path = store
    spark.sql("DROP TABLE t_postings_store")
    tbl2 = register_postings_store(spark, path)
    assert _rows(tbl2) == _rows(postings)
    sel = selected_buckets(tbl2.where(F.col("term") == "alpha"))
    assert sel is not None and sel[0] == 1 and sel[1] == 16
    # idempotent: a second register returns the same table
    assert _rows(register_postings_store(spark, path)) == _rows(postings)


def test_candidate_terms_reach_parquet_pushed_filters(spark, corpus,
                                                      tmp_path):
    postings, stats = corpus
    p = str(tmp_path / "plain_postings")
    postings.write.parquet(p)
    plain = spark.read.parquet(p)
    ranked = rank_bm25(plain, stats, "alpha tango", top_k=10)
    txt = explain_text(ranked, "formatted")
    assert "In(term" in txt  # candidate-term filter reached the scan
    assert _rows(ranked) == _rows(rank_bm25(postings, stats, "alpha tango",
                                            top_k=10))


def test_pushdown_cap_skips_huge_term_lists(corpus):
    postings, _ = corpus
    many = [f"t{i}" for i in range(TERM_PUSHDOWN_MAX + 1)]
    assert _pushdown_candidate_terms(postings, many) is postings
    assert _pushdown_candidate_terms(postings, []) is postings


def test_reregister_rebinds_when_location_changed(spark, corpus, tmp_path):
    """A fixed serving table name pointed at a NEW store directory must
    re-bind, not silently keep answering from the old files."""
    postings, _ = corpus
    a = str(tmp_path / "store_a")
    b = str(tmp_path / "store_b")
    save_postings_bucketed(postings, a, table="t_rebind", buckets=8)
    save_postings_bucketed(postings.where(F.col("term") != "alpha"), b,
                           table="t_rebind_b", buckets=8)
    assert register_postings_store(spark, a, table="t_rebind_x") \
        .where(F.col("term") == "alpha").count() > 0
    # same name, different directory: must serve b's (alpha-free) postings
    tbl = register_postings_store(spark, b, table="t_rebind_x")
    assert tbl.where(F.col("term") == "alpha").count() == 0
    sel = selected_buckets(tbl.where(F.col("term") == "bravo"))
    assert sel is not None and sel[1] == 8  # bucket spec is b's, too


def test_published_store_serves_bm25_from_fresh_catalog(spark, corpus,
                                                        tmp_path):
    """publish_store -> catalog wipe -> open_store: the store's derived
    doc_stats equal build_index_tables' and BM25 over (store, stats) is
    bit-identical to the in-memory index, reading only candidate-term
    buckets. The sidecar holds the layout and nothing else."""
    postings, stats = corpus
    path = str(tmp_path / "pub")
    publish_store(postings, path, table="t_pub_fresh", buckets=16)
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        assert set(json.load(f)) == {"table", "buckets", "bucket_col",
                                     "sort_col", "schema_ddl"}

    spark.sql("DROP TABLE t_pub_fresh")
    tbl, pub_stats, doc_map = open_store(spark, path)
    assert doc_map is None
    assert _rows(pub_stats) == _rows(stats)
    got = rank_bm25(tbl, pub_stats, "alpha echo lima", top_k=10)
    assert _rows(got) == _rows(rank_bm25(postings, stats, "alpha echo lima",
                                         top_k=10))
    sel = selected_buckets(got)
    assert sel is not None and sel[0] < sel[1] == 16


def test_open_store_returns_the_published_doc_map(spark, corpus, tmp_path):
    postings, _ = corpus
    path = str(tmp_path / "pub_map")
    urls = spark.createDataFrame(
        [(i, f"https://h{i % 4}.example.com/p/{i}", "en") for i in range(40)],
        "doc_id long, url string, lang string")
    publish_store(postings, path, table="t_pub_map", buckets=8,
                  doc_map=urls)
    _, _, doc_map = open_store(spark, path, table="t_pub_map_read")
    assert doc_map.columns == ["doc_id", "url"]
    assert _rows(doc_map) == _rows(urls.select("doc_id", "url"))


def test_republish_replaces_postings_stats_and_doc_map(spark, corpus,
                                                       tmp_path):
    """Publishing a new index into an existing store directory leaves
    nothing of the old one: postings and doc_stats are the new index's,
    and a doc_map the new publish does not write is gone rather than
    served stale."""
    postings, _ = corpus
    path = str(tmp_path / "pub_again")
    publish_store(postings, path, table="t_pub_again", buckets=8,
                  doc_map=spark.createDataFrame(
                      [(0, "https://old.example.com/")],
                      "doc_id long, url string"))
    docs = spark.createDataFrame([(7, "november oscar oscar")],
                                 "doc_id long, text string")
    new_postings, new_stats = build_index_tables(docs)
    publish_store(new_postings, path, table="t_pub_again", buckets=8)
    spark.sql("DROP TABLE t_pub_again")
    tbl, stats, doc_map = open_store(spark, path)
    assert _rows(tbl) == _rows(new_postings)
    assert _rows(stats) == _rows(new_stats)
    assert doc_map is None
