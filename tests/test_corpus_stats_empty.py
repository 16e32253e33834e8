"""corpus_stats on degenerate corpora returns the oracle SQL's values:
total_tokens 0 (COUNT(*) over no kept tokens), not Spark's NULL sum, and
avg_dl NULL (the oracle's 0 / 0 over zero rows)."""

import pytest

duckdb = pytest.importorskip("duckdb")


def _both(spark, rows):
    from high_performance_parallel_search_engine_spark.operators.index import (
        corpus_stats,
    )
    from high_performance_parallel_search_engine_spark.oracles import ORACLES

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = tuple(corpus_stats(docs).collect()[0])
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    if rows:
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(ORACLES["corpus_stats"]).fetchone()
    return got, want


def test_corpus_stats_empty_corpus_matches_oracle(spark):
    got, want = _both(spark, [])
    assert want == (0, 0, 0, None)
    assert got == want


def test_corpus_stats_all_stopword_corpus_matches_oracle(spark):
    got, want = _both(spark, [(1, "The a an of in"), (2, "of the a")])
    assert want == (0, 0, 0, None)
    assert got == want
