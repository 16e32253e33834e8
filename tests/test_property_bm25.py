"""Hypothesis parity suite for BM25 query ranking: every serving path ranks
GENERATED corpora and queries identically, not just the curated ones.

Documents and queries are drawn over a vocabulary that holds plural and
singular pairs (a corpus may hold both forms or only one), words whose
retry form is shorter (`bus` -> `bu`) or absent (`s`), stopwords, terms no
corpus holds, repeated terms and empty queries. For each query these give
the same ranking:

- rank_bm25 with the cold, df_table and df_map df sources;
- the query's rows of rank_bm25_batch over all the queries, per source;
- LocalIndex.rank;
- with fallback=False, also the pure-Python oracle kernel.text.rank_bm25.

A ranking is compared as its (doc_id, score to 9 dp) list sorted by
(score desc, doc_id asc): the paths sum a doc's term scores in different
orders, so mathematically tied scores may differ in the last bit, and
top_k exceeds the corpus size so no tie straddles the cut. One Spark
session; each example builds its index once.
"""

from hypothesis import example, given, settings, strategies as st

from high_performance_parallel_search_engine_spark.kernel import text as K
from high_performance_parallel_search_engine_spark.operators import (
    index as IX,
)
from high_performance_parallel_search_engine_spark.operators import (
    local_serve as LS,
)
from high_performance_parallel_search_engine_spark.operators import (
    ranking as RK,
)

VOCAB = ["spark", "sparks", "join", "joins", "window", "windows", "hash",
         "bus", "bu", "s"]
ABSENT = ["ghost", "ghosts", "zzz"]
STOP = ["the", "of"]
TOP_K = 10  # above the largest corpus drawn

DOCS = st.lists(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8),
                min_size=1, max_size=6)
QUERIES = st.lists(
    st.lists(st.sampled_from(VOCAB + ABSENT + STOP), max_size=5)
    .map(" ".join), min_size=1, max_size=4)


def _canon(hits):
    return sorted(((int(d), round(s, 9)) for d, s in hits),
                  key=lambda t: (-t[1], t[0]))


def _oracle(docs, query):
    postings, lengths = {}, {}
    for d, words in enumerate(docs):
        toks = K.tokenize(" ".join(words))
        lengths[d] = len(toks)
        for t in toks:
            postings.setdefault(t, {}).setdefault(d, 0)
            postings[t][d] += 1
    return K.rank_bm25(postings, lengths, len(docs), query, top_k=TOP_K)


# pinned: both forms of a term held (primary beats retry), plural-only
# and singular-only terms, a shorter retry form, a repeated term, an empty
# query and a query of absent terms and stopwords
PINNED_DOCS = [["join", "joins", "window"], ["joins", "joins", "hash"],
               ["window", "windows", "bus"], ["bu", "spark", "spark"]]
PINNED_QUERIES = ["join joins window", "windows the bus sparks",
                  "hash hash spark", "", "ghost s of"]


@settings(max_examples=10, deadline=None)
@given(docs=DOCS, queries=QUERIES, fallback=st.booleans())
@example(docs=PINNED_DOCS, queries=PINNED_QUERIES, fallback=True)
@example(docs=PINNED_DOCS, queries=PINNED_QUERIES, fallback=False)
def test_bm25_paths_rank_identically(spark, docs, queries, fallback):
    frame = spark.createDataFrame(
        [(d, " ".join(words)) for d, words in enumerate(docs)],
        "doc_id long, text string")
    postings = IX.build_postings(frame).cache()
    stats = IX.build_doc_stats(frame).cache()
    try:
        total = stats.count()
        avg_dl = IX.avg_doc_len(stats, total)
        dfs = IX.term_df(postings)
        df_map = IX.term_df_map(dfs)
        local = LS.build_local_index(postings, stats, total_docs=total,
                                     avg_dl=avg_dl)
        sources = {"cold": {},
                   "df_table": {"df_table": dfs, "total_docs": total,
                                "avg_dl": avg_dl},
                   "df_map": {"df_map": df_map, "total_docs": total,
                              "avg_dl": avg_dl}}
        got = {}  # (query_id, path) -> canonical ranking
        for name, kw in sources.items():
            batch = RK.rank_bm25_batch(postings, stats, queries,
                                       top_k=TOP_K, fallback=fallback,
                                       **kw).collect()
            for qid, q in enumerate(queries):
                got[qid, name] = _canon(
                    (r["doc_id"], r["score"]) for r in RK.rank_bm25(
                        postings, stats, q, top_k=TOP_K, fallback=fallback,
                        **kw).collect())
                got[qid, "batch_" + name] = _canon(
                    (r["doc_id"], r["score"]) for r in batch
                    if r["query_id"] == qid)
        for qid, q in enumerate(queries):
            got[qid, "local"] = _canon(local.rank(q, top_k=TOP_K,
                                                  fallback=fallback))
            if not fallback:
                got[qid, "oracle"] = _canon(_oracle(docs, q))
        for (qid, path), ranking in got.items():
            assert ranking == got[qid, "cold"], (queries[qid], path,
                                                 fallback)
    finally:
        postings.unpersist()
        stats.unpersist()
