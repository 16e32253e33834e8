"""Positional postings + exact phrase search.

The reference's index is bag-of-words (term, doc, tf - Serial
Version/src/index.c:69-114); phrase queries are beyond it. The positional
form is the classic extension: one tokenization pass emits (term, doc_id,
positions, tf) where positions index the KEPT token stream (lowercased,
stopwords removed - the same stream build_postings counts, so tf ==
size(positions) and the bag-of-words table is a projection of this one).
Phrase adjacency is therefore defined over that filtered stream, and the
query side tokenizes identically - self-consistent by construction.

Matching is pure array algebra, no explode: for phrase terms t_0..t_{n-1},
a doc matches iff intersect_i (positions(t_i) - i) is non-empty - each
surviving element is a start position of one occurrence. The plan is
n term-pruned scans (candidate-term pushdown, or bucket pruning on a
save_postings_bucketed-style positional store) joined on doc_id; position
arrays stay columnar end to end, so the shuffle carries one row per
(term, doc) - the same footprint as a bag-of-words join, not one row per
token occurrence.

Ranking: BM25 over the phrase terms, restricted to matching docs, plus a
deterministic (score desc, doc_id asc) top-k - the ranking.py contract.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.text import DEFAULT_STOPWORDS, tokenize
from .common import local_frame
from .index import tokens_col
from .ranking import BM25_B, BM25_K1, bm25_score_col


def build_positional_postings(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              stopwords=DEFAULT_STOPWORDS) -> DataFrame:
    """(term, doc_id, positions array<int>, tf): the positional inverted
    index in one tokenize+groupBy pass. positions are 0-based offsets in
    the kept token stream (posexplode indexes the tokens_col array
    directly - no window, no extra shuffle), sorted; tf ==
    size(positions)."""
    posed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(F.col(text_col), stopwords))
        .alias("pos", "term"))
    return (posed.groupBy("term", "doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
            .withColumn("tf", F.size("positions").cast("long")))


def as_quoted_phrase(query: str) -> str | None:
    """'"quick brown fox"' -> 'quick brown fox'; None for plain queries.
    The classic quoted-phrase syntax of api.EngineState.search, behind
    both the CLI prompt and the dashboard /api/search."""
    q = query.strip()
    if len(q) > 2 and q.startswith('"') and q.endswith('"'):
        return q[1:-1]
    return None


def phrase_terms(phrase: str, stopwords=DEFAULT_STOPWORDS) -> list[str]:
    """The phrase's kept-token sequence via the SAME tokenizer the index
    ran (kernel.text.tokenize == tokens_col semantics: split, lower,
    length cap, stopword filter), order preserved, duplicates kept - so
    adjacency means the same thing on both sides."""
    return tokenize(phrase, stopwords)


def _rarity_order(terms: list[str], term_dfs: dict | None) -> list[int]:
    """Join order for the phrase's term sides: ascending document
    frequency, ties broken by phrase position (deterministic). The rarest
    term's posting list then drives the join chain, so every later join
    probes at most that many docs - the classic posting-list intersection
    order (guide §3: reduce the big side before it joins). Without df
    stats the phrase order is kept."""
    if not term_dfs:
        return list(range(len(terms)))
    return sorted(range(len(terms)),
                  key=lambda i: (term_dfs.get(terms[i], 0), i))


def phrase_match(pos_postings: DataFrame, phrase: str,
                 stopwords=DEFAULT_STOPWORDS,
                 term_dfs: dict | None = None) -> DataFrame:
    """(doc_id, n_occurrences) of docs containing the exact phrase.
    n terms -> n term-pruned scans joined on doc_id; the match is
    array_intersect over offset-shifted position arrays (each surviving
    element = one occurrence's start).

    term_dfs: optional {term: df} (from index.term_df / the store's
    sidecar / rank_bm25_phrase's df aggregation). When provided, the term
    sides join in ascending-df order so the rarest term's (smallest)
    posting list drives the chain; inner joins on doc_id commute and
    array_intersect is a set intersection consumed via size(), so the
    output is identical for every order."""
    terms = phrase_terms(phrase, stopwords)
    if not terms:
        raise ValueError("phrase has no indexable terms")
    def shift(off):
        # NOTE a two-parameter lambda (even `lambda p, off=i`) is treated
        # by pyspark as the (element, index) form - the closure factory
        # keeps it unary with `off` captured as a constant
        return lambda p: p - F.lit(off)

    sides = {}
    for i, t in enumerate(terms):
        sides[i] = (
            pos_postings.where(F.col("term") == t)
            .select("doc_id",
                    F.transform("positions", shift(i)).alias(f"_p{i}")))
    order = _rarity_order(terms, term_dfs)
    joined = reduce(lambda a, b: a.join(b, "doc_id"),
                    [sides[i] for i in order])
    starts = reduce(lambda a, b: F.array_intersect(a, b),
                    [F.col(f"_p{i}") for i in order])
    return (joined.select("doc_id", F.size(starts).alias("n_occurrences"))
            .where(F.col("n_occurrences") > 0))


def rank_bm25_phrase(pos_postings: DataFrame, doc_stats: DataFrame,
                     phrase: str, total_docs: int | None = None,
                     avg_dl: float | None = None, top_k: int = 10,
                     k1: float = BM25_K1, b: float = BM25_B,
                     stopwords=DEFAULT_STOPWORDS) -> DataFrame:
    """(doc_id, score, n_occurrences): BM25 over the phrase's terms,
    restricted to exact-phrase matches, deterministic
    (score desc, doc_id asc) top-k. Scoring reuses the positional table
    (tf = size(positions)) - no second index needed."""
    terms = phrase_terms(phrase, stopwords)
    term_rows = pos_postings.where(F.col("term").isin(terms))
    # df is CORPUS document frequency (before the phrase-match join):
    # inside the matches every doc contains every phrase term, so a
    # post-join df would collapse idf to a per-query constant and erase
    # term-rarity weighting - the ranking.py contract computes df over
    # the term's full posting list (ranking.py rank_bm25 does the same
    # post-candidate-pushdown, pre-match aggregation).
    # The <= n df rows are collected so the phrase join runs in
    # ascending-df order (rarest posting list drives the chain) and the
    # broadcast idf table becomes a literal frame - one tiny aggregation
    # job over the term-pruned rows buys a join order the planner cannot
    # derive itself.
    # count(*) == countDistinct(doc_id): positional postings are unique per
    # (term, doc_id) - positions are aggregated into one array per doc
    df_rows = (term_rows.groupBy("term")
               .agg(F.count("*").alias("df")).collect())
    term_df_map = {r["term"]: r["df"] for r in df_rows}
    spark = pos_postings.sparkSession
    dfs = local_frame(spark, list(term_df_map.items()),
                      "term string, df long")
    matches = phrase_match(pos_postings, phrase, stopwords,
                           term_dfs=term_df_map)
    postings = term_rows.join(matches, "doc_id")
    if total_docs is None:
        total_docs = doc_stats.count()
    if avg_dl is None:
        from .index import avg_doc_len

        avg_dl = avg_doc_len(doc_stats, total_docs)
    idf = F.log((F.lit(float(total_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    scored = (postings.join(F.broadcast(dfs), "term")
              .join(doc_stats, "doc_id")
              .withColumn("_s", bm25_score_col(
                  F.col("tf"), F.col("dl"), F.lit(float(avg_dl)), idf,
                  k1=k1, b=b)))
    agg = (scored.groupBy("doc_id")
           .agg(F.round(F.sum("_s"), 6).alias("score"),
                F.first("n_occurrences").alias("n_occurrences")))
    return (agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k))
