"""BM25 query ranking (Serial Version/src/ranking.c:27-91).

rank_bm25 (one query) and rank_bm25_batch (N queries in one plan, the
evaluate.c:12-18 harness shape) share one path, each part written once:
resolve_terms (the driver-side primary-beats-retry lookup, also used by
LocalIndex), _candidates (corpus stats, the candidate-term scan pushdown
and the df of each candidate from one of three sources) and _scores
(postings x broadcast(candidates) -> doc_stats join -> one codegen'd
score column -> per-key sum). rank_bm25 sums per doc_id and ends in
orderBy().limit(), a TakeOrderedAndProject - what the MPI gather-top-2k
merge (MPI Version/src/ranking.c:110-188) does, distributed.
rank_bm25_batch sums per (query_id, doc_id) and keeps top-k with a
window per query.

k1=1.5, b=0.75, idf=ln((N-df+0.5)/(df+0.5)+1) hard-coded as in
ranking.c:55-61 (config.ini's k1=1.2 is dead config - code wins).

fallback=True ports the OpenMP plural/singular retry
(OpenMP Version/src/ranking.c:110-150): a query term absent from the index
retries term+'s' (when it does not already end in 's') else term[:-1], at
full weight (alt_factor = 1.0 in the C). The primary form always wins when
present (the C breaks out of the scan before trying the alternative).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel.text import BM25_B, BM25_K1, DEFAULT_STOPWORDS, stem_serial
from .common import local_frame


# interactive_query_conf touches SESSION-GLOBAL conf, and the dashboard's
# ThreadingHTTPServer serves /api/search concurrently: without
# coordination, interleaved enter/exit pairs restore each other's
# "previous" values and can leave the session permanently clamped to the
# interactive settings (thread A saves 32->sets 4, B saves 4, A restores
# 32, B restores 4). Refcount under a lock: the FIRST entrant saves and
# sets, the LAST exitor restores; concurrent entrants share the first
# entrant's clamp (they want the same interactive profile anyway).
_IQC_LOCK = threading.Lock()
_IQC_STATE: dict = {"depth": 0, "prev": None, "prev_sp": None}


@contextmanager
def interactive_query_conf(spark, shuffle_partitions: int = 4):
    """AQE off for sub-second interactive queries: adaptive execution
    re-plans after every exchange, and on a warm cached index those extra
    driver round-trips cost ~170 ms/query (measured: 735 -> 568 ms median
    on the 25-doc index) while buying nothing - the exchanges are a few KB.
    Batch/ETL plans keep AQE (skew splitting, coalescing matter there).

    Also clamps spark.sql.shuffle.partitions (default 4) for the duration:
    the scoring plan's one shuffle (groupBy doc_id) carries <= top-k-ish KB
    per query, and with AQE off the session default (32+) schedules that
    many near-empty reduce tasks per query - pure per-task launch overhead
    at interactive latencies. Batch/ETL paths outside this context keep the
    full width. Concurrency-safe via a process-wide refcount (see
    _IQC_STATE note) - safe for the threaded dashboard server."""
    with _IQC_LOCK:
        if _IQC_STATE["depth"] == 0:
            _IQC_STATE["prev"] = spark.conf.get(
                "spark.sql.adaptive.enabled", "true")
            _IQC_STATE["prev_sp"] = spark.conf.get(
                "spark.sql.shuffle.partitions", "200")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions))
        _IQC_STATE["depth"] += 1
    try:
        yield
    finally:
        with _IQC_LOCK:
            _IQC_STATE["depth"] -= 1
            if _IQC_STATE["depth"] == 0:
                spark.conf.set("spark.sql.adaptive.enabled",
                               _IQC_STATE["prev"])
                spark.conf.set("spark.sql.shuffle.partitions",
                               _IQC_STATE["prev_sp"])


def query_terms(query: str, stopwords=DEFAULT_STOPWORDS, stem=stem_serial) -> list[str]:
    """ranking.c:37-49: whitespace split, lowercase, stopword filter, stem.
    Duplicate query terms are kept (each occurrence adds its score again)."""
    sw = set(stopwords)
    out = []
    for tok in query.split():
        tok = tok.lower()
        if tok in sw:
            continue
        out.append(stem(tok))
    return out


def alt_term(term: str) -> str | None:
    """OpenMP Version/src/ranking.c:112-127: the retry form for a term the
    index does not contain. Appends 's' when the term does not end in 's'
    (the C truncates to 254 chars first; our tokens are capped at 100 so the
    truncation branch is unreachable), else strips the trailing char when
    len > 1, else no alternative."""
    if len(term) > 0 and not term.endswith("s"):
        return term + "s"
    if len(term) > 1:
        return term[:-1]
    return None


def bm25_score_col(tf, dl, avg_dl, idf, k1: float = BM25_K1, b: float = BM25_B):
    return idf * ((tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avg_dl)))


# Candidate-term scan pushdown: every query's candidate terms (including the
# fallback retry forms) are known driver-side BEFORE the plan is built, so
# an explicit `term IN (...)` filter goes into the postings scan. It is a
# semantic no-op - the broadcast-join keys are exactly a subset of the
# filter values - but the JOIN alone prunes NOTHING at the scan: measured on
# a 16-bucket store, postings x broadcast(2 terms) reads 16/16 buckets
# without this filter and 2/16 with it, and on plain parquet the filter
# reaches PushedFilters (row-group stats + dictionary pages). At 100 TB this
# is the difference between a full index pass and reading the few buckets a
# query hashes to (operators/index_store.py). The cap mirrors
# crawl.URL_PUSHDOWN_MAX: parquet-mr lowers a huge In to a left-deep Or tree
# that can overflow the task stack; real queries are a handful of terms, so
# the cap is headroom, and past it the filter is skipped (join-only pruning,
# still correct).
TERM_PUSHDOWN_MAX = 512


def _pushdown_candidate_terms(postings: DataFrame, terms) -> DataFrame:
    vals = sorted({t for t in terms if t})
    if 0 < len(vals) <= TERM_PUSHDOWN_MAX:
        return postings.where(F.col("term").isin(vals))
    return postings


def resolve_terms(terms: list[str], lookup, fallback: bool) -> list[tuple]:
    """Driver-side candidate resolution over a dict keyed by index term
    ({term: df}, or LocalIndex's {term: posting list}): (qpos, term,
    value) for each query position whose term - or, with fallback, its
    plural/singular retry form - the index holds. The primary form wins
    when present (ranking.c's early break). Duplicate query terms each
    resolve (ranking.c keeps them). A position that resolves to nothing
    drops out, as it never joins in the Spark paths."""
    out = []
    for i, t in enumerate(terms):
        v = lookup.get(t)
        if v is None and fallback:
            a = alt_term(t)
            if a is not None:
                t, v = a, lookup.get(a)
        if v is not None:
            out.append((i, t, v))
    return out


def _candidates(postings: DataFrame, doc_stats: DataFrame,
                queries: list[str], total_docs: int | None,
                avg_dl: float | None, stopwords, fallback: bool,
                df_table: DataFrame | None, df_map: dict | None):
    """What a scoring pass needs for N queries, or None when nothing can
    score: (postings with the candidate-term pushdown applied, sel =
    (query_id, qpos, term, df) resolved candidates, n_col, avg_col,
    stats_df).

    Corpus stats: passed-in total_docs/avg_dl become literals (a warm
    index costs no aggregation job). Without them the stats ride INSIDE
    the scoring plan as a 1-row broadcast `stats_df` (crossJoin) instead
    of a separate collect() job - the former extra driver sync was a
    fixed ~0.2 s on every cold query. The arithmetic is bit-identical:
    double(s)/double(n) rounds as Python's s/n does. An empty corpus
    yields an empty join result.

    df sources, each yielding the same sel (parity-tested):
    - df_map (without df_table): a driver-side {term: df} dict. The
      lookup and the fallback preference run in resolve_terms on
      <= |terms| entries, so sel is an Arrow LocalTableScan of literal
      rows: no vocab-table scan, no pref window. On a warm index under
      interactive_query_conf a query is 3 jobs (the candidate-table
      broadcast, the doc_stats broadcast, the scoring job). Valid while
      the vocabulary fits driver memory (index.term_df_map's cap).
    - df_table: a cached (term, df) table joined against the broadcast
      candidate table inside the scoring plan - a vocab lookup instead
      of a second postings scan per query; the unbounded-vocab path.
    - neither (cold): df = count(*) over the candidate-term postings
      only: the broadcast join narrows the scan BEFORE the aggregate, so
      the df table has <= |cands| rows - never the full vocabulary,
      which at 100 TB would ship every unique term to every executor.
      count(*) equals countDistinct(doc_id) because a postings table is
      unique per (term, doc_id) by construction (a groupBy(term, doc_id)
      output), and skips the distinct aggregate's Expand and second
      exchange.
    The two table sources carry every candidate with a preference (0 =
    the term, 1 = its plural/singular retry); with fallback a min-pref
    window per (query_id, qpos) keeps the best candidate the index holds.
    Without fallback every candidate is pref 0 and the window is
    skipped (one less exchange)."""
    spark = postings.sparkSession
    stats_df = None
    if total_docs is None or avg_dl is None:
        stats_df = doc_stats.agg(F.count("*").alias("_n"),
                                 F.sum("dl").alias("_s"))
        n_col = F.col("_n").cast("double")
        avg_col = F.col("_s").cast("double") / n_col
    elif total_docs == 0:
        return None
    else:
        n_col = F.lit(float(total_docs))
        avg_col = F.lit(float(avg_dl))
    qterms = [(qid, query_terms(q, stopwords)) for qid, q in enumerate(queries)]

    if df_map is not None and df_table is None:
        rows = [(qid, i, t, d) for qid, terms in qterms
                for i, t, d in resolve_terms(terms, df_map, fallback)]
        if not rows:
            return None
        sel = local_frame(spark, rows,
                          "query_id int, qpos int, term string, df long")
        return (_pushdown_candidate_terms(postings, [r[2] for r in rows]),
                sel, n_col, avg_col, stats_df)

    cands = [(qid, i, t, 0) for qid, terms in qterms
             for i, t in enumerate(terms)]
    if not cands:
        return None
    if fallback:
        cands += [(qid, i, a, 1) for qid, i, t, _ in cands
                  if (a := alt_term(t)) is not None]
    cdf = local_frame(spark, cands,
                      "query_id int, qpos int, term string, pref int")
    # both the cold df aggregate and the scoring join scan postings: push
    # the full candidate set (primary and retry forms) into the scan
    postings = _pushdown_candidate_terms(postings, [c[2] for c in cands])
    if df_table is not None:
        df_tbl = df_table.join(F.broadcast(cdf), "term")
    else:
        df_tbl = (postings.join(F.broadcast(cdf), "term")
                  .groupBy("query_id", "qpos", "pref", "term")
                  .agg(F.count("*").alias("df")))
    if fallback:
        wq = Window.partitionBy("query_id", "qpos")
        df_tbl = (df_tbl.withColumn("_minpref", F.min("pref").over(wq))
                  .where(F.col("pref") == F.col("_minpref")))
    sel = df_tbl.select("query_id", "qpos", "term", "df")
    return postings, sel, n_col, avg_col, stats_df


def _scores(keys: list[str], doc_stats: DataFrame, postings: DataFrame,
            sel: DataFrame, n_col, avg_col,
            stats_df: DataFrame | None) -> DataFrame:
    """The one scoring tail over _candidates' output: (*keys, score) for
    every positive score, summed across query terms (R2: query terms x
    index, then the doc_stats join). n_col/avg_col are literals on a
    warm index, references into the broadcast stats_df otherwise."""
    idf = F.log((n_col - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = postings.join(F.broadcast(sel), "term").join(doc_stats, "doc_id")
    if stats_df is not None:
        scored = scored.crossJoin(F.broadcast(stats_df))
    return (scored
            .withColumn("score_part", bm25_score_col(
                F.col("tf").cast("double"), F.col("dl").cast("double"),
                avg_col, idf))
            .groupBy(*keys)
            .agg(F.sum("score_part").alias("score"))
            .where(F.col("score") > 0))


def rank_bm25(postings: DataFrame, doc_stats: DataFrame, query: str,
              total_docs: int | None = None, top_k: int = 10,
              stopwords=DEFAULT_STOPWORDS, fallback: bool = False,
              avg_dl: float | None = None,
              df_table: DataFrame | None = None,
              df_map: dict | None = None) -> DataFrame:
    """Returns (doc_id, score) for the top_k positive-score docs, ordered by
    (score desc, doc_id asc) - deterministic tie-break (the C qsort is
    unstable; ties are broken by doc_id in both our engine and the oracle).

    total_docs defaults to count(doc_stats) and avg_dl to sum dl /
    total_docs (ranking.c:39-42); pass both on a warm index. df_table and
    df_map are the warm df sources (see _candidates); all three sources
    give identical results."""
    c = _candidates(postings, doc_stats, [query], total_docs, avg_dl,
                    stopwords, fallback, df_table, df_map)
    if c is None:
        return local_frame(postings.sparkSession, [],
                           "doc_id long, score double")
    # grouped by doc_id alone: query_id is then pruned from the plan, and
    # the warm df_map plan keeps one aggregate and a TakeOrderedAndProject
    return (_scores(["doc_id"], doc_stats, *c)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k))


def rank_bm25_batch(postings: DataFrame, doc_stats: DataFrame,
                    queries: list[str], total_docs: int | None = None,
                    top_k: int = 5, stopwords=DEFAULT_STOPWORDS,
                    fallback: bool = False,
                    avg_dl: float | None = None,
                    df_table: DataFrame | None = None,
                    df_map: dict | None = None) -> DataFrame:
    """The evaluation harness shape (Serial Version/src/evaluate.c:12-18:
    5 fixed queries, top-5): N queries ranked in ONE plan. Returns
    (query_id, doc_id, score, rk) with rk 1..top_k per query, ordered
    (score desc, doc_id asc) within each query - each query's rows are
    exactly rank_bm25 of that query alone (the dashboard serves both).

    One candidate table carrying query_id broadcasts into the postings
    scan once, and the per-query top-k is a window over query_id: a
    thousand queries cost one postings pass, not a thousand - the
    batch-scoring shape of the reference's GPU variant
    (Super Hybrid Version/src/cuda_kernels.cu:211-321) on the JVM."""
    c = _candidates(postings, doc_stats, queries, total_docs, avg_dl,
                    stopwords, fallback, df_table, df_map)
    if c is None:
        return local_frame(postings.sparkSession, [],
                           "query_id int, doc_id long, score double, rk int")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (_scores(["query_id", "doc_id"], doc_stats, *c)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= top_k)
            .select("query_id", "doc_id", "score", "rk"))
