"""BM25 query ranking (Serial Version/src/ranking.c:27-91).

Plan shape: the tiny query-candidate table broadcasts into the postings join
(ranking.c's linear index scan R2 becomes a broadcast hash join); doc_stats
joins on doc_id; the score is one codegen'd column expression; scores ADD
across query terms via groupBy(doc_id).sum; top-k is TakeOrderedAndProject.
The MPI gather-top-2k merge (MPI Version/src/ranking.c:110-188) is what
orderBy().limit() already does distributed.

Scale note (round-1 verdict fix): document frequency is computed ONLY over
the candidate-term postings - the broadcast(candidates) semi-join narrows the
scan BEFORE the df aggregate, so the broadcast df table is at most
2 x |query terms| rows. Aggregating df over the full vocabulary and
broadcasting it (the round-1 shape) would ship every unique term in a 100 TB
corpus to every executor.

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


def rank_bm25(postings: DataFrame, doc_stats: DataFrame, query: str,
              total_docs: int | None = None, top_k: int = 10,
              stopwords=DEFAULT_STOPWORDS, fallback: bool = False,
              avg_dl: float | None = None,
              df_table: DataFrame | None = None,
              df_map: dict | None = None) -> DataFrame:
    """Returns (doc_id, score) for the top_k positive-score docs, ordered by
    (score desc, doc_id asc) - deterministic tie-break (the C qsort is
    unstable; ties are broken by doc_id in both our engine and the oracle).

    total_docs defaults to countDistinct(doc_id) of doc_stats; avg_dl is
    computed as in ranking.c:39-42 (sum dl / total_docs). Both are
    index-time corpus stats (the C computes them from the already-loaded
    in-memory index); pass them in on a warm index so a query costs no
    extra aggregation jobs.

    df_table: optional precomputed (term, df) table (operators.index.
    term_df, ideally cached). With it, the per-query document-frequency
    aggregation over candidate postings disappears: candidate dfs are
    looked up from the (vocabulary-sized, tiny vs postings) table, the
    pref/idf selection runs on the <= 2|terms| collected rows, and the
    whole query becomes one scoring plan - the warm-dashboard path
    (EngineState/api.py). Results are identical; without it the df
    aggregation runs inline (the cold / gate-checked path).

    df_map: optional driver-side {term: df} dict (term_df collected once at
    warm-index build). Candidate resolution - df lookup, fallback
    preference (primary beats plural/singular retry, ranking.c's early
    break), idf inputs - all happen in Python on <= 2|terms| entries, so
    the per-query plan is postings x broadcast(<=|terms| literal rows) ->
    stats join -> score -> top-k: on a warm index under
    interactive_query_conf, 3 jobs (the candidate-table broadcast, the
    doc_stats broadcast, the scoring job). No vocab-table scan, no pref
    window, and the literal rows are an Arrow LocalTableScan. Valid while
    the vocabulary fits driver memory (EngineState guards with a
    vocab-size cap); df_table remains the unbounded-vocab path and both
    produce identical results (parity-tested)."""
    spark = postings.sparkSession
    stats_df = None
    if total_docs is None or avg_dl is None:
        # cold path: corpus stats ride INSIDE the scoring plan as a 1-row
        # broadcast (crossJoin) instead of a separate collect() job - the
        # former extra driver sync was a fixed ~0.2 s on every cold query.
        # Arithmetic is bit-identical: N and avg_dl were exact doubles
        # derived from the same long count/sum, and double(s)/double(n)
        # rounds identically to Python's s/n. An empty corpus yields an
        # empty join result - the same empty (doc_id, score) frame the
        # old early return built.
        stats_df = doc_stats.agg(F.count("*").alias("_n"),
                                 F.sum("dl").alias("_s"))
        n_col = F.col("_n").cast("double")
        avg_col = F.col("_s").cast("double") / n_col
    else:
        if total_docs == 0:
            return local_frame(spark, [], "doc_id long, score double")
        n_col = F.lit(float(total_docs))
        avg_col = F.lit(float(avg_dl))

    terms = query_terms(query, stopwords)
    if not terms:
        return local_frame(spark, [], "doc_id long, score double")

    if df_map is not None and df_table is None:
        # Driver-side candidate resolution: df_map covers exactly the
        # indexed vocabulary, so "term in df_map" == "term in index" and
        # the fallback's primary-beats-retry rule is a dict lookup. Terms
        # absent from the index contribute nothing in every path (they
        # never join); skipping them here is identical.
        rows = []
        for i, t in enumerate(terms):
            d = df_map.get(t)
            if d is None and fallback:
                a = alt_term(t)
                if a is not None and a in df_map:
                    t, d = a, df_map[a]
            if d:
                rows.append((i, t, d))
        if not rows:
            return local_frame(spark, [], "doc_id long, score double")
        sel = local_frame(spark, rows, "qpos int, term string, df long")
        postings = _pushdown_candidate_terms(postings,
                                             [r[1] for r in rows])
        return _score_candidates(postings, doc_stats, sel, n_col, avg_col,
                                 top_k, stats_df)

    # Candidate table: (query position, candidate term, preference).
    # pref 0 = the term itself; pref 1 = the OpenMP plural/singular retry.
    cands = [(i, t, 0) for i, t in enumerate(terms)]
    if fallback:
        for i, t in enumerate(terms):
            a = alt_term(t)
            if a is not None:
                cands.append((i, a, 1))
    cdf = local_frame(spark, cands, "qpos int, term string, pref int")
    # both the cold df aggregation and the scoring join scan postings:
    # push the full candidate set (primary + retry forms) into the scan
    postings = _pushdown_candidate_terms(postings, [c[1] for c in cands])

    if df_table is not None:
        # Warm path: candidate dfs come from the cached (term, df) table -
        # a broadcast lookup over the vocabulary-sized table INSIDE the
        # scoring plan (no separate df job), replacing the df aggregation
        # that would otherwise scan the full postings a second time per
        # query. At 10^9-posting scale this is the difference between a
        # vocab scan and a postings scan on every dashboard keystroke.
        df_tbl = (df_table.join(F.broadcast(cdf), "term")
                  .select("qpos", "pref", "term", "df"))
    else:
        # Cold path: df over candidate-term postings only - the broadcast
        # join prunes the scan, the aggregate output is <= |cands| rows.
        # Grouping carries qpos so the same index term selected by two
        # query occurrences scores twice (ranking.c keeps duplicate query
        # terms). df = count(*), not countDistinct(doc_id): a postings
        # table is unique per (term, doc_id) by construction (it is a
        # groupBy(term, doc_id) output), so the values are identical and
        # the distinct-aggregate Expand + second exchange are skipped.
        df_tbl = (postings.join(F.broadcast(cdf), "term")
                  .groupBy("qpos", "pref", "term")
                  .agg(F.count("*").alias("df")))
    if fallback:
        # Per query position keep the best-preference candidate that
        # exists in the index (primary beats retry, as in the C's
        # early break).
        wq = Window.partitionBy("qpos")
        sel = (df_tbl.withColumn("_minpref", F.min("pref").over(wq))
               .where(F.col("pref") == F.col("_minpref"))
               .select("qpos", "term", "df"))
    else:
        # all candidates are pref 0: the min-pref window is a no-op -
        # skip its exchange (one less stage on every warm query)
        sel = df_tbl.select("qpos", "term", "df")

    return _score_candidates(postings, doc_stats, sel, n_col, avg_col,
                             top_k, stats_df)


def _score_candidates(postings: DataFrame, doc_stats: DataFrame,
                      sel: DataFrame, n_col, avg_col,
                      top_k: int, stats_df: DataFrame | None = None) -> DataFrame:
    """Shared scoring tail: sel = (qpos, term, df) resolved candidates.
    n_col/avg_col are double Columns (literals on a warm index; references
    into the 1-row broadcast `stats_df` on the cold path - see rank_bm25's
    stats_df note)."""
    idf = F.log((n_col - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    scored = (
        postings
        .join(F.broadcast(sel), "term")            # R2: query terms x index
        .join(doc_stats, "doc_id")
    )
    if stats_df is not None:
        scored = scored.crossJoin(F.broadcast(stats_df))
    scored = (
        scored
        .withColumn("idf", idf)
        .withColumn("score_part", bm25_score_col(
            F.col("tf").cast("double"), F.col("dl").cast("double"),
            avg_col, F.col("idf")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score_part").alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
    )


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
    (score desc, doc_id asc) within each query.

    Plan: one candidate table carrying query_id broadcasts into the postings
    scan once; per-query df rides the same aggregate; per-query top-k is a
    window over query_id. A thousand queries cost one postings pass, not a
    thousand - the batch-scoring shape of the reference's GPU variant
    (Super Hybrid Version/src/cuda_kernels.cu:211-321) on the JVM.

    fallback=True applies the same OpenMP plural/singular retry as
    rank_bm25 per (query, position) - a batched query must rank exactly
    like the same query sent alone (the dashboard serves both forms)."""
    spark = postings.sparkSession
    empty = local_frame(
        spark, [], "query_id int, doc_id long, score double, rk int")
    stats_df = None
    if total_docs is None or avg_dl is None:
        # cold path: in-plan 1-row stats broadcast instead of a separate
        # collect() job (see rank_bm25's stats_df note; bit-identical)
        stats_df = doc_stats.agg(F.count("*").alias("_n"),
                                 F.sum("dl").alias("_s"))
        n_col = F.col("_n").cast("double")
        avg_col = F.col("_s").cast("double") / n_col
    else:
        if total_docs == 0:
            return empty
        n_col = F.lit(float(total_docs))
        avg_col = F.lit(float(avg_dl))

    cands = []
    for qid, query in enumerate(queries):
        for i, t in enumerate(query_terms(query, stopwords)):
            cands.append((qid, i, t))
    if not cands:
        return empty

    if df_map is not None and df_table is None:
        # driver-side df resolution (see rank_bm25.df_map): no df
        # aggregate - postings x broadcast(literal candidates), 3 jobs.
        # Fallback is a dict lookup per position, primary beats retry.
        rows = []
        for qid, i, t in cands:
            d = df_map.get(t)
            if d is None and fallback:
                a = alt_term(t)
                if a is not None and a in df_map:
                    t, d = a, df_map[a]
            if d:
                rows.append((qid, i, t, d))
        if not rows:
            return empty
        df_tbl = local_frame(
            spark, rows, "query_id int, qpos int, term string, df long")
        postings = _pushdown_candidate_terms(postings,
                                             [r[2] for r in rows])
        return _score_candidates_batch(postings, doc_stats, df_tbl,
                                       n_col, avg_col, top_k, stats_df)
    # candidate table with preference: pref 0 = the term itself, pref 1 =
    # the plural/singular retry (mirrors rank_bm25)
    prefd = [(qid, i, t, 0) for qid, i, t in cands]
    if fallback:
        for qid, i, t in cands:
            a = alt_term(t)
            if a is not None:
                prefd.append((qid, i, a, 1))
    cdf = local_frame(
        spark, prefd, "query_id int, qpos int, term string, pref int")
    postings = _pushdown_candidate_terms(postings, [c[2] for c in prefd])

    if df_table is not None:
        # warm-index batch path: same trade as rank_bm25's df_table - a
        # vocab-table lookup instead of a second postings scan for df
        df_tbl = (df_table.join(F.broadcast(cdf), "term")
                  .select("query_id", "qpos", "term", "df", "pref"))
    else:
        # count(*) == countDistinct(doc_id) on a postings table (unique per
        # (term, doc_id)); see rank_bm25's cold-path note
        df_tbl = (postings.join(F.broadcast(cdf), "term")
                  .groupBy("query_id", "qpos", "term", "pref")
                  .agg(F.count("*").alias("df")))
    if fallback:
        # per (query, position) keep the best-preference candidate present
        # in the index (primary beats retry - the C's early break)
        wq = Window.partitionBy("query_id", "qpos")
        df_tbl = (df_tbl.withColumn("_minpref", F.min("pref").over(wq))
                  .where(F.col("pref") == F.col("_minpref")))
    df_tbl = df_tbl.select("query_id", "qpos", "term", "df")
    return _score_candidates_batch(postings, doc_stats, df_tbl, n_col,
                                   avg_col, top_k, stats_df)


def _score_candidates_batch(postings: DataFrame, doc_stats: DataFrame,
                            df_tbl: DataFrame, n_col, avg_col, top_k: int,
                            stats_df: DataFrame | None = None) -> DataFrame:
    """Shared batch scoring tail: df_tbl = (query_id, qpos, term, df).
    n_col/avg_col/stats_df as in _score_candidates."""
    idf = F.log((n_col - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    scored = (
        postings
        .join(F.broadcast(df_tbl.select("query_id", "qpos", "term", "df")),
              "term")
        .join(doc_stats, "doc_id")
    )
    if stats_df is not None:
        scored = scored.crossJoin(F.broadcast(stats_df))
    scored = (
        scored
        .withColumn("score_part", bm25_score_col(
            F.col("tf").cast("double"), F.col("dl").cast("double"),
            avg_col, idf))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_part").alias("score"))
        .where(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= top_k)
            .select("query_id", "doc_id", F.col("score"), "rk"))
