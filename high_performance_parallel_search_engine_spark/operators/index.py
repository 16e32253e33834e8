"""Inverted-index build: the reference's entire index.c/parser.c collapses
into three hash aggregations.

- postings:   add_token per (term, doc) freq (Serial Version/src/index.c:
              69-114, and the 180-line MPI merge at MPI Version/src/index.c:
              621-800) == groupBy(term, doc_id).count() - partial+final
              aggregation gives the OpenMP thread-local-combiner and the MPI
              Allreduce patterns for free.
- doc_stats:  doc_lengths[doc]++ (index.c:89-110) == groupBy(doc_id).count()
- corpus:     total_tokens/unique_terms/avg_dl (metrics.c:46-50,
              ranking.c:39-42) == one agg.

Tokenization matches parser.c:51-75: split on the strtok delimiter class,
lowercase, drop stopwords, drop empty/>100-char tokens. The same regex
literal is used by the DuckDB oracle SQL so both engines tokenize
identically (kernel/text.py:TOKEN_SPLIT_REGEX).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.text import DEFAULT_STOPWORDS, TOKEN_SPLIT_REGEX

MAX_TOKEN_LEN = 100  # index.c:71-73


def tokens_col(text, stopwords=DEFAULT_STOPWORDS):
    """array<string> of index-ready tokens from a text column; pure Column
    (codegen), identical to kernel.text.tokenize with the serial stemmer.

    The whole text is lowered BEFORE the split: one codegen pass over the
    string instead of an interpreted transform() lambda per token. The
    delimiter class is pure ASCII punctuation/whitespace, which lowercasing
    never produces or consumes, so token boundaries and per-token content
    are identical to the per-token form (incl. contextual mappings like
    final sigma - a word-final position is word-final in both views)."""
    toks = F.split(F.lower(text), TOKEN_SPLIT_REGEX)
    stop = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(
        toks,
        lambda t: (F.length(t) > 0) & (F.length(t) <= MAX_TOKEN_LEN)
        & ~F.array_contains(stop, t),
    )


def spread_narrow_input(df: DataFrame) -> DataFrame:
    """Guide §2.5 (input skew - one huge unsplittable file): a parquet
    file is only splittable at row-group boundaries, and a single-row-
    group table scans as ONE task no matter the config - every per-row
    kernel downstream (tokenize, shingle, md5) then runs on one core.
    When the scan's parallelism is at most half the session's cores
    (`cur * 2 <= target`), repartition ROWS to the core count before the
    heavy per-row work: one small exchange of raw text buys full-width
    tokenization. Scale-adaptive by construction - a 100 TB table scans
    as thousands of splits, `cur * 2 > target` holds, and this is a no-op
    (no constant tuned to local mode; `defaultParallelism` follows the
    master)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur * 2 <= target:
        return df.repartition(target)
    return df


def doc_tokens(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               stopwords=DEFAULT_STOPWORDS) -> DataFrame:
    """(doc_id, term) exploded token stream in document order.

    Deliberately NOT spread_narrow_input-wrapped: an interleaved A/B at
    sf0.1 (5 reps each, one session) measured the extra exchange + plan
    round-trip LOSING on this lighter kernel - postings 0.42 -> 0.58 s,
    postings_incremental 0.50 -> 0.89 s, bm25_topk 0.92 -> 1.02 s -
    while the 3x-heavier shingle pipeline (doc_shingles) WINS
    (ngram 1.55 -> 1.01 s). Tokenize-only work is too cheap to amortize
    a repartition of the text."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col), stopwords)).alias("term"),
    )


def build_postings(docs: DataFrame, **kw) -> DataFrame:
    """(term, doc_id, tf) - the inverted index as a table."""
    return (doc_tokens(docs, **kw)
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf")))


def build_doc_stats(docs: DataFrame, **kw) -> DataFrame:
    """(doc_id, dl) document lengths in kept tokens."""
    return (doc_tokens(docs, **kw)
            .groupBy("doc_id").agg(F.count("*").alias("dl")))


def build_index_tables(docs: DataFrame, **kw) -> tuple[DataFrame, DataFrame]:
    """(postings, doc_stats) from ONE tokenization pass: postings is
    lazily local-checkpointed and document lengths derive from it
    (dl = sum(tf) per doc == count of kept tokens, exactly
    build_doc_stats' value). Without this, a cold BM25 query tokenizes
    the corpus separately for postings, for doc_stats, and again for
    each corpus-stats action - the tokenize+explode is the expensive
    part, so sharing it is the difference between one corpus pass and
    four. The checkpoint blocks are GC-freed with the DataFrames; a
    persistent index (the dashboard path) caches these tables instead."""
    postings = build_postings(docs, **kw).localCheckpoint(eager=False)
    stats = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return postings, stats


def merge_postings(old_postings: DataFrame, delta_docs: DataFrame,
                   **kw) -> DataFrame:
    """Incremental index maintenance: postings after a crawl round lands
    delta_docs, WITHOUT re-tokenizing the old corpus. Re-crawled docs
    REPLACE their old postings (new page version wins - the reference
    rebuilds its whole index per crawl, index.c:69-114; this is the
    O(delta) form that replaces full rebuilds at 10^10-doc scale):

      kept  = old_postings anti-join (delta doc_ids)   # slim id set
      merged = kept UNION tokenize(delta_docs)

    Only the delta crosses the tokenizer; the anti-join key set is
    |delta| doc_ids - the planner broadcasts it when a round's delta is
    small, and AQE falls back to a shuffled anti-join for huge deltas.
    Verified by the postings_incremental gate: merge over a round-split
    corpus value-hashes equal to a full rebuild over the union."""
    delta = build_postings(delta_docs, **kw)
    # no .distinct() on the key set: left_anti semantics are unchanged by
    # duplicate build-side rows (existence is existence), so the distinct
    # bought nothing but an extra exchange before the broadcast; a delta
    # is one row per re-crawled doc anyway
    changed = delta_docs.select(
        F.col(kw.get("id_col", "doc_id")).alias("doc_id"))
    kept = old_postings.join(changed, "doc_id", "left_anti")
    return kept.unionByName(delta.select(*kept.columns))


def corpus_stats(docs: DataFrame, **kw) -> DataFrame:
    """One row: total_tokens, unique_terms, total_docs, avg_dl.

    On a corpus with no kept tokens total_tokens is 0, as the oracle's
    COUNT(*) is (Spark's sum over no rows is NULL), and avg_dl stays NULL
    (NULL / 0 is NULL; a coalesced 0 / 0 raises under ANSI mode).

    Two distinct aggregates in one agg make Spark Expand every input row
    once per distinct group (3x the token stream through the exchange).
    Pre-aggregating to (term, doc_id, tf) first - a partial-aggregated
    shuffle that collapses each partition to its unique pairs - leaves the
    Expand running over |postings| rows instead of |tokens|. Values are
    identical: sum(tf) == count of kept tokens (exact long arithmetic),
    and the distinct counts are over the same key sets."""
    g = doc_tokens(docs, **kw).groupBy("term", "doc_id") \
        .agg(F.count("*").alias("tf"))
    return g.agg(
        F.coalesce(F.sum("tf"), F.lit(0)).alias("total_tokens"),
        F.countDistinct("term").alias("unique_terms"),
        F.countDistinct("doc_id").alias("total_docs"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avg_dl"),
    )


def avg_doc_len(stats: DataFrame, total: int) -> float:
    """Mean document length from a (doc_id, dl) stats table - the BM25
    avg_dl scalar every serving tier computes once per index."""
    if not total:
        return 0.0
    return (stats.groupBy().sum("dl").collect()[0][0] or 0) / total


def term_df(postings: DataFrame) -> DataFrame:
    """(term, df) document frequency (ranking.c:54). df = count(*): a
    postings table is unique per (term, doc_id) by construction (the
    groupBy(term, doc_id) output schema), so count equals the distinct
    doc count without the distinct-aggregate's Expand + extra exchange."""
    return postings.groupBy("term").agg(F.count("*").alias("df"))


# vocabulary cap for the driver-side {term: df} map: ~2M terms is tens of
# MB of driver dict; past it the (term, df) TABLE keeps serving unbounded
# vocabularies (the df_table source of rank_bm25/rank_bm25_batch,
# identical results)
DF_MAP_MAX_VOCAB = 2_000_000


def term_df_map(dfs: DataFrame, vocab: int | None = None,
                max_vocab: int = DF_MAP_MAX_VOCAB) -> dict | None:
    """Driver-side {term: df} from a (term, df) table, or None when the
    vocabulary exceeds max_vocab. The ONE definition of the warm-query
    df_map contract shared by api.EngineState (which serves both the
    dashboard and the CLI) and bench.py - candidate resolution and the
    plural/singular fallback preference then run as dict lookups
    (ranking.resolve_terms), so a warm query runs no df aggregate and no
    vocabulary scan: 3 Spark jobs (the df_map source of rank_bm25 and
    rank_bm25_batch). Pass the already-known vocab count to skip the
    extra count job."""
    if vocab is None:
        vocab = dfs.count()
    if vocab > max_vocab:
        return None
    return {r["term"]: r["df"] for r in dfs.collect()}
