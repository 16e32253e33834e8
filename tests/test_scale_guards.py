"""Scale-guard tests: the round-1 verdict's named scale-killers stay fixed.

1. BM25's document-frequency aggregate runs AFTER the broadcast candidate
   join (never an agg over the full vocabulary that then broadcasts).
2. ngram_jaccard_pairs bounds the inverted self-join with a shingle-df cap.
3. minhash_lsh_pairs bounds within-bucket pair blowup with a bucket-size cap.
4. The OpenMP plural/singular query fallback (ranking.c:110-150) semantics.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from high_performance_parallel_search_engine_spark.operators import dedup as D
from high_performance_parallel_search_engine_spark.operators import index as IX
from high_performance_parallel_search_engine_spark.operators import ranking as RK


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "spark join window stream filter scan"),
        (1, "join join join vector hash batch"),
        (2, "window stream stream agg sort merge"),
        (3, "totally unrelated words here now ok"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_df_agg_is_post_join(spark, docs):
    """The optimized plan must not contain an Aggregate keyed by term alone
    (the full-vocabulary df table of round 1); df is grouped by
    (qpos, pref, term), which only exists after the candidate join."""
    postings = IX.build_postings(docs)
    stats = IX.build_doc_stats(docs)
    out = RK.rank_bm25(postings, stats, "spark join", top_k=5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re
    for line in plan.splitlines():
        if re.search(r"Aggregate \[term#\d+\],", line):
            raise AssertionError(
                "df aggregate keyed by bare term (full-vocab agg):\n" + line)
    assert "qpos" in plan  # the candidate join feeds the df agg
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert set(rows) <= {0, 1, 2}
    assert rows  # scored something


def test_bm25_fallback_matches_python_rule(spark, docs):
    """'joins' and 'windows' are absent; fallback retries 'join'/'window' at
    full weight, so the fallback query scores exactly like the singular one."""
    postings = IX.build_postings(docs)
    stats = IX.build_doc_stats(docs)
    direct = RK.rank_bm25(postings, stats, "join window", top_k=5).collect()
    fb = RK.rank_bm25(postings, stats, "joins windows", top_k=5,
                      fallback=True).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in direct] == \
           [(r["doc_id"], round(r["score"], 9)) for r in fb]
    # without fallback the mistyped query matches nothing
    none = RK.rank_bm25(postings, stats, "joins windows", top_k=5).collect()
    assert none == []
    # primary beats retry when both exist: 'join' present -> no retry 'joins'
    assert RK.alt_term("join") == "joins"
    assert RK.alt_term("joins") == "join"
    assert RK.alt_term("s") is None


def _hot_corpus(spark, n_dup=40):
    """n_dup near-identical docs (one shared hot shingle universe) plus two
    distinct docs sharing a moderate shingle."""
    rows = [(i, "common boiler plate shingle everywhere always "
                f"unique{i} tail{i} end{i}") for i in range(n_dup)]
    rows += [(1000, "rare pair shingle one two three"),
             (1001, "rare pair shingle four five six")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_shingle_df_cap_bounds_output(spark):
    docs = _hot_corpus(spark)
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.0,
                                     max_shingle_df=None).count()
    capped = D.ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_df=10)
    rows = capped.collect()
    # the 40-doc hot cluster (df=40 shingles > 10) no longer pairs all-to-all
    assert uncapped >= 40 * 39 / 2
    assert len(rows) < 40 * 39 / 2
    # the rare pair (df=2 shingle) survives the cap
    assert any((r["doc_a"], r["doc_b"]) == (1000, 1001) for r in rows)


def test_minhash_lsh_bucket_cap_bounds_output(spark):
    docs = spark.createDataFrame(
        [(i, "exactly the same words in every single doc")
         for i in range(30)] +
        [(100, "another different pair of docs close together alpha"),
         (101, "another different pair of docs close together beta")],
        "doc_id long, text string")
    uncapped = D.minhash_lsh_pairs(docs, max_bucket_size=None).count()
    capped = D.minhash_lsh_pairs(docs, max_bucket_size=10)
    rows = capped.collect()
    assert uncapped >= 30 * 29 / 2          # the dup cluster is quadratic
    assert len(rows) < 30 * 29 / 2          # the cap removed it
    assert all(not (r["doc_a"] < 100 and r["doc_b"] < 100) for r in rows)


def test_lsh_cap_is_plain_filter_no_join(spark):
    """r6 shape: the inverted bucket table is one collect_set aggregation
    and the bucket-size cap is a plain `size(_ds) <= cap` filter - no
    join of any kind in the pair plan (the former checkpoint + hot-bucket
    agg + broadcast anti-join + self-join shape paid three extra jobs)."""
    docs = _hot_corpus(spark)
    out = D.minhash_lsh_pairs(docs, max_bucket_size=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "size(_ds" in plan           # the cap filter reached the plan


def test_politeness_budget_hot_host_skew(spark):
    """SURVEY §7.2 item 11: one host holding a huge frontier share must not
    serialize the budget window. The salted two-phase top-k keeps exactly
    the budget's smallest seqs (correctness) while phase 1 bounds the exact
    window's input to <= 16*budget rows per host (skew kill)."""
    from pyspark.sql import functions as F

    from high_performance_parallel_search_engine_spark.operators.politeness import (
        apply_budget,
    )

    n_hot = 50_000
    hot = spark.range(n_hot).select(
        F.lit("hot.example.com").alias("host"),
        F.concat(F.lit("https://hot.example.com/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.col("id").alias("seq"))
    cold = spark.range(20).select(
        F.lit("cold.example.com").alias("host"),
        F.concat(F.lit("https://cold.example.com/p/"),
                 F.col("id").cast("string")).alias("url"),
        (F.col("id") + n_hot).alias("seq"))
    frontier = hot.unionByName(cold).repartition(8)
    budgets = spark.createDataFrame(
        [("hot.example.com", 5)], "host string, max_fetches_per_round int")

    out = apply_budget(frontier, budgets, default_budget=None)
    fetched = out.where(F.col("fetch_now"))
    hot_fetched = sorted(r["seq"] for r in
                         fetched.where(F.col("host") == "hot.example.com")
                         .collect())
    assert hot_fetched == [0, 1, 2, 3, 4]     # exactly the 5 smallest seqs
    assert fetched.where(F.col("host") == "cold.example.com").count() == 20
    assert out.where(~F.col("fetch_now")).count() == n_hot - 5
    # the exact (unsalted) host window never sees the hot host's full
    # frontier: phase 1 pre-prunes to <= 16 * budget rows per host
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2  # salted phase + exact phase


def test_doc_shingles_plan_keeps_projection_boundary(spark):
    """Regression guard for the round-3 shingle fix: the token array must
    materialize in its OWN Project below the explode - if CollapseProject
    ever inlines the split() into the slice lambda again, codegen re-splits
    the text once per shingle position (measured 6x on the sf0.1 explode).
    The guard: exactly one split() in the optimized plan, living in a
    Project (the _toks alias), not inside the transform lambda."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        doc_shingles,
    )

    docs = spark.createDataFrame([(1, "a b c d e")],
                                 "doc_id long, text string")
    plan = (doc_shingles(docs)._jdf.queryExecution()
            .optimizedPlan().toString())
    assert plan.count("split(") == 1
    assert "_toks" in plan  # the projection boundary survived optimization
    gen = [ln for ln in plan.splitlines() if "explode(" in ln]
    assert gen and "split(" not in gen[0]  # no tokenizer inside the lambda


def test_small_frontier_url_pushdown_reaches_parquet(spark, tmp_path):
    """Point-lookup pushdown (round-4): a small frontier's url list must
    reach the parquet scan as PushedFilters In(url, ...) - on the
    url-sorted bucket layout that prunes the lookup to the row groups
    actually holding those urls; big frontiers skip the gate entirely."""
    from pyspark.sql import functions as F

    from high_performance_parallel_search_engine_spark.operators.crawl import (
        URL_PUSHDOWN_MAX,
        CrawlConfig,
        CrawlState,
        _prune_and_pushdown,
    )
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df,
        page_url,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        read_bucketed_pages,
        write_bucketed_pages,
    )

    df = build_corpus_df(spark, n_hosts=2, pages_per_host=40, n_medium=0,
                         with_oracle_text=False)
    write_bucketed_pages(df.select("url", "warc_ts", "html", "lang"),
                         str(tmp_path / "p"), n_buckets=8)
    pages, _ = read_bucketed_pages(spark, str(tmp_path / "p"))
    # sorted layout is recorded in the bucketing meta
    import json as _json
    meta = _json.loads((tmp_path / "p" / "_bucketing.json").read_text())
    assert meta["sorted_by"] == "url"

    fr = spark.createDataFrame([(page_url(0, i),) for i in range(3)],
                               "url string")
    # pages_buckets=None: the url pushdown alone, no bucket pruning
    small, applied, _ = _prune_and_pushdown(
        pages, fr, CrawlConfig(pages_buckets=None),
        CrawlState(next_frontier_rows=3))
    assert applied
    plan = small._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan_lines and any("In(url" in ln for ln in scan_lines)
    # the session's raised inFilterThreshold keeps a chunk-sized list
    # pushable (the default 10 would degrade it to a min/max range)
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        URL_PUSHDOWN_CHUNK,
    )
    assert int(spark.conf.get(
        "spark.sql.parquet.pushdown.inFilterThreshold")) >= URL_PUSHDOWN_CHUNK
    # JVM-safety bound: parquet-mr evaluates the lowered left-deep Or tree
    # recursively (stack depth O(N)); a single 4096-url In overflowed the
    # ~1 MB task stack in the round-4 bench (StackOverflowError in
    # FileScanRDD). 512 keeps ~3x headroom - do not raise without
    # re-measuring; bigger frontiers must go through the chunked union.
    assert URL_PUSHDOWN_CHUNK <= 512
    # semantics: the filter keeps exactly the frontier's pages
    assert small.count() == 3

    # a frontier above the chunk size splits into a union of bounded-depth
    # In scans - every branch's filter reaches parquet, none exceeds the
    # chunk cap (the JVM-safe Or-tree depth)
    n_mid = URL_PUSHDOWN_CHUNK + 7
    fr_mid = spark.createDataFrame(
        [(page_url(0, i),) for i in range(n_mid)], "url string")
    # url_pushdown_max=None: the JVM-safe max (the "auto" default resolves
    # to one chunk on this small-file table and would skip a 519-url list)
    wide = CrawlConfig(pages_buckets=None, url_pushdown_max=None)
    mid, _, _ = _prune_and_pushdown(pages, fr_mid, wide,
                                    CrawlState(next_frontier_rows=n_mid))
    mid_plan = mid._jdf.queryExecution().executedPlan().toString()
    mid_scans = [ln for ln in mid_plan.splitlines() if "PushedFilters" in ln]
    assert len(mid_scans) == 2 and all("In(url" in ln for ln in mid_scans)
    # pages_per_host=40 in this corpus: only 40+40 urls actually exist, and
    # the two disjoint chunks must not double-count any of them
    assert mid.count() == mid.select("url").distinct().count()

    big, applied, _ = _prune_and_pushdown(
        pages, fr, wide, CrawlState(next_frontier_rows=URL_PUSHDOWN_MAX + 1))
    assert big is pages and not applied  # gate skipped - no collect/filter


def test_pair_operators_scan_corpus_once(spark, tmp_path):
    """The pair family (minhash LSH, ngram Jaccard, cosine near-dup, LSH
    top-k) branches its expensive base table into a hot-key aggregation,
    an anti-join and a self-join. Without a checkpoint at the branch
    point Catalyst re-derives the base per branch - measured 4 full
    corpus scans per query before round 4. Guard: the executed plan
    contains ZERO direct scans of the source parquet (the single scan
    happens inside the lazily-materialized checkpoint)."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        cosine_near_dup_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from high_performance_parallel_search_engine_spark.operators.similarity import (
        lsh_cosine_topk,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i % 7}")
         for i in range(40)], "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs.parquet"))
    emb = spark.createDataFrame(
        [(i, [float((i * 31 + j * 7) % 13 - 6) for j in range(64)])
         for i in range(40)], "vec_id long, embedding array<double>")
    emb.write.mode("overwrite").parquet(str(tmp_path / "emb.parquet"))
    docs_p = spark.read.parquet(str(tmp_path / "docs.parquet"))
    emb_p = spark.read.parquet(str(tmp_path / "emb.parquet"))

    cases = {
        "minhash_lsh_pairs": minhash_lsh_pairs(docs_p),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs_p),
        "cosine_near_dup_pairs": cosine_near_dup_pairs(emb_p),
        "lsh_cosine_topk": lsh_cosine_topk(emb_p, query_ids=[1, 2]),
    }
    for name, df in cases.items():
        df.count()  # materializes the checkpoint + executes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        for src in ("docs.parquet", "emb.parquet"):
            assert plan.count(src) == 0, \
                f"{name}: {plan.count(src)} direct scans of {src}"


def test_prune_and_pushdown_regimes(spark, tmp_path):
    """_prune_and_pushdown (one driver job) keeps exactly the expected
    pages in every regime: both narrowings or url pushdown only -> the
    frontier's urls; bucket pruning only (frontier above the pushdown
    cap) -> the pages in the frontier's buckets; neither (big frontier)
    -> all pages. scan_bounded and k_files follow the regime too."""
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlConfig,
        CrawlState,
        _prune_and_pushdown,
    )
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df,
        page_url,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        read_bucketed_pages,
        write_bucketed_pages,
    )

    df = build_corpus_df(spark, n_hosts=2, pages_per_host=40, n_medium=0,
                         with_oracle_text=False)
    write_bucketed_pages(df.select("url", "warc_ts", "html", "lang"),
                         str(tmp_path / "p"), n_buckets=8)
    bucketed, nb = read_bucketed_pages(spark, str(tmp_path / "p"))

    def urls_of(pages):
        return sorted(r["url"] for r in pages.select("url").collect())

    fr_urls = sorted(page_url(h, i) for h in range(2) for i in range(5))
    fr = spark.createDataFrame([(u,) for u in fr_urls], "url string")
    # expected sets from the table's own bucket column, not from the
    # function's hash: every page, and the pages sharing a frontier bucket
    rows = bucketed.select("url", "bucket").collect()
    all_urls = sorted(r["url"] for r in rows)
    fr_bks = {r["bucket"] for r in rows if r["url"] in set(fr_urls)}
    bucket_urls = sorted(r["url"] for r in rows if r["bucket"] in fr_bks)
    assert len(fr_bks) < nb  # the frontier misses buckets: pruning bites
    cases = [
        # (config, frontier rows, expected regime: prune, push)
        (CrawlConfig(pages_buckets=nb), 10, True, True),        # both
        (CrawlConfig(pages_buckets=nb, url_pushdown_max=4), 10,
         True, False),          # prune-only: frontier above the pushdown cap
        (CrawlConfig(pages_buckets=None), 10, False, True),    # push-only
        (CrawlConfig(pages_buckets=nb), 10_000, False, False),  # neither
        # threshold boundaries (ADVICE r4 #4): the regime flips exactly
        # at the boundary, not only inside/outside it
        (CrawlConfig(pages_buckets=nb), 4 * nb, True, True),    # n == 4*B
        (CrawlConfig(pages_buckets=nb), 4 * nb + 1, False, True),
        (CrawlConfig(pages_buckets=nb, url_pushdown_max=10), 10,
         True, True),           # n == pushdown cap exactly
    ]
    for cfg, n, prune, push in cases:
        got, bounded, k_files = _prune_and_pushdown(
            bucketed, fr, cfg, CrawlState(next_frontier_rows=n))
        key = (cfg.pages_buckets, cfg.url_pushdown_max, n)
        want = fr_urls if push else bucket_urls if prune else all_urls
        assert urls_of(got) == want, key
        assert bounded == (prune or push), key
        # k_files: the kept bucket count when pruning applied; the full
        # bucket count for a pushdown-only scan of a table configured as
        # bucketed; None otherwise (unbounded scan, or pages_buckets=None)
        assert k_files == (len(fr_bks) if prune
                           else nb if push and cfg.pages_buckets
                           else None), key
    # the both-gates regime actually filters down to the frontier's pages
    # and reports the scan as bounded (the coalesce-gate contract)
    st = CrawlState(next_frontier_rows=10)
    both, bounded, k_files = _prune_and_pushdown(bucketed, fr,
                                                 CrawlConfig(pages_buckets=nb),
                                                 st)
    assert both.count() == 10 and bounded
    assert k_files is not None and k_files <= nb
    # neither-regime: full scan, NOT bounded -> coalesce must not apply
    st_big = CrawlState(next_frontier_rows=10_000)
    full, bounded, k_files = _prune_and_pushdown(bucketed, fr,
                                                 CrawlConfig(pages_buckets=nb),
                                                 st_big)
    assert full is bucketed and not bounded and k_files is None


def test_coalesce_only_when_scan_bounded(spark):
    """ADVICE r4 #1: the small-round coalesce must NOT serialize an
    unbounded corpus scan. With scan_bounded=False (e.g. 513-4096-url
    frontier over the default pushdown cap on an unbucketed table) the
    partitioning stays untouched; with scan_bounded=True small rounds
    coalesce to ~n//128 tasks."""
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlState,
        _coalesce_small_round,
    )

    df = spark.range(10_000).repartition(32)
    st = CrawlState(next_frontier_rows=1024)
    kept = _coalesce_small_round(df, st, scan_bounded=False)
    assert kept.rdd.getNumPartitions() == 32
    squeezed = _coalesce_small_round(df, st, scan_bounded=True)
    assert squeezed.rdd.getNumPartitions() == max(2, 1024 // 128)
    # big rounds keep parallelism regardless
    big = _coalesce_small_round(df, CrawlState(next_frontier_rows=5000),
                                scan_bounded=True)
    assert big.rdd.getNumPartitions() == 32
    # k_files floors the task count: a 150-url frontier that still hashes
    # into 58 bucket files must NOT serialize ~all corpus bytes into 2
    # tasks (each file may be a fat row group at large page sizes)
    st150 = CrawlState(next_frontier_rows=150)
    spread = _coalesce_small_round(df, st150, scan_bounded=True, k_files=58)
    assert spread.rdd.getNumPartitions() == max(2, 150 // 128, (58 + 1) // 2)
    # ...while a genuinely tiny scan (8 files) still merges near-empty
    # Arrow batches
    tiny = _coalesce_small_round(df, CrawlState(next_frontier_rows=8),
                                 scan_bounded=True, k_files=8)
    assert tiny.rdd.getNumPartitions() == 4


def test_minhash_family_candidate_quality(spark):
    """Permutation-family quality guard: on a corpus of distinct docs plus
    one true near-dup pair, LSH candidates must contain the dup pair and
    NOT explode with false positives. A correlated family (e.g. the
    additive h1 + j*h2 construction trialled in round 4) shares argmins
    across the permutations inside a band, inflating spurious bucket
    collisions ~7x - this test rejects such a family."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    rows = []
    for i in range(80):  # distinct docs: disjoint-ish word windows
        ws = [words[(i * 3 + j) % len(words)] + str(i * 7 + j)
              for j in range(12)]
        rows.append((i, " ".join(ws)))
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows.append((1000, base))
    rows.append((1001, base + " extra"))  # near-dup of 1000
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = [(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(docs).collect()]
    assert (1000, 1001) in pairs          # recall: the true near-dup found
    # precision: distinct docs share no shingles - any other pair is a
    # family artifact; allow a couple of flukes, reject an explosion
    assert len(pairs) <= 3, f"family produced {len(pairs)} candidate pairs"


def test_ngram_jaccard_hashed_equals_raw_shingles(spark):
    """The production gate compares hashed-shingle Jaccard on both engines
    (ADVICE r4: a 2^-60 collision would fold identically on both sides, so
    the gate checks the hashed-universe measure). This is the independent
    cross-check on the ORIGINAL string-shingle semantics: a pure-Python
    raw-shingle-set reference must match the operator's output exactly on a
    corpus with real overlaps."""
    import itertools
    import re

    from high_performance_parallel_search_engine_spark.kernel.text import TOKEN_SPLIT_REGEX

    base = "one two three four five six seven eight nine ten"
    rows = [
        (0, base),
        (1, base + " eleven"),                       # high overlap with 0
        (2, "one two three four totally different tail here"),
        (3, "disjoint words entirely unrelated to all others"),
        (4, base),                                   # exact dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                 for r in D.ngram_jaccard_pairs(
                     docs, threshold=0.1, max_shingle_df=None).collect())

    def shingles(text):
        toks = [t for t in re.split(TOKEN_SPLIT_REGEX, text) if t]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    want = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if not inter:
            continue
        j = round(inter / len(sets[a] | sets[b]), 6)
        if j >= 0.1:
            want.append((a, b, j))
    assert got == sorted(want)
    assert any(a == 0 and b == 4 and j == 1.0 for a, b, j in want)


def test_bm25_df_map_path_matches_df_table_and_cold(spark, docs):
    """The driver-side df_map warm path (EngineState dashboard) must score
    identically to the df_table warm path and the cold inline-df path -
    single query, fallback query, and the 8-query batch plan."""
    postings = IX.build_postings(docs)
    stats = IX.build_doc_stats(docs)
    dfs = IX.term_df(postings)
    df_map = dict((r["term"], r["df"]) for r in dfs.collect())

    def key(rows):
        return [(r["doc_id"], round(r["score"], 9)) for r in rows]

    for q, fb in [("spark join window stream", False),
                  ("joins windows", True),      # both terms retry
                  ("join windows", True),       # primary beats retry
                  ("absent absent", True),      # nothing resolves
                  ("", False)]:
        cold = RK.rank_bm25(postings, stats, q, top_k=5,
                            fallback=fb).collect()
        warm_tbl = RK.rank_bm25(postings, stats, q, top_k=5, fallback=fb,
                                df_table=dfs).collect()
        warm_map = RK.rank_bm25(postings, stats, q, top_k=5, fallback=fb,
                                df_map=df_map).collect()
        assert key(cold) == key(warm_tbl) == key(warm_map), q

    queries = ["spark join window stream", "join join vector",
               "totally unrelated", "zzz nothing"]
    bkey = lambda rows: sorted(
        (r["query_id"], r["rk"], r["doc_id"], round(r["score"], 9))
        for r in rows)
    b_cold = RK.rank_bm25_batch(postings, stats, queries, top_k=3).collect()
    b_tbl = RK.rank_bm25_batch(postings, stats, queries, top_k=3,
                               df_table=dfs).collect()
    b_map = RK.rank_bm25_batch(postings, stats, queries, top_k=3,
                               df_map=df_map).collect()
    assert bkey(b_cold) == bkey(b_tbl) == bkey(b_map)

    # batch fallback parity (the /api/search batch form must rank each
    # query exactly like the single form, which uses fallback=True):
    # per-query batch results == the single-query results, on queries
    # where only the plural/singular retry resolves
    fb_queries = ["joins windows", "join windows", "spark streams",
                  "absent absent"]
    for path in ({"df_table": dfs}, {"df_map": df_map}, {}):
        got = RK.rank_bm25_batch(postings, stats, fb_queries, top_k=5,
                                 fallback=True, **path).collect()
        for qid, q in enumerate(fb_queries):
            single = RK.rank_bm25(postings, stats, q, top_k=5,
                                  fallback=True, **path).collect()
            mine = sorted(((r["rk"], r["doc_id"], round(r["score"], 9))
                           for r in got if r["query_id"] == qid))
            assert mine == [(i + 1, r["doc_id"], round(r["score"], 9))
                            for i, r in enumerate(single)], (q, path.keys())


def test_bm25_df_map_single_job_plan(spark, docs):
    """df_map path over a warm (cached) index, as EngineState serves it:
    no vocab-table scan, no pref window, no per-query df aggregate - the
    optimized plan is exactly postings x literal candidates -> stats join
    -> score sum -> top-k."""
    postings = IX.build_postings(docs).cache()
    postings.count()
    stats = IX.build_doc_stats(docs).cache()
    stats.count()
    try:
        df_map = dict(
            (r["term"], r["df"]) for r in IX.term_df(postings).collect())
        total = stats.count()
        avg_dl = IX.avg_doc_len(stats, total)
        # the warm serving contract (EngineState/bench): corpus stats are
        # passed in, so the plan is exactly ONE aggregate (the score sum)
        out = RK.rank_bm25(postings, stats, "joins window", top_k=5,
                           fallback=True, df_map=df_map,
                           total_docs=total, avg_dl=avg_dl)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan      # pref resolution happened in Python
        # exactly one LOGICAL aggregate: the final per-doc score sum - no
        # per-query df aggregate. ("Aggregate [" is the logical-plan form;
        # the InMemoryRelation's embedded cached physical plan prints
        # "HashAggregate(", which must not count.)
        assert plan.count("Aggregate [") == 1
        # without warm stats, the 1-row corpus-stats aggregate rides the
        # SAME plan as a broadcast (r6: no separate collect job) - still
        # no per-query df aggregate over postings and no Window
        cold = RK.rank_bm25(postings, stats, "joins window", top_k=5,
                            fallback=True, df_map=df_map)
        cplan = cold._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in cplan
        assert cplan.count("Aggregate [") == 2
    finally:
        postings.unpersist()
        stats.unpersist()


def test_auto_pushdown_cap_resolution(spark, tmp_path):
    """url_pushdown_max="auto" resolves per-corpus from bucket-file sizes:
    small buckets (~one row group) keep the conservative one-chunk cap;
    buckets spanning many row groups (the 100 TB regime) get the wide cap
    so mid-size frontiers become O(k)-row-group point reads instead of
    whole-bucket scans. Explicit settings pass through untouched."""
    from high_performance_parallel_search_engine_spark.operators import crawl as C
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        read_bucketed_pages,
        write_bucketed_pages,
    )

    df = build_corpus_df(spark, n_hosts=2, pages_per_host=40, n_medium=0,
                         with_oracle_text=False)
    write_bucketed_pages(df.select("url", "warc_ts", "html", "lang"),
                         str(tmp_path / "p"), n_buckets=8)
    pages, nb = read_bucketed_pages(spark, str(tmp_path / "p"))

    cfg = C.CrawlConfig(pages_buckets=nb)  # default url_pushdown_max="auto"
    # tiny bucket files -> conservative one-chunk cap
    assert C.resolve_pushdown_max(pages, cfg) == C.URL_PUSHDOWN_CHUNK
    # same corpus judged against a tiny per-bucket threshold -> wide cap
    # (monkeypatch the constant rather than writing a 1 GB fixture)
    orig = C.AUTO_PUSHDOWN_BYTES_PER_BUCKET
    try:
        C.AUTO_PUSHDOWN_BYTES_PER_BUCKET = 1
        assert C.resolve_pushdown_max(pages, cfg) == C.URL_PUSHDOWN_MAX
    finally:
        C.AUTO_PUSHDOWN_BYTES_PER_BUCKET = orig
    # unbucketed table: no bucket layout to prune -> conservative
    flat = spark.read.parquet(str(tmp_path / "p")).drop("bucket")
    assert C.resolve_pushdown_max(
        flat, C.CrawlConfig()) == C.URL_PUSHDOWN_CHUNK
    # explicit settings pass through (int and None = JVM-safe max)
    assert C.resolve_pushdown_max(
        pages, C.CrawlConfig(pages_buckets=nb, url_pushdown_max=7)) == 7
    assert C.resolve_pushdown_max(
        pages, C.CrawlConfig(pages_buckets=nb,
                             url_pushdown_max=None)) is None
    # an unresolved "auto" reaching the scan narrowing (config used outside
    # run_crawl) behaves like the conservative one-chunk cap
    from high_performance_parallel_search_engine_spark.sources.synth import (
        page_url,
    )

    fr = spark.createDataFrame([(page_url(0, 0),)], "url string")
    for n, pushed in ((C.URL_PUSHDOWN_CHUNK, True),
                      (C.URL_PUSHDOWN_CHUNK + 1, False)):
        _, bounded, _ = C._prune_and_pushdown(
            flat, fr, C.CrawlConfig(), C.CrawlState(next_frontier_rows=n))
        assert bounded == pushed, n
    # run_crawl resolves "auto" into the manifests so resumes keep the
    # regime: drive a 2-round crawl and read the committed config back
    import json as _json

    wd = str(tmp_path / "wd")
    C.run_crawl(spark, pages, [page_url(0, 0)], wd,
                C.CrawlConfig(max_depth=2, max_pages=1 << 40,
                              failure_stop=1 << 40, arbitration="scale",
                              max_rounds=2, trace=False, pages_buckets=nb))
    m = _json.loads(
        (tmp_path / "wd" / "round=00000" / "manifest.json").read_text())
    assert m["config"]["url_pushdown_max"] == C.URL_PUSHDOWN_CHUNK


def test_interactive_query_conf_concurrent_restore(spark):
    """Session-global conf clamp must survive interleaved enter/exit from
    the threaded dashboard server: with naive save/restore, thread B's
    saved 'previous' is thread A's clamped value and the session ends up
    permanently clamped (r5 review finding). The refcounted form restores
    the ORIGINAL conf once the last context exits."""
    import threading as th

    from high_performance_parallel_search_engine_spark.operators.ranking import (
        interactive_query_conf,
    )

    orig_sp = spark.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    inside = th.Barrier(2)

    def worker():
        with interactive_query_conf(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            inside.wait(timeout=30)  # both threads inside simultaneously

    ts = [th.Thread(target=worker) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig_sp
    assert spark.conf.get("spark.sql.adaptive.enabled") == orig_aqe
