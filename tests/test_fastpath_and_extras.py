"""Coverage for the throughput round path, multimodal plumbing, and
physical plan shapes."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from high_performance_parallel_search_engine_spark.kernel.bfs import crawl as oracle_crawl
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    corpus_rows,
    page_url,
)


def _pages_df(spark, rows):
    pdf = pd.DataFrame(rows)[["url", "warc_ts", "html", "lang"]]
    return spark.createDataFrame(pdf)


def test_fast_round_matches_oracle_fetch_set(spark, tmp_path):
    """trace=False + scale arbitration must fetch the same URL SET as the
    serial oracle (order may differ; the set and counts may not) on a
    dedup-heavy zipf corpus."""
    rows = list(corpus_rows(n_hosts=2, pages_per_host=40, n_medium=6,
                            with_oracle_text=False))
    pages = {r["url"]: r["html"] for r in rows}
    seeds = [page_url(0, 0), page_url(1, 0)]
    expected = oracle_crawl(pages, seeds, max_depth=4, max_pages=1 << 40,
                            failure_stop=1 << 40)
    wd = str(tmp_path / "fast")
    state = run_crawl(spark, _pages_df(spark, rows), seeds, wd,
                      CrawlConfig(max_depth=4, max_pages=1 << 40,
                                  failure_stop=1 << 40, arbitration="scale",
                                  max_rounds=6, trace=False))
    got = {r["url"] for r in
           spark.read.parquet(f"{wd}/round=*/pages.parquet").collect()}
    assert got == set(expected.fetch_order)
    assert state.pages_crawled == expected.pages_crawled


def test_fast_round_resume(spark, tmp_path):
    rows = list(corpus_rows(n_hosts=1, pages_per_host=30, n_medium=0,
                            with_oracle_text=False))
    seeds = [page_url(0, 0)]
    cfg = CrawlConfig(max_depth=3, max_pages=1 << 40, failure_stop=1 << 40,
                      arbitration="scale", trace=False, max_rounds=1)
    wd = str(tmp_path / "r")
    run_crawl(spark, _pages_df(spark, rows), seeds, wd, cfg)
    import json
    from pathlib import Path
    for mf in Path(wd).glob("round=*/manifest.json"):
        m = json.loads(mf.read_text())
        m["config"]["max_rounds"] = 8
        mf.write_text(json.dumps(m))
    state = run_crawl(spark, _pages_df(spark, rows), seeds, wd, resume=True)
    assert state.stopped == "frontier_empty"
    expected = oracle_crawl({r["url"]: r["html"] for r in rows}, seeds,
                            max_depth=3, max_pages=1 << 40,
                            failure_stop=1 << 40)
    got = {r["url"] for r in
           spark.read.parquet(f"{wd}/round=*/pages.parquet").collect()}
    assert got == set(expected.fetch_order)


def test_multimodal_feature_plumbing(spark):
    from high_performance_parallel_search_engine_spark.operators.multimodal import (
        extract_features,
        synth_media_df,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["abc", "defg", "hi"]}))
    media = synth_media_df(spark, docs)
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 3
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["n_bytes"] == 3
    assert len(by_id[1]["feature"]) == 8
    # stubbed codec seam raises without fake mode
    from high_performance_parallel_search_engine_spark.operators.multimodal import (
        _decode_stub,
    )

    with pytest.raises(NotImplementedError):
        _decode_stub(b"x", "image", fake=False)


def test_plan_shapes(spark):
    """Physical-plan assertions: broadcast joins where intended, codegen on
    the Column-only hot path, filter pushdown to parquet scans."""
    from high_performance_parallel_search_engine_spark.oracles import QUERIES
    from high_performance_parallel_search_engine_spark.plans.lineage import (
        plan_checks,
    )

    sf = "/root/testdata/sf0.001"
    bm25 = QUERIES["bm25_topk"](spark, sf)
    c = plan_checks(bm25)
    assert c["whole_stage_codegen"]
    assert c["broadcast_joins"] >= 2  # query terms + df table broadcast

    li = QUERIES["lineitem_agg"](spark, sf)
    c2 = plan_checks(li)
    assert c2["pushed_filters"], "shipdate filter must push to the scan"
    assert c2["python_evals"] == 0, "relational path must stay JVM-side"

    urls = QUERIES["url_normalize"](spark, sf)
    c3 = plan_checks(urls)
    assert c3["python_evals"] == 0, "canonicalization hot path is codegen"
    assert c3["shuffles"] == 0, "per-row projection must not shuffle"


def test_priority_mode_exact_parity(spark, tmp_path, pages_df=None):
    """Priority scheduling (classifier + host in-degree + recency) must
    match the oracle EVENT-FOR-EVENT, not just per-round sets."""
    rows = list(corpus_rows(n_hosts=2, pages_per_host=30, n_medium=8,
                            with_oracle_text=False))
    pages = {r["url"]: r["html"] for r in rows}
    seeds = ["https://medium.com/@user0", page_url(0, 0)]
    expected = oracle_crawl(pages, seeds, max_depth=3, max_pages=10_000,
                            priority=True)
    wd = str(tmp_path / "prio")
    run_crawl(spark, _pages_df(spark, rows), seeds, wd,
              CrawlConfig(max_depth=3, max_pages=10_000, priority=True))
    got = [
        (r["seq"], r["url"], r["action"]) for r in
        spark.read.parquet(f"{wd}/round=*/events.parquet")
        .orderBy("seq").collect()]
    want = [(e.seq, e.url, e.action) for e in expected.events]
    assert got == want


def test_bucketed_pages_crawl_parity(spark, tmp_path, monkeypatch):
    """A bucket-partitioned pages table (partition-pruned fetch scans) must
    produce the identical event trace as the plain table. The crawl takes
    the bucket count from the frame read_bucketed_pages returns, and its
    small rounds really prune: some round's scan keeps fewer than B
    bucket files."""
    from high_performance_parallel_search_engine_spark.operators import (
        crawl as C,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        bucket_count,
        read_bucketed_pages,
        write_bucketed_pages,
    )

    rows = list(corpus_rows(n_hosts=2, pages_per_host=30, n_medium=6,
                            with_oracle_text=False))
    seeds = [page_url(0, 0), "https://medium.com/@user0"]
    plain = _pages_df(spark, rows)
    bpath = str(tmp_path / "bucketed_pages")
    write_bucketed_pages(plain, bpath, n_buckets=16)
    bucketed = read_bucketed_pages(spark, bpath)
    nb = bucket_count(bucketed)
    assert nb == 16 and "bucket" in bucketed.columns

    k_files = []
    narrow = C._prune_and_pushdown

    def recording(*a):
        out = narrow(*a)
        k_files.append(out[2])
        return out

    monkeypatch.setattr(C, "_prune_and_pushdown", recording)
    w1 = str(tmp_path / "plain")
    w2 = str(tmp_path / "bkt")
    run_crawl(spark, plain, seeds, w1,
              CrawlConfig(max_depth=3, max_pages=10_000))
    assert k_files and all(k is None for k in k_files)  # unbucketed
    k_files.clear()
    run_crawl(spark, bucketed, seeds, w2,
              CrawlConfig(max_depth=3, max_pages=10_000))
    assert any(k is not None and k < nb for k in k_files), k_files
    ev1 = [(r["seq"], r["url"], r["action"]) for r in
           spark.read.parquet(f"{w1}/round=*/events.parquet")
           .orderBy("seq").collect()]
    ev2 = [(r["seq"], r["url"], r["action"]) for r in
           spark.read.parquet(f"{w2}/round=*/events.parquet")
           .orderBy("seq").collect()]
    assert ev1 == ev2 and len(ev1) > 0
    # fast path too
    w3 = str(tmp_path / "bkt_fast")
    st = run_crawl(spark, bucketed, seeds, w3,
                   CrawlConfig(max_depth=3, max_pages=1 << 40,
                               failure_stop=1 << 40, arbitration="scale",
                               trace=False))
    fetched_fast = {r["url"] for r in
                    spark.read.parquet(f"{w3}/round=*/pages.parquet")
                    .select("url").collect()}
    fetched_exact = {u for (_, u, a) in ev1 if a == "fetched"}
    assert fetched_fast == fetched_exact


def test_openmp_priority_mode_exact_parity(spark, tmp_path):
    """priority='openmp' (combined insertion policy, OpenMP Version/src/
    crawler.c:693-731) must match the oracle EVENT-FOR-EVENT."""
    rows = list(corpus_rows(n_hosts=2, pages_per_host=30, n_medium=8,
                            with_oracle_text=False))
    pages = {r["url"]: r["html"] for r in rows}
    seeds = ["https://medium.com/@user0", page_url(0, 0)]
    expected = oracle_crawl(pages, seeds, max_depth=3, max_pages=10_000,
                            priority="openmp")
    wd = str(tmp_path / "omp")
    run_crawl(spark, _pages_df(spark, rows), seeds, wd,
              CrawlConfig(max_depth=3, max_pages=10_000, priority="openmp"))
    got = [
        (r["seq"], r["url"], r["action"]) for r in
        spark.read.parquet(f"{wd}/round=*/events.parquet")
        .orderBy("seq").collect()]
    want = [(e.seq, e.url, e.action) for e in expected.events]
    assert got == want
    # the policy actually reorders vs plain FIFO for this corpus
    fifo = oracle_crawl(pages, seeds, max_depth=3, max_pages=10_000)
    assert [e.url for e in expected.events] != [e.url for e in fifo.events]


def test_openmp_insertion_order_kernel():
    from high_performance_parallel_search_engine_spark.kernel.urls import (
        openmp_insertion_order,
        url_diversity,
    )

    # scores: 1 appends, 7 inserts at front, 5 at n//4, 4 at n//2
    assert openmp_insertion_order([(1, 0), (1, 1), (1, 2)]) == [0, 1, 2]
    assert openmp_insertion_order([(1, 0), (7, 1)]) == [1, 0]
    # first element always appends even with a high score (url_count == 0)
    assert openmp_insertion_order([(7, 0), (1, 1)]) == [0, 1]
    # n=4 queue, score 5 -> pos 1; score 4 -> pos 2
    assert openmp_insertion_order(
        [(1, 0), (1, 1), (1, 2), (1, 3), (5, 4)]) == [0, 4, 1, 2, 3]
    assert openmp_insertion_order(
        [(1, 0), (1, 1), (1, 2), (1, 3), (4, 4)]) == [0, 1, 4, 2, 3]
    # diversity: /tag/ family wins over /@ when both match (C checks it first)
    assert url_diversity("https://a.com/tag/x/@y") == 2
    assert url_diversity("https://a.com/@y") == 3
    assert url_diversity("https://a.com/author/y") == 3
    assert url_diversity("https://a.com/plain") == 0


def test_url_seen_compaction_preserves_resume(spark, tmp_path):
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        compact_url_seen,
        load_state,
    )
    import json
    from pathlib import Path

    rows = list(corpus_rows(n_hosts=1, pages_per_host=40, n_medium=0,
                            with_oracle_text=False))
    pages = {r["url"]: r["html"] for r in rows}
    seeds = [page_url(0, 0)]
    # full reference run
    w_full = str(tmp_path / "full")
    run_crawl(spark, _pages_df(spark, rows), seeds, w_full,
              CrawlConfig(max_depth=4, max_pages=10_000))
    # partial run -> compact -> resume
    w_c = str(tmp_path / "compacted")
    run_crawl(spark, _pages_df(spark, rows), seeds, w_c,
              CrawlConfig(max_depth=4, max_pages=10_000, max_rounds=2))
    state, _, last = load_state(w_c)
    n = compact_url_seen(spark, w_c, last + 1)
    assert n > 0
    for mf in Path(w_c).glob("round=*/manifest.json"):
        m = json.loads(mf.read_text())
        m["config"]["max_rounds"] = 64
        mf.write_text(json.dumps(m))
    run_crawl(spark, _pages_df(spark, rows), seeds, w_c, resume=True)
    full_ev = [(r["seq"], r["url"], r["action"]) for r in
               spark.read.parquet(f"{w_full}/round=*/events.parquet")
               .orderBy("seq").collect()]
    comp_ev = [(r["seq"], r["url"], r["action"]) for r in
               spark.read.parquet(f"{w_c}/round=*/events.parquet")
               .orderBy("seq").collect()]
    assert full_ev == comp_ev


def test_auto_compaction_preserves_parity(spark, tmp_path):
    rows = list(corpus_rows(n_hosts=1, pages_per_host=40, n_medium=0,
                            with_oracle_text=False))
    pages = {r["url"]: r["html"] for r in rows}
    seeds = [page_url(0, 0)]
    expected = oracle_crawl(pages, seeds, max_depth=4, max_pages=10_000)
    wd = str(tmp_path / "ac")
    run_crawl(spark, _pages_df(spark, rows), seeds, wd,
              CrawlConfig(max_depth=4, max_pages=10_000, compact_every=2))
    got = [(r["seq"], r["url"], r["action"]) for r in
           spark.read.parquet(f"{wd}/round=*/events.parquet")
           .orderBy("seq").collect()]
    want = [(e.seq, e.url, e.action) for e in expected.events]
    assert got == want


def test_parse_robots_txt_semantics():
    from high_performance_parallel_search_engine_spark.operators.robots import (
        parse_robots_txt,
    )

    txt = """
# comment
User-agent: *
Disallow: /private/
Allow: /private/ok
Crawl-delay: 10

User-agent: otherbot
Disallow: /

User-agent: mybot
User-agent: *
Disallow: /tmp/
Disallow:
Sitemap: https://h/sitemap.xml
"""
    rules = parse_robots_txt("h.com", txt)
    assert ("h.com", "disallow", "/private/") in rules
    assert ("h.com", "allow", "/private/ok") in rules
    assert ("h.com", "disallow", "/tmp/") in rules          # multi-agent group
    assert all(p != "/" for _, _, p in rules)               # otherbot group skipped
    assert all(p for _, _, p in rules)                      # empty Disallow dropped
    assert parse_robots_txt("h", "", agent="x") == []
    # agent-specific group matches
    r2 = parse_robots_txt("h", "User-agent: MyBot\nDisallow: /a\n",
                          agent="mybot")
    assert r2 == [("h", "disallow", "/a")]


def test_robots_txt_df_drives_crawl_like_config_rules(spark, tmp_path):
    """Rules parsed from robots.txt bodies (distributed) must produce the
    same crawl as the equivalent hand-written config tuples."""
    from high_performance_parallel_search_engine_spark.operators.robots import (
        robots_rules_from_df,
    )

    rows = list(corpus_rows(n_hosts=2, pages_per_host=30, n_medium=0,
                            with_oracle_text=False))
    seeds = [page_url(0, 0), page_url(1, 0)]
    host0 = "host0.example.com"
    txt_df = spark.createDataFrame(
        [(host0, "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"),
         ("host1.example.com", "# allow everything\n")],
        "host string, robots_txt string")
    parsed = [(r["host"], r["rule"], r["path_prefix"])
              for r in robots_rules_from_df(txt_df).collect()]
    assert set(parsed) == {(host0, "disallow", "/p/1"),
                           (host0, "allow", "/p/12")}

    w1 = str(tmp_path / "parsed")
    w2 = str(tmp_path / "tuples")
    run_crawl(spark, _pages_df(spark, rows), seeds, w1,
              CrawlConfig(max_depth=3, max_pages=10_000, robots=parsed))
    run_crawl(spark, _pages_df(spark, rows), seeds, w2,
              CrawlConfig(max_depth=3, max_pages=10_000,
                          robots=[(host0, "disallow", "/p/1"),
                                  (host0, "allow", "/p/12")]))
    ev = lambda w: [(r["seq"], r["url"], r["action"]) for r in
                    spark.read.parquet(f"{w}/round=*/events.parquet")
                    .orderBy("seq").collect()]
    assert ev(w1) == ev(w2)
    assert any(a == "robots_denied" for _, _, a in ev(w1))


def test_kmeans_centroids_deterministic_and_improving(spark):
    """Lloyd-trained IVF: (a) bit-identical across runs (the integer
    floor-mean determinism contract), (b) quantization inertia does not
    increase, (c) trained centroids BALANCE the inverted lists - the seeded
    ones put most of the corpus in one list, so probing it re-scans the
    corpus; balance is what buys real nprobe pruning at 10^10 rows -
    and (d) trained-IVF top-k still returns well-formed rankings."""
    from pyspark.sql import functions as F

    from high_performance_parallel_search_engine_spark.operators.similarity import (
        _int_l2,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
        quant_col,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    c1 = kmeans_centroids(emb, n_lists=8, iters=3)
    c2 = kmeans_centroids(emb, n_lists=8, iters=3)
    assert c1 == c2  # determinism regardless of partitioning

    def inertia(cents):
        cdf = F.broadcast(spark.createDataFrame(
            [(j, c) for j, c in enumerate(cents)],
            "list_id int, cent array<bigint>"))
        return (emb.select(F.col("vec_id"),
                           quant_col(F.col("embedding")).alias("v"))
                .crossJoin(cdf)
                .withColumn("_d", _int_l2(F.col("v"), F.col("cent")))
                .groupBy("vec_id").agg(F.min("_d").alias("d"))
                .agg(F.sum("d")).collect()[0][0])

    assert inertia(c1) <= inertia(ivf_centroids(8))

    def max_list(cents):
        return max(r["count"] for r in
                   ivf_assign(emb, n_lists=8, centroids=cents)
                   .groupBy("list_id").count().collect())

    # measured on this corpus: seeded max list holds ~61% of all vectors
    # (probing it = rescanning the corpus); training cuts that sharply
    assert max_list(c1) < max_list(None)

    qids = [r["vec_id"] for r in emb.select("vec_id").limit(4).collect()]
    rows = ivf_topk(emb, qids, k=5, n_lists=8, nprobe=2,
                    centroids=c1).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert -1.0 <= r["cos"] <= 1.0
        by_q.setdefault(r["query_id"], []).append(r["rk"])
    for rks in by_q.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_kmeans_centroids_local_matches_spark(spark):
    """kmeans_centroids_local (the DuckDB-quantized numpy Lloyd loop that
    builds the ivf_topk_trained oracle's centroid literals) is bit-identical
    to the distributed Spark operator - at two shapes, including the
    gate's exact configuration (n_lists=16, iters=3)."""
    from high_performance_parallel_search_engine_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_centroids_local,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        for n_lists, iters in ((8, 2), (16, 3)):
            spark_c = kmeans_centroids(emb, n_lists=n_lists, iters=iters)
            local_c = kmeans_centroids_local(
                f"{sf_dir}/embeddings.parquet", n_lists=n_lists, iters=iters)
            assert spark_c == local_c, (sf_dir, n_lists, iters)


def test_ivf_topk_is_exact_cosine_within_the_probed_lists(spark):
    """ivf_topk returns, per query, the exact cosine top-k over the
    vectors assigned to that query's nprobe nearest lists (integer L2,
    ties to the lower list id), recomputed here on the driver; probing
    every list gives the brute-force cosine_topk."""
    from pyspark.sql import functions as F

    from high_performance_parallel_search_engine_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        quant_col,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [r["vec_id"] for r in
            emb.select("vec_id").orderBy("vec_id").limit(3).collect()]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(ivf_topk(emb, qids, k=5, n_lists=8, nprobe=8)) == \
        rows(cosine_topk(emb, qids, k=5))

    cents = ivf_centroids(8)
    qv = {r["vec_id"]: r["v"] for r in
          emb.where(F.col("vec_id").isin(qids))
          .select("vec_id", quant_col(F.col("embedding")).alias("v"))
          .collect()}
    lists = ivf_assign(emb, n_lists=8).cache()
    got = rows(ivf_topk(emb, qids, k=5, n_lists=8, nprobe=2))
    want = []
    for q in qids:
        d = [sum((a - b) ** 2 for a, b in zip(qv[q], c)) for c in cents]
        probed = sorted(range(8), key=lambda j: (d[j], j))[:2]
        ids = lists.where(F.col("list_id").isin(probed)).select("vec_id")
        # the probed lists' vectors, plus the query row when it sits in
        # a list it does not probe
        sub = emb.join(ids, "vec_id").where(F.col("vec_id") != q) \
            .unionByName(emb.where(F.col("vec_id") == q))
        assert sub.count() < emb.count()     # the probe prunes lists
        want += rows(cosine_topk(sub, [q], k=5))
    lists.unpersist()
    assert got == sorted(want)


def test_int_dot_and_int_l2_are_exact_integer_sums(spark):
    """The integer fold behind every cosine and IVF distance is an exact
    long sum, at the largest quantized magnitude the module's headroom
    note allows (64 dims of +-2^21)."""
    import random

    from high_performance_parallel_search_engine_spark.operators.similarity import (
        _int_l2,
        int_dot,
    )

    rng = random.Random(7)
    big = 1 << 21
    pairs = [([big] * 64, [-big] * 64),
             ([rng.randint(-big, big) for _ in range(64)],
              [rng.randint(-big, big) for _ in range(64)]),
             ([3, -1, 0], [2, 5, -7])]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)],
                               "i int, a array<long>, b array<long>")
    got = {r["i"]: (r["dot"], r["l2"]) for r in df.select(
        "i", int_dot(F.col("a"), F.col("b")).alias("dot"),
        _int_l2(F.col("a"), F.col("b")).alias("l2")).collect()}
    for i, (a, b) in enumerate(pairs):
        assert got[i] == (sum(x * y for x, y in zip(a, b)),
                          sum((x - y) ** 2 for x, y in zip(a, b)))


def test_cosine_topk_matches_driver_bruteforce(spark):
    """cosine_topk against a plain-Python brute force: per query the k
    best other vectors by cosine of the quantized vectors, ranked 1..k.
    Components are multiples of 1/8, so quantization is exact."""
    import math
    import random

    from high_performance_parallel_search_engine_spark.operators.similarity import (
        cosine_topk,
    )

    rng = random.Random(11)
    vecs = {i: [rng.randint(-400, 400) / 8 for _ in range(8)]
            for i in range(30)}
    emb = spark.createDataFrame(list(vecs.items()),
                                "vec_id long, embedding array<double>")
    qids = [0, 13, 29]
    got = sorted(tuple(r) for r in cosine_topk(emb, qids, k=5).collect())

    want = []
    for q in qids:
        qv = [round(x * 1_000_000) for x in vecs[q]]
        scored = []
        for n, v in vecs.items():
            if n == q:
                continue
            cv = [round(x * 1_000_000) for x in v]
            dot = sum(a * b for a, b in zip(qv, cv))
            scored.append((dot / math.sqrt(sum(a * a for a in qv))
                           / math.sqrt(sum(b * b for b in cv)), n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        want += [(q, n, c, rk) for rk, (c, n) in enumerate(scored[:5], 1)]
    assert [(q, n, rk) for q, n, _, rk in got] == \
        [(q, n, rk) for q, n, _, rk in sorted(want)]
    for (_, _, c_got, _), (_, _, c_want, _) in zip(got, sorted(want)):
        assert abs(c_got - c_want) <= 5e-7


def test_connected_components_and_survivors(spark):
    """Near-dup clustering: min-label propagation finds components across
    chained pairs (a-b, b-c => one cluster labeled by its min id),
    singletons label themselves, and dedup_survivors keeps exactly the
    min-id member of each cluster."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        connected_components,
        dedup_survivors,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string")
    # clusters: {0,1,2} via chain, {3,5} direct, {4},{6},{7} singletons;
    # chain 0-1, 1-2 requires 2 propagation rounds - exercises the loop
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 5)], "doc_a long, doc_b long")
    comp = connected_components(pairs, docs)
    got = {r["doc_id"]: (r["component"], r["keep"]) for r in comp.collect()}
    assert got == {0: (0, True), 1: (0, False), 2: (0, False),
                   3: (3, True), 4: (4, True), 5: (3, False),
                   6: (6, True), 7: (7, True)}
    # determinism across runs
    got2 = {r["doc_id"]: (r["component"], r["keep"])
            for r in connected_components(pairs, docs).collect()}
    assert got2 == got
    kept = sorted(r["doc_id"] for r in
                  dedup_survivors(docs, comp).select("doc_id").collect())
    assert kept == [0, 3, 4, 6, 7]


def test_connected_components_one_job_per_iteration(spark):
    """Round-5 verdict #4: convergence is detected by the monotone label
    SUM (one scalar agg on the new labels, fused with the lazy-checkpoint
    materialization), not a join+count against the previous labels. On a
    diameter-d chain the loop runs ~d+1 iterations; with ONE job each the
    total job count stays ~iters + setup, where the old join+count shape
    paid 2 jobs per iteration (>= 2*iters)."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        connected_components,
    )

    n = 12  # chain 0-1-...-11: diameter 11 -> >= 11 propagation rounds
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = "cc-jobcount"
    sc.setJobGroup(group, "connected components job count")
    try:
        comp = connected_components(pairs, docs)
        got = {r["doc_id"]: r["component"] for r in comp.collect()}
    finally:
        sc.setJobGroup(None, None)
    assert got == {i: 0 for i in range(n)}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # AQE fans each query into several stage-jobs, so the counts are not
    # 1-vs-2 per iteration but they separate cleanly: measured on this
    # exact 12-iteration chain, the sum-convergence shape runs 76 jobs
    # (~6.3/iter) where the old join+count-per-iteration shape ran 124
    # (~10.3/iter). 96 (= 8/iter) sits between the two: green for the
    # fused shape, red if the extra per-iteration join ever comes back.
    assert len(jobs) <= 96, f"{len(jobs)} jobs - iteration loop regressed?"


def test_merge_postings_replaces_recrawled_docs(spark):
    """Incremental index maintenance: a re-crawled doc's old postings are
    REPLACED (new page version wins), untouched docs keep theirs, and only
    the delta is tokenized (the old side enters as a postings table, not
    as text)."""
    from high_performance_parallel_search_engine_spark.operators.index import (
        build_postings,
        merge_postings,
    )

    old_corpus = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma delta oldword")],
        "doc_id long, text string")
    old_postings = build_postings(old_corpus)
    delta = spark.createDataFrame([(2, "gamma gamma newword")],
                                  "doc_id long, text string")
    merged = {(r["term"], r["doc_id"]): r["tf"]
              for r in merge_postings(old_postings, delta).collect()}
    assert merged[("alpha", 1)] == 1 and merged[("beta", 1)] == 2  # kept
    assert merged[("gamma", 2)] == 2 and merged[("newword", 2)] == 1
    assert ("oldword", 2) not in merged          # stale version replaced
    assert ("delta", 2) not in merged
    # equivalence with a full rebuild over the current corpus
    current = old_corpus.where("doc_id != 2").unionByName(delta)
    full = {(r["term"], r["doc_id"]): r["tf"]
            for r in build_postings(current).collect()}
    assert merged == full


# --- round-6 optimization internals: result-parity of the cheaper forms ----


def test_term_df_count_equals_distinct_count(spark):
    """r6: term_df computes df as count(*) over the unique-(term, doc_id)
    postings table; it must equal the literal countDistinct form."""
    from high_performance_parallel_search_engine_spark.operators.index import (
        build_postings,
        term_df,
    )

    docs = spark.createDataFrame(
        [(1, "spark join window spark"), (2, "join join stream"),
         (3, "window"), (4, "spark stream stream")],
        "doc_id long, text string")
    postings = build_postings(docs)
    got = {(r["term"], r["df"]) for r in term_df(postings).collect()}
    want = {(r["term"], r["df"]) for r in
            postings.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df")).collect()}
    assert got == want and got


def test_connected_components_duplicate_edges_identical(spark):
    """r6: connected_components dropped the edge .distinct() (pair families
    emit unique doc_a < doc_b rows). Duplicated edges from an external
    caller must still produce identical components."""
    from high_performance_parallel_search_engine_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    dup_pairs = pairs.unionByName(pairs).unionByName(pairs)
    base = {(r["doc_id"], r["component"], r["keep"])
            for r in connected_components(pairs, nodes).collect()}
    dup = {(r["doc_id"], r["component"], r["keep"])
           for r in connected_components(dup_pairs, nodes).collect()}
    assert base == dup
    assert (1, 1, True) in base and (2, 1, False) in base \
        and (3, 1, False) in base and (4, 4, True) in base \
        and (5, 5, True) in base and (6, 5, False) in base
