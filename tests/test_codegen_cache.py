"""The generated-code cache holds the engine's working set.

Whole-stage-codegen classes live in an LRU of
spark.sql.codegen.cache.maxEntries. At Spark's default of 100 a 2-round
exact crawl (~130-150 classes) or a serve request mix (~180) evicts its
own classes before it runs them again, so every repeat recompiles all of
them. build_session sizes the cache above that:

- build_session sets the cache size;
- a second identical 2-round exact crawl (robots, a `*` budget,
  compact_every=1) compiles 0 classes, read from its rounds'
  `codegen_compiles` in metrics.json;
- a repeated warm df_map rank_bm25 query plus rank_bm25_batch compiles 0;
- a pipeline that runs again under another whole-stage codegen stage id
  reuses its class (the id is kept out of the generated code).
"""

import json
from pathlib import Path

import pandas as pd
import pytest

from high_performance_parallel_search_engine_spark.operators import (
    index as IX,
)
from high_performance_parallel_search_engine_spark.operators import (
    ranking as RK,
)
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.session import (
    codegen_compiles,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    corpus_rows,
    page_url,
)

ROBOTS = [("host1.example.com", "disallow", "/p/1"),
          ("host2.example.com", "disallow", "/p/2")]


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = list(corpus_rows(with_oracle_text=False))
    pdf = pd.DataFrame(rows)[["url", "warc_ts", "html", "lang"]]
    return spark.createDataFrame(pdf).cache()


def test_build_session_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_renumbered_stage_reuses_its_class(spark):
    # the union's second child is the same pipeline as stage 1 of the
    # first query, numbered stage 2: with the id in the class name its
    # code text differs and it compiles again (2 here, one class per
    # class loader)
    def pipe():
        return spark.range(50).selectExpr("id * 3 AS x").where("x % 7 = 1")

    want = pipe().collect()
    c0 = codegen_compiles(spark)
    assert pipe().union(pipe()).collect() == want + want
    assert codegen_compiles(spark) - c0 == 0


def test_repeated_exact_crawl_compiles_nothing(spark, pages_df, tmp_path):
    config = CrawlConfig(arbitration="exact", max_depth=3, max_pages=10,
                         politeness={"*": 4}, robots=ROBOTS,
                         compact_every=1)
    seeds = [page_url(h, 0) for h in range(3)]
    compiles = []
    for run in ("first", "second"):
        wd = tmp_path / run
        state = run_crawl(spark, pages_df, seeds, str(wd), config)
        assert len(state.metrics) == 2
        on_disk = [json.loads(p.read_text())["codegen_compiles"]
                   for p in sorted(Path(wd).glob("round=0*/metrics.json"))]
        assert on_disk == [m["codegen_compiles"] for m in state.metrics]
        compiles.append(sum(on_disk))
    assert compiles[0] > 0          # the first crawl fills the cache
    assert compiles[1] == 0, compiles


def test_repeated_warm_bm25_compiles_nothing(spark, tmp_path):
    spark.createDataFrame(
        [(0, "spark join window stream"), (1, "join join vector hash"),
         (2, "window stream agg sort")],
        "doc_id long, text string").write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    postings = IX.build_postings(docs).cache()
    stats = IX.build_doc_stats(docs).cache()
    try:
        postings.count()
        total = stats.count()
        avg_dl = IX.avg_doc_len(stats, total)
        df_map = dict(
            (r["term"], r["df"]) for r in IX.term_df(postings).collect())

        def serve():
            with RK.interactive_query_conf(spark):
                one = RK.rank_bm25(postings, stats, "joins window",
                                   top_k=5, fallback=True, df_map=df_map,
                                   total_docs=total, avg_dl=avg_dl).collect()
            batch = RK.rank_bm25_batch(
                postings, stats, ["spark join", "window stream", "zzz"],
                top_k=3, fallback=True, df_map=df_map).collect()
            return one, batch

        want = serve()
        c0 = codegen_compiles(spark)
        assert serve() == want
        assert codegen_compiles(spark) - c0 == 0
    finally:
        postings.unpersist()
        stats.unpersist()
