"""The trace-mode round numbers without a numbering pass: event seq is
arithmetic on the dense frontier seq, and the next frontier is numbered
inside the exact arbitration pass.

- an invalid seed (the only row the validity gate can drop) placed before
  and between valid seeds, with a `*` budget that defers rows over several
  rounds, still reproduces the serial oracle event for event, and its
  url_seen set round by round;
- a fixed 2-round exact crawl (robots, `*` budget, binding max_pages)
  never calls the global numbering primitive and runs at most 20 Spark
  jobs per round; it builds the robots rules table once, not per round;
- every job an exact round starts, including the writes its thread pool
  runs, carries the caller's job group;
- scale arbitration in trace mode numbers its FIFO frontier densely too:
  with a links cap that never binds (so the revival quirk cannot occur)
  it reproduces the serial oracle; a priority policy, which only the
  exact pass applies, refuses an explicit arbitration='scale';
- throughput mode (trace=False), which always arbitrates with 'scale',
  refuses a priority policy and arbitration='exact'.
"""

import pandas as pd
import pytest

from high_performance_parallel_search_engine_spark.kernel.bfs import (
    crawl as oracle_crawl,
)
from high_performance_parallel_search_engine_spark.operators import crawl
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    corpus_rows,
    page_url,
)

ROWS = list(corpus_rows(with_oracle_text=False))
PAGES = {r["url"]: r["html"] for r in ROWS}
ROBOTS = [("host1.example.com", "disallow", "/p/1"),
          ("host2.example.com", "disallow", "/p/2")]


@pytest.fixture(scope="module")
def pages_df(spark):
    pdf = pd.DataFrame(ROWS)[["url", "warc_ts", "html", "lang"]]
    return spark.createDataFrame(pdf).cache()


def _events(spark, wd):
    return [tuple(r) for r in spark.read.parquet(f"{wd}/round=*/events.parquet")
            .select("seq", "round", "url", "parent_url", "depth", "host",
                    "action", "delay_ms").orderBy("seq").collect()]


def _url_seen_per_round(spark, wd, want):
    for rnd, seen in enumerate(want.url_seen_rounds):
        deltas = [f"{wd}/round=-0001/url_seen_delta.parquet"] + [
            f"{wd}/round={r:05d}/url_seen_delta.parquet"
            for r in range(rnd + 1)]
        assert {r["url"] for r in spark.read.parquet(*deltas).collect()} \
            == seen, f"url_seen mismatch at round {rnd}"


def test_invalid_seeds_and_deferrals_parity(spark, pages_df, tmp_path):
    blocked = "https://host0.example.com/files/report.pdf"
    seeds = [blocked, page_url(0, 0), page_url(0, 1),
             "https://host1.example.com/img/logo.png", page_url(1, 0),
             page_url(0, 2), page_url(2, 0)]
    pol = {"*": 2}
    wd = str(tmp_path / "crawl")
    state = run_crawl(spark, pages_df, seeds, wd, CrawlConfig(
        arbitration="exact", max_depth=3, max_pages=60, politeness=pol))
    want = oracle_crawl(PAGES, seeds, max_depth=3, max_pages=60,
                        politeness=pol)
    got = _events(spark, wd)
    assert got == [(e.seq, e.round, e.url, e.parent_url, e.depth, e.host,
                    e.action, e.delay_ms) for e in want.events]
    assert state.pages_crawled == want.pages_crawled
    # the shape this case exists for: dropped seeds, deferrals in >= 2
    # rounds
    assert blocked not in {e[2] for e in got}
    assert len({e[1] for e in got if e[6] == "deferred"}) >= 2
    _url_seen_per_round(spark, wd, want)


def test_trace_scale_arbitration_parity(spark, pages_df, tmp_path):
    seeds = [page_url(0, 0), page_url(1, 0), page_url(2, 0)]
    pol = {"*": 3}
    wd = str(tmp_path / "crawl")
    state = run_crawl(spark, pages_df, seeds, wd, CrawlConfig(
        arbitration="scale", max_depth=3, max_pages=60, politeness=pol,
        max_links_per_page=1000))
    want = oracle_crawl(PAGES, seeds, max_depth=3, max_pages=60,
                        politeness=pol, max_links_per_page=1000)
    assert _events(spark, wd) == [
        (e.seq, e.round, e.url, e.parent_url, e.depth, e.host, e.action,
         e.delay_ms) for e in want.events]
    assert state.pages_crawled == want.pages_crawled
    _url_seen_per_round(spark, wd, want)


def test_priority_refuses_scale_arbitration(spark, pages_df, tmp_path):
    config = CrawlConfig(arbitration="scale", max_depth=3, max_pages=60,
                         priority=True)
    with pytest.raises(ValueError, match="exact arbitration"):
        run_crawl(spark, pages_df, [page_url(0, 0)], str(tmp_path / "c"),
                  config)


@pytest.mark.parametrize("kw", [{"priority": True},
                                {"priority": "openmp"},
                                {"arbitration": "exact"}])
def test_throughput_mode_refuses_priority_and_exact(spark, pages_df,
                                                    tmp_path, kw):
    # trace=False always arbitrates with 'scale', which applies neither
    config = CrawlConfig(max_depth=3, max_pages=1 << 40,
                         failure_stop=1 << 40, trace=False, **kw)
    with pytest.raises(ValueError, match="trace=True"):
        run_crawl(spark, pages_df, [page_url(0, 0)], str(tmp_path / "c"),
                  config)


def test_exact_round_job_floor(spark, pages_df, tmp_path, monkeypatch):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = []
    run_round = crawl.run_round

    def counted(*a, **k):
        j0 = dag.numTotalJobs()
        m = run_round(*a, **k)
        jobs.append(dag.numTotalJobs() - j0)
        return m

    def numbering(*a, **k):
        raise AssertionError("with_global_seq_counted called")

    built = []
    robots_table = crawl.robots_table

    def robots_built(*a, **k):
        built.append(1)
        return robots_table(*a, **k)

    monkeypatch.setattr(crawl, "run_round", counted)
    monkeypatch.setattr(crawl, "with_global_seq_counted", numbering)
    monkeypatch.setattr(crawl, "robots_table", robots_built)
    config = CrawlConfig(arbitration="exact", max_depth=3, max_pages=10,
                         politeness={"*": 4}, robots=ROBOTS)
    seeds = [page_url(h, 0) for h in range(3)]
    state = run_crawl(spark, pages_df, seeds, str(tmp_path / "c"), config)
    assert state.stopped == "max_pages" and len(state.metrics) == 2
    assert {"deferred", "robots_denied"} <= {
        a for m in state.metrics for a in m["events"]}
    assert all(n <= 20 for n in jobs), jobs
    assert len(built) == 1      # once per crawl, not per round


def test_round_jobs_keep_caller_job_group(spark, pages_df, tmp_path):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    config = CrawlConfig(arbitration="exact", max_depth=3, max_pages=60,
                         politeness={"*": 4}, robots=ROBOTS, max_rounds=1)
    sc.setJobGroup("crawl-under-test", "one exact round")
    try:
        j0 = jsc.dagScheduler().numTotalJobs()
        state = run_crawl(spark, pages_df, [page_url(h, 0) for h in range(3)],
                          str(tmp_path / "c"), config)
        j1 = jsc.dagScheduler().numTotalJobs()
    finally:
        jsc.clearJobGroup()
    assert len(state.metrics) == 1 and state.next_frontier_rows > 0
    jsc.listenerBus().waitUntilEmpty()
    grouped = set(sc.statusTracker().getJobIdsForGroup("crawl-under-test"))
    assert j1 > j0 and set(range(j0, j1)) <= grouped, \
        sorted(set(range(j0, j1)) - grouped)
