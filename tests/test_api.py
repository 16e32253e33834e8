"""S8 dashboard API (WebSite/api.py analog) end-to-end over HTTP."""

import json
import threading
import urllib.request


def _get(port, path):
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_api_crawl_search_metrics(spark, tmp_path):
    from high_performance_parallel_search_engine_spark.api import make_server

    srv = make_server(spark, str(tmp_path / "wd"), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        code, st = _get(port, "/api/status")
        assert code == 200 and st["status"] == "ok"
        assert st["committed_rounds"] == 0

        # the dashboard root (reference api.py:350-356 serves the WebSite/
        # SPA; here ONE self-contained page with a working search form,
        # compare button and status strip wired to the JSON API)
        import urllib.request as _ur
        with _ur.urlopen(f"http://127.0.0.1:{port}/", timeout=60) as r:
            assert r.status == 200
            page = r.read()
        assert b"/api/search" in page and b"/api/compare" in page
        assert b'id="searchform"' in page and b'name="query"' in page
        assert b"<form" in page and b"fetch(" in page

        # /api/crawl launches a crawl over the synthetic web
        code, cr = _post(port, "/api/crawl",
                         {"start_url": "https://host0.example.com/p/0",
                          "depth": 3, "max_pages": 30})
        assert code == 200 and cr["status"] == "ok"
        assert cr["pages_crawled"] > 0

        code, st2 = _get(port, "/api/status")
        assert st2["committed_rounds"] > 0

        code, m = _get(port, "/api/metrics")
        assert code == 200 and len(m["rounds"]) == st2["committed_rounds"]
        assert all("stage_wall" in r for r in m["rounds"])

        code, s = _post(port, "/api/search",
                        {"query": "crawl indexes bm25", "limit": 5})
        assert code == 200 and s["status"] == "ok"
        assert s["results"] and s["results"][0]["url"]
        assert s["query_time_ms"] > 0

        # batch form (round-4 verdict #8): 2 queries through
        # rank_bm25_batch in ONE postings pass, per-query timing share
        code, b = _post(port, "/api/search",
                        {"queries": ["crawl indexes bm25",
                                     "parallel search engine"], "limit": 5})
        assert code == 200 and b["status"] == "ok"
        assert b["batch_time_ms"] > 0 and b["per_query_ms"] > 0
        assert abs(b["per_query_ms"] - b["batch_time_ms"] / 2) < 0.02
        assert len(b["results"]) == 2
        assert b["results"][0]["query"] == "crawl indexes bm25"
        for entry in b["results"]:
            assert entry["results"] and entry["results"][0]["url"]
            assert len(entry["results"]) <= 5
        # batch result for a query == the single-query ranking
        assert ([r["doc_id"] for r in b["results"][0]["results"]]
                == [r["doc_id"] for r in s["results"]])
        # ...including when only the plural/singular fallback resolves the
        # term (single /api/search uses fallback=True; the batch form must
        # rank identically - it silently skipped the retry before r5)
        code, sf = _post(port, "/api/search", {"query": "bm25s", "limit": 5})
        code, bf = _post(port, "/api/search",
                         {"queries": ["bm25s"], "limit": 5})
        assert ([r["doc_id"] for r in bf["results"][0]["results"]]
                == [r["doc_id"] for r in sf["results"]])
        code, berr = _post(port, "/api/search", {"queries": []})
        assert code == 400 and berr["status"] == "error"

        # quoted query -> exact phrase search over the lazily-built
        # positional index (round 5): take two consecutive kept tokens
        # from a crawled page so the phrase provably exists
        from high_performance_parallel_search_engine_spark.kernel.text import (
            tokenize)
        txt = (spark.read.parquet(str(tmp_path / "wd") +
                                  "/round=*/pages.parquet")
               .select("text").limit(1).collect()[0]["text"])
        toks = tokenize(txt)
        phrase = f'"{toks[0]} {toks[1]}"'
        code, ph = _post(port, "/api/search", {"query": phrase, "limit": 5})
        assert code == 200 and ph["status"] == "ok" and ph["phrase"] is True
        assert ph["results"] and ph["results"][0]["n_occurrences"] >= 1
        assert ph["results"][0]["url"].startswith("https://")
        # a scrambled non-adjacent pair matches fewer (or no) docs
        code, ph2 = _post(port, "/api/search",
                          {"query": f'"{toks[1]} {toks[0]}"', "limit": 5})
        assert code == 200 and len(ph2["results"]) <= len(ph["results"])
        code, pherr = _post(port, "/api/search", {"query": '"the of a"'})
        assert code == 400 and "indexable" in pherr["error"]
        # batch and compare reject the phrase form instead of silently
        # degrading to bag-of-words (quotes are tokenizer delimiters)
        code, pb = _post(port, "/api/search", {"queries": [phrase]})
        assert code == 400 and "batch" in pb["error"]
        code, pc = _post(port, "/api/compare",
                         {"query": phrase, "versions": ["serial"]})
        assert code == 400 and "compare" in pc["error"]

        # validation envelope mirrors the reference's 400s
        code, err = _post(port, "/api/search", {})
        assert code == 400 and err["status"] == "error"
        code, _ = _get(port, "/api/nope")
        assert code == 404

        # /api/compare (WebSite/api.py:468 analog): same query through both
        # ranking versions, results + timings side by side + diff envelope
        code, cp = _post(port, "/api/compare",
                         {"query": "crawl indexes bm25", "limit": 5,
                          "versions": ["serial", "openmp"]})
        assert code == 200 and cp["status"] == "ok"
        assert set(cp["results"]) == {"serial", "openmp"}
        for v in cp["results"].values():
            assert v["query_time_ms"] > 0 and v["results"]
        assert "query_time_ms_delta" in cp["diff"]
        # same corpus, all primary terms present -> identical rankings
        assert cp["diff"]["results_equal"] is True
        # versions normalize lowercase and de-duplicate: ['Serial','serial']
        # is ONE run keyed 'serial' (ADVICE round-3)
        code, cp_dup = _post(port, "/api/compare",
                             {"query": "crawl indexes bm25",
                              "versions": ["Serial", "serial"]})
        assert code == 200 and list(cp_dup["results"]) == ["serial"]
        assert cp_dup["diff"] == {}
        code, cp_bad = _post(port, "/api/compare",
                             {"query": "x", "versions": ["serial", "cuda"]})
        assert code == 400 and "Invalid version" in cp_bad["error"]
        code, cp_miss = _post(port, "/api/compare", {})
        assert code == 400
        # the reference requires the versions field (WebSite/api.py:474) -
        # no silent default
        code, cp_nov = _post(port, "/api/compare", {"query": "x"})
        assert code == 400 and "versions" in cp_nov["error"]
    finally:
        srv.shutdown()


def test_api_recrawl_replaces_stale_rounds_and_409_busy(spark, tmp_path):
    """A second, SHORTER crawl into the same workdir must not leave the
    first crawl's later rounds in the index glob (ADVICE round-2 item); a
    concurrent build answers 409 busy instead of racing the workdir."""
    from high_performance_parallel_search_engine_spark.api import make_server

    srv = make_server(spark, str(tmp_path / "wd"), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        _post(port, "/api/crawl", {"start_url": "https://host0.example.com/p/0",
                                   "depth": 3, "max_pages": 30})
        code, st1 = _get(port, "/api/status")
        n1 = st1["committed_rounds"]
        code, cr2 = _post(port, "/api/crawl",
                          {"start_url": "https://host0.example.com/p/0",
                           "depth": 1, "max_pages": 5})
        assert code == 200
        code, st2 = _get(port, "/api/status")
        assert st2["committed_rounds"] < n1  # stale rounds are gone
        code, m = _get(port, "/api/metrics")
        assert len(m["rounds"]) == st2["committed_rounds"]
        # the rebuilt index must only hold the second crawl's pages
        code, s = _post(port, "/api/search",
                        {"query": "crawl indexes bm25", "limit": 100})
        assert len(s["results"]) <= cr2["pages_crawled"]
    finally:
        srv.shutdown()


def test_api_crawl_busy_returns_409(spark, tmp_path):
    from high_performance_parallel_search_engine_spark.api import EngineState

    eng = EngineState(spark, str(tmp_path / "wd2"))
    assert eng._crawl_lock.acquire(blocking=False)
    try:
        out = eng.crawl("https://host0.example.com/p/0", 1, 5)
        assert out["_code"] == 409 and out["status"] == "error"
    finally:
        eng._crawl_lock.release()
    # lock released -> the same call now runs
    out = eng.crawl("https://host0.example.com/p/0", 1, 3)
    assert out["status"] == "ok" and out["pages_crawled"] > 0


def test_api_concurrent_searches_and_invalidate_waits(spark, tmp_path):
    """Reader-count locking (ADVICE round-3): concurrent searches run
    without serializing on the engine lock, and invalidate() blocks until
    in-flight readers drain (so a crawl can never unpersist cached postings
    mid-collect)."""
    import time as _time

    from high_performance_parallel_search_engine_spark.api import EngineState

    eng = EngineState(spark, str(tmp_path / "wd3"))
    out = eng.crawl("https://host0.example.com/p/0", 2, 20)
    assert out["status"] == "ok"

    results, errs = [], []

    def do_search():
        try:
            results.append(eng.search("crawl indexes bm25", 5))
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=do_search) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errs and len(results) == 4
    assert all(r["status"] == "ok" and r["results"] for r in results)

    # invalidate() waits for a registered reader: hold the index as a
    # reader in this thread, fire invalidate in another, confirm it blocks
    # until release
    eng._acquire_index()
    inv_done = threading.Event()
    t = threading.Thread(target=lambda: (eng.invalidate(), inv_done.set()))
    t.start()
    _time.sleep(0.3)
    assert not inv_done.is_set()  # blocked on the in-flight reader
    eng._release_index()
    t.join(timeout=30)
    assert inv_done.is_set()
    assert eng._index is None


def test_run_crawl_refuses_silent_overwrite(spark, tmp_path):
    """A fresh (non-resume) run_crawl into a workdir holding committed
    rounds raises unless overwrite=True - a forgotten --resume must not
    destroy a long crawl's checkpoints (ADVICE round-3)."""
    import pytest

    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlConfig,
        run_crawl,
    )
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df,
    )

    pages = build_corpus_df(spark).select("url", "warc_ts", "html", "lang")
    wd = str(tmp_path / "wd4")
    cfg = CrawlConfig(max_depth=2, max_pages=10, failure_stop=50)
    seeds = ["https://host0.example.com/p/0"]
    st1 = run_crawl(spark, pages, seeds, wd, cfg)
    assert st1.pages_crawled > 0

    with pytest.raises(ValueError, match="committed crawl round"):
        run_crawl(spark, pages, seeds, wd, cfg)
    # resume and explicit overwrite both still work
    st2 = run_crawl(spark, pages, seeds, wd, cfg, resume=True)
    assert st2.pages_crawled == st1.pages_crawled
    st3 = run_crawl(spark, pages, seeds, wd, cfg, overwrite=True)
    assert st3.pages_crawled == st1.pages_crawled


def test_api_store_backed_serving(spark, tmp_path):
    """--index-store analog at the API layer: a server pointed at a
    published term-bucketed store serves /api/search (urls from the
    store's own _doc_map) with NO crawl workdir at all, and /api/crawl is
    rejected as read-only."""
    from pyspark.sql import functions as F

    from high_performance_parallel_search_engine_spark.api import make_server
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlConfig, run_crawl)
    from high_performance_parallel_search_engine_spark.operators.index import (
        build_index_tables)
    from high_performance_parallel_search_engine_spark.operators.index_store import (
        publish_store)
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df)

    wd, store = str(tmp_path / "wd"), str(tmp_path / "store")
    pages = build_corpus_df(spark).select("url", "warc_ts", "html", "lang")
    run_crawl(spark, pages, ["https://host0.example.com/p/0"], wd,
              CrawlConfig(max_depth=3, max_pages=25))
    docs = (spark.read.parquet(f"{wd}/round=*/pages.parquet")
            .select(F.col("seq").alias("doc_id"), "url", "text"))
    postings, _ = build_index_tables(docs)
    publish_store(postings, store, table="t_api_store", buckets=16,
                  doc_map=docs.select("doc_id", "url"))

    srv = make_server(spark, None, port=0, index_store=store)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        code, st = _get(port, "/api/status")
        assert code == 200 and st["index_store"] == store
        assert st["workdir"] is None and st["committed_rounds"] == 0

        code, s = _post(port, "/api/search",
                        {"query": "crawl indexes bm25", "limit": 5})
        assert code == 200 and s["status"] == "ok"
        assert len(s["results"]) == 5
        assert all(r["url"].startswith("https://") for r in s["results"])

        code, b = _post(port, "/api/search",
                        {"queries": ["crawl indexes bm25", "engine"]})
        assert code == 200 and len(b["results"]) == 2
        assert b["results"][0]["results"]

        code, m = _get(port, "/api/metrics")
        assert code == 200 and m["rounds"] == []

        code, cr = _post(port, "/api/crawl",
                         {"start_url": "https://host0.example.com/p/0"})
        assert code == 400 and "read-only" in cr["error"]

        # phrase search needs positions/text - not in the store
        code, sp = _post(port, "/api/search", {"query": '"any phrase"'})
        assert code == 400 and "positions" in sp["error"]
    finally:
        srv.shutdown()


def test_api_distributed_search_without_url_table(spark):
    """A store published without doc_map has NO url table: the
    distributed path must serve the hits url-less instead of
    inner-joining every result away."""
    from high_performance_parallel_search_engine_spark.api import EngineState
    from high_performance_parallel_search_engine_spark.operators.index import (
        build_index_tables)

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} w{i+1}") for i in range(30)],
        "doc_id long, text string")
    postings, stats = build_index_tables(docs)
    total = stats.count()
    avg_dl = stats.groupBy().avg("dl").collect()[0][0]
    ix = {"postings": postings, "stats": stats, "total": total,
          "avg_dl": avg_dl,
          "urls": spark.createDataFrame([], "doc_id long, url string"),
          "has_urls": False, "term_df": None, "df_map": None,
          "local": None, "url_map": {}}
    eng = EngineState(spark, None)
    out = eng._search_with(ix, "alpha", 5, fallback=True)
    assert out["status"] == "ok" and len(out["results"]) == 5
    assert all(r["url"] == "" and r["score"] > 0 for r in out["results"])

    eng._index = ix  # batch path through the same index dict
    b = eng.search_batch(["alpha", "w3"], limit=3)
    assert b["status"] == "ok" and len(b["results"]) == 2
    assert b["results"][0]["results"]
    assert all(r["url"] == "" for r in b["results"][0]["results"])
