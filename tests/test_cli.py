"""CLI contract test: python -m high_performance_parallel_search_engine_spark
mirrors the reference job submission (Serial Version/src/main.c:53-149)."""

from high_performance_parallel_search_engine_spark.__main__ import (
    build_parser,
    main,
)


def test_cli_crawl_and_query_end_to_end(spark, tmp_path, capsys):
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "25",
               "-q", "crawl indexes bm25", "--workdir", str(tmp_path / "w")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Starting website crawl from URL" in out
    assert "Successfully crawled" in out
    assert "Query processed in" in out
    assert "doc " in out  # at least one ranked result
    # a 25-doc crawl fits the local-serve caps, so the prompt query is
    # served in-process (main.c:172-184's resident-index model) - no
    # Spark job: the printed wall must be far under the ~400 ms job floor
    ms = float(out.split("Query processed in ")[1].split(" ms")[0])
    assert ms < 50, f"expected local-serve latency, got {ms} ms"


def test_cli_clamps_match_reference(capsys):
    # main.c:102-127 clamps: depth<=5, pages<=100, both with warnings
    ap = build_parser()
    args = ap.parse_args(["-c", "x", "-d", "9", "-p", "500"])
    from high_performance_parallel_search_engine_spark.__main__ import (
        _clamped_limits,
    )
    d, p = _clamped_limits(args)
    out = capsys.readouterr().out
    assert (d, p) == (5, 100)
    assert "Limited to 5" in out and "Limited to 100" in out
    # --no-clamp lifts them (scale mode)
    args2 = ap.parse_args(["-c", "x", "-d", "9", "-p", "500", "--no-clamp"])
    assert _clamped_limits(args2) == (9, 500)


def test_cli_medium_profile_defaults(capsys, tmp_path, spark):
    rc = main(["-m", "user0", "--workdir", str(tmp_path / "m")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Crawling Medium profile: https://medium.com/@user0" in out
    assert "Successfully crawled" in out


def test_submit_zip_importable(tmp_path):
    """--py-files artifact: the zip alone must be importable (pure Python)."""
    import subprocess
    import sys

    from tools.make_submit_zip import build_zip

    out = build_zip("dist")
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from high_performance_parallel_search_engine_spark.kernel.urls "
        "import normalize_url; "
        "from high_performance_parallel_search_engine_spark.operators.crawl "
        "import CrawlConfig; "
        "print(normalize_url('https://A.com/x/'))" % out)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr
    assert "a.com" in r.stdout.lower()


def test_cli_interactive_prompt_two_queries(spark, tmp_path, capsys,
                                            monkeypatch):
    """main.c:172-184 analog: the interactive prompt loops queries over ONE
    warm cached index within a single session."""
    import io

    monkeypatch.setattr("sys.stdin",
                        io.StringIO("crawl indexes bm25\nspark engine\n"))
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "15",
               "-i", "--workdir", str(tmp_path / "w")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Search engine ready for queries." in out
    assert out.count("Searching for:") == 2
    assert out.count("Query processed in") == 2


def test_cli_baseline_save_and_compare(spark, tmp_path, capsys):
    """benchmark.c:10-141 analog: --save-baseline persists a Metric,Value
    CSV; --compare-baseline prints per-phase speedup vs it."""
    base = str(tmp_path / "baseline_metrics.csv")
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
               "-q", "crawl", "--workdir", str(tmp_path / "w1"),
               "--save-baseline", base])
    out = capsys.readouterr().out
    assert rc == 0 and f"Metrics saved to {base}" in out
    text = open(base).read()
    assert text.startswith("Metric,Value\n")
    assert "CrawlingTime_ms," in text and "QueryProcessingTime_ms," in text

    rc = main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
               "-q", "crawl", "--workdir", str(tmp_path / "w2"),
               "--compare-baseline", base])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PERFORMANCE SPEEDUP METRICS" in out
    assert "Speedup:" in out and "Crawling:" in out
    # benchmark.c:80-92 prints a FIXED five-line set with these labels
    # ('Query:', not 'QueryProcessing:'); phases this engine fuses into the
    # Spark extract stage still print (0.00 ms, 0.00x), as the C does for
    # a zero phase
    for label in ("Parsing:", "Tokenizing:", "Indexing:", "Query:"):
        assert label in out

    # missing baseline file -> benchmark.c's warning + defaults, not a crash
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "1", "-p", "5",
               "--workdir", str(tmp_path / "w3"),
               "--compare-baseline", str(tmp_path / "nope.csv")])
    out = capsys.readouterr().out
    assert rc == 0 and "Warning: Could not open baseline metrics file" in out


def test_cli_resume_warns_on_ignored_flags(spark, tmp_path, capsys):
    wd = str(tmp_path / "w")
    assert main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
                 "--workdir", wd]) == 0
    capsys.readouterr()
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "4", "-p", "50",
               "--resume", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Warning: -d is ignored with --resume" in out
    assert "Warning: -p is ignored with --resume" in out


def test_cli_budget_and_robots_flags(spark, tmp_path, capsys):
    """--budget and --robots-table drive politeness/robots through the CLI."""
    # deny a LEAF path: a too-central path would prune the tree and
    # keep the frontier under budget (no deferrals to assert on)
    robots = spark.createDataFrame(
        [("host0.example.com", "User-agent: *\nDisallow: /p/2\n")],
        "host string, robots_txt string")
    rpath = str(tmp_path / "robots")
    robots.write.parquet(rpath)
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "40",
               "--budget", "host0.example.com=4", "--budget", "*=100",
               "--robots-table", rpath, "--workdir", str(tmp_path / "w")])
    out = capsys.readouterr().out
    assert rc == 0 and "Successfully crawled" in out
    ev = spark.read.parquet(str(tmp_path / "w") + "/round=*/events.parquet")
    acts = {r["action"] for r in ev.select("action").distinct().collect()}
    assert "robots_denied" in acts   # /p/1 blocked
    assert "deferred" in acts        # budget 4/round binds


def test_cli_pages_warc(spark, tmp_path, capsys):
    """--pages-warc crawls straight from Common-Crawl-layout .warc.gz
    archives: records stage once into a bucketed parquet pages table under
    the workdir, then the crawl runs with bucket pruning."""
    import pandas as pd

    from high_performance_parallel_search_engine_spark.sources.synth import (
        corpus_rows,
    )
    from high_performance_parallel_search_engine_spark.sources.warc import (
        write_warc_gz,
    )

    rows = list(corpus_rows(n_hosts=1, pages_per_host=20, n_medium=0,
                            with_oracle_text=False))
    src = spark.createDataFrame(
        pd.DataFrame(rows)[["url", "warc_ts", "html", "lang"]])
    warc_dir = str(tmp_path / "warc")
    write_warc_gz(src, warc_dir, records_per_file=8)

    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "15",
               "--pages-warc", warc_dir, "-q", "crawl",
               "--workdir", str(tmp_path / "w")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Parsed WARC archives" in out
    assert "Successfully crawled" in out
    assert "Query processed in" in out


def test_cli_bucketed_pages_table_prunes(spark, tmp_path, capsys,
                                         monkeypatch):
    """--pages-table over a write_bucketed_pages table crawls with bucket
    pruning: some round's fetch scan keeps fewer than all 8 bucket files
    (a plain read of the same files drops the bucket count and scans
    them all)."""
    import pandas as pd

    from high_performance_parallel_search_engine_spark.operators import (
        crawl as C,
    )
    from high_performance_parallel_search_engine_spark.sources.synth import (
        corpus_rows,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        write_bucketed_pages,
    )

    rows = list(corpus_rows(n_hosts=2, pages_per_host=20, n_medium=0,
                            with_oracle_text=False))
    path = str(tmp_path / "pages")
    write_bucketed_pages(spark.createDataFrame(
        pd.DataFrame(rows)[["url", "warc_ts", "html", "lang"]]), path,
        n_buckets=8)
    k_files = []
    narrow = C._prune_and_pushdown

    def recording(*a):
        out = narrow(*a)
        k_files.append(out[2])
        return out

    monkeypatch.setattr(C, "_prune_and_pushdown", recording)
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "15",
               "--pages-table", path, "--workdir", str(tmp_path / "w")])
    out = capsys.readouterr().out
    assert rc == 0 and "Successfully crawled" in out
    assert any(k is not None and k < 8 for k in k_files), k_files


def test_cli_publish_index_then_serve_only(spark, tmp_path, capsys):
    """--publish-index emits a self-contained serving store at crawl time;
    a later --index-store run answers the same query WITHOUT the crawl or
    the source corpus, resolving urls from the store's own _doc_map, with
    identical ranked results."""
    store = str(tmp_path / "store")
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "3", "-p", "25",
               "-q", "crawl indexes bm25", "--workdir", str(tmp_path / "w"),
               "--publish-index", store])
    out1 = capsys.readouterr().out
    assert rc == 0
    assert f"Published bucketed index store to {store}" in out1

    rc = main(["--index-store", store, "-q", "crawl indexes bm25"])
    out2 = capsys.readouterr().out
    assert rc == 0
    assert "Starting website crawl" not in out2
    assert "Serving published index from" in out2

    def hits(out):
        return [(ln.split("doc ")[1].split(" ")[0],           # doc_id
                 round(float(ln.split("score=")[1].split(" ")[0]), 3),
                 ln.rsplit(" ", 1)[-1])                        # url
                for ln in out.splitlines() if ". doc " in ln]

    got, want = hits(out2), hits(out1)
    assert got == want and len(got) > 0
    assert all(u.startswith("https://") for _, _, u in got)

    # serve-only cannot be combined with a crawl
    assert main(["-c", "x", "--index-store", store]) == 2

    # store mode has no positions: quoted queries error gracefully
    rc = main(["--index-store", store, "-q", '"crawl indexes"'])
    out3 = capsys.readouterr().out
    assert rc == 0 and "no positions" in out3


def test_cli_index_store_requires_query_or_interactive(tmp_path, capsys):
    rc = main(["--index-store", str(tmp_path / "nope")])
    out = capsys.readouterr().out
    assert rc == 2 and "-q" in out and "serve-only" in out


def test_cli_quoted_phrase_query(spark, tmp_path, capsys):
    """A quoted -q runs exact phrase search over the crawl's positional
    index; the phrase is taken from a crawled page so it provably
    exists."""
    wd = str(tmp_path / "w")
    assert main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p",
                 "12", "--workdir", wd]) == 0
    capsys.readouterr()

    from high_performance_parallel_search_engine_spark.kernel.text import (
        tokenize)
    txt = (spark.read.parquet(wd + "/round=*/pages.parquet")
           .select("text").limit(1).collect()[0]["text"])
    toks = tokenize(txt)
    rc = main(["-c", "https://host0.example.com/p/0", "--workdir", wd,
               "--resume", "-q", f'"{toks[0]} {toks[1]}"'])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Query processed in" in out
    assert ". doc " in out  # at least one phrase hit ranked


def test_cli_phrase_error_paths(spark, tmp_path, capsys):
    wd = str(tmp_path / "w")
    assert main(["-c", "https://host0.example.com/p/0", "-d", "1", "-p",
                 "5", "--workdir", wd, "-q", '"the of a"']) == 0
    out = capsys.readouterr().out
    assert "no indexable terms" in out  # graceful, not a traceback


def test_cli_query_tokenizes_the_crawl_once(spark, tmp_path, capsys,
                                            monkeypatch):
    """A -q run builds postings and doc stats from one tokenization pass
    (the serving stack's build_index_tables), not one pass per table."""
    from high_performance_parallel_search_engine_spark.operators import (
        index as IX,
    )

    calls = []
    doc_tokens = IX.doc_tokens

    def counting(*a, **kw):
        calls.append(1)
        return doc_tokens(*a, **kw)

    monkeypatch.setattr(IX, "doc_tokens", counting)
    rc = main(["-c", "https://host0.example.com/p/0", "-d", "2", "-p", "10",
               "-q", "crawl", "--workdir", str(tmp_path / "w")])
    assert rc == 0 and "Query processed in" in capsys.readouterr().out
    assert len(calls) == 1


def test_cli_has_no_serving_stack_of_its_own():
    """__main__.py prints what api.EngineState returns: the index build,
    the ranking calls and the url lookups live behind EngineState, which
    the dashboard serves from too, so the CLI imports none of them."""
    import ast
    from pathlib import Path

    import high_performance_parallel_search_engine_spark.__main__ as cli

    pkg = "high_performance_parallel_search_engine_spark."
    banned = {f"operators.{m}"
              for m in ("ranking", "index", "local_serve", "phrase")}
    imported = set()
    for node in ast.walk(ast.parse(Path(cli.__file__).read_text())):
        if isinstance(node, ast.ImportFrom):
            mod = (node.module or "").removeprefix(pkg)
            imported.add(mod)
            imported.update(f"{mod}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Import):
            imported.update(a.name.removeprefix(pkg) for a in node.names)
    assert not imported & banned, sorted(imported & banned)
    assert "api" in imported
