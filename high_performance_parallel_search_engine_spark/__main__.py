"""CLI entrypoint mirroring the reference's job-submission contract.

Reference: ``./bin/search_engine -c URL -d DEPTH -p PAGES`` (Serial
Version/src/main.c:53-149; dashboard shell-out WebSite/api.py:106-120 adds
``-t THREADS`` for OpenMP and ``-q QUERY``). This engine is an offline batch
crawler over Common-Crawl-style page tables instead of a live HTTP client,
so the page source is an input: ``--pages`` points at a parquet of
(url, warc_ts, html, lang); without it a deterministic synthetic web is
generated (sources/synth.py), which is also what every test crawls.

Flag semantics kept from main.c:
  -d clamps to 1..5 with the same warning (main.c:102-114)
  -p clamps to 1..100 with the same warning (main.c:115-127)
  -c on a medium.com/@ profile raises max_pages to >=20 (main.c:75-85)
  -m USER crawls https://medium.com/@USER at depth 3, 25 pages
     (main.c:119-139)
  -t N sets parallelism (OpenMP -t; here the local[N] master / shuffle
     partitions)
  -q QUERY runs one BM25 query over the crawl's extracted text and prints
     the top-10 (the reference enters an interactive prompt; one-shot here)

Queries (-q, -i, --index-store) are answered by api.EngineState, the
dashboard's serving stack; this module only prints what it returns.

Usage examples:
  python -m high_performance_parallel_search_engine_spark -c https://host0.example.com/p/0/0 -d 3 -p 20
  python -m high_performance_parallel_search_engine_spark -m user0 -q "spark join" --workdir /tmp/crawl
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m high_performance_parallel_search_engine_spark",
        description="PySpark-native crawl + BM25 search "
                    "(reference contract: -c URL -d DEPTH -p PAGES)")
    ap.add_argument("-c", "--crawl", metavar="URL",
                    help="crawl starting from URL")
    ap.add_argument("-m", "--medium", metavar="USER",
                    help="crawl the Medium profile USER (implies -d 3 -p 25)")
    ap.add_argument("-d", "--depth", type=int, default=2,
                    help="maximum crawl depth (default 2, clamped 1..5)")
    ap.add_argument("-p", "--pages", type=int, default=10, dest="max_pages",
                    help="maximum pages to crawl (default 10, clamped 1..100"
                         " unless --no-clamp)")
    ap.add_argument("-t", "--threads", type=int, default=None,
                    help="parallelism (local[N] master + shuffle partitions)")
    ap.add_argument("-q", "--query", help="BM25 query to run after the crawl")
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--pages-table", metavar="PARQUET",
                     help="parquet of (url, warc_ts, html, lang) to crawl "
                          "over (a write_bucketed_pages table keeps its "
                          "bucket pruning); default: deterministic "
                          "synthetic web")
    src.add_argument("--pages-warc", metavar="DIR",
                     help="directory of .warc.gz files (Common Crawl "
                          "layout) to crawl over: records are parsed once "
                          "into a bucketed parquet pages table under "
                          "--workdir, then crawled with bucket pruning "
                          "(sources/warc.py); a --resume/--resume-from run "
                          "reuses the staged table instead of re-parsing")
    ap.add_argument("--workdir", help="checkpoint dir (default: temp dir)")
    ap.add_argument("--resume", action="store_true",
                    help="resume from the last committed round in --workdir")
    ap.add_argument("--priority", choices=["fifo", "north", "openmp"],
                    default="fifo", help="frontier scheduling mode")
    ap.add_argument("--budget", action="append", default=[],
                    metavar="HOST=N",
                    help="per-host politeness budget (fetches/round); "
                         "repeatable; use *=N for the default budget")
    rb = ap.add_mutually_exclusive_group()
    rb.add_argument("--robots-table", metavar="PARQUET",
                    help="parquet of (host, robots_txt) bodies; parsed "
                         "distributed into allow/disallow prefix rules")
    rb.add_argument("--robots-warc", metavar="DIR",
                    help="directory of .warc.gz robots.txt captures "
                         "(Common Crawl robotstxt layout); response "
                         "records for */robots.txt become the "
                         "(host, robots_txt) table, then the same "
                         "distributed rule parse as --robots-table")
    ap.add_argument("--resume-from", type=int, default=None, metavar="R",
                    help="rewind to round R's snapshot and replay from there")
    ap.add_argument("--overwrite", action="store_true",
                    help="allow a fresh crawl to DISCARD committed round "
                         "snapshots already in --workdir (without this, a "
                         "fresh crawl into a used workdir refuses to run "
                         "so a forgotten --resume cannot destroy them)")
    ap.add_argument("--no-clamp", action="store_true",
                    help="drop the reference's 100-page / depth-5 clamps "
                         "(scale mode)")
    ap.add_argument("-i", "--interactive", action="store_true",
                    help="after the crawl, loop a query prompt over the "
                         "warm index (the reference's interactive mode, "
                         "main.c:172-184); EOF or 'exit' quits")
    ap.add_argument("--export-warc", metavar="DIR",
                    help="after the crawl, export the fetched pages "
                         "(url, warc_ts, html, lang) as Common-Crawl-"
                         "layout .warc.gz archives under DIR - the "
                         "interchange inverse of --pages-warc")
    ap.add_argument("--publish-index", metavar="DIR",
                    help="after the crawl, publish the index as a term-"
                         "bucketed serving store at DIR (postings + doc "
                         "stats + url map; queries against it read only "
                         "the buckets their terms hash to)")
    ap.add_argument("--index-store", metavar="DIR",
                    help="serve-only mode: answer -q / -i from a store "
                         "published with --publish-index, without "
                         "crawling (cannot be combined with -c/-m)")
    ap.add_argument("--save-baseline", metavar="CSV",
                    help="save this run's phase timings as the baseline "
                         "metrics CSV (benchmark.c save_as_baseline)")
    ap.add_argument("--compare-baseline", metavar="CSV",
                    help="load a baseline metrics CSV and print per-phase "
                         "speedup vs it (benchmark.c calculate_speedup)")
    return ap


# flags whose values are overridden by the persisted manifest config on
# --resume/--resume-from (run_crawl reloads cfg from the manifest)
_RESUME_IGNORED = [("depth", 2, "-d"), ("max_pages", 10, "-p"),
                   ("priority", "fifo", "--priority"), ("budget", [], "--budget"),
                   ("robots_table", None, "--robots-table"),
                   ("robots_warc", None, "--robots-warc")]


def _warn_resume_overrides(args) -> None:
    if not (args.resume or args.resume_from is not None):
        return
    for attr, default, flag in _RESUME_IGNORED:
        if getattr(args, attr) != default:
            print(f"Warning: {flag} is ignored with --resume/--resume-from "
                  "(the persisted manifest config wins)")


def _clamped_limits(args) -> tuple[int, int]:
    depth, pages = args.depth, args.max_pages
    if depth < 1:
        depth = 1
    if depth > 5 and not args.no_clamp:
        print("Warning: High crawl depth may take a long time. "
              "Limited to 5.")
        depth = 5
    if pages < 1:
        pages = 1
    if pages > 100 and not args.no_clamp:
        print("Warning: High page limit may take a long time. "
              "Limited to 100.")
        pages = 100
    return depth, pages


def _print_result(res: dict) -> float:
    """Print one EngineState.search result as ranked lines; returns the
    query's wall in ms (0.0 for an error)."""
    if res["status"] != "ok":
        print(f"Error: {res['error']}")
        return 0.0
    print(f"Query processed in {res['query_time_ms']:.2f} ms")
    for rank, r in enumerate(res["results"], 1):
        print(f"{rank:2d}. doc {r['doc_id']} score={r['score']:.4f} "
              f"{r['url']}")
    if not res["results"]:
        print("No results.")
    return res["query_time_ms"]


def _answer_queries(engine, args) -> float:
    """-q, then the reference's query prompt for -i (main.c:172-184; EOF
    or 'exit' quits), every query answered by engine.search (the same
    serving stack as the dashboard). Returns the last query's wall in ms
    (0.0 if none ran)."""
    last = 0.0
    if args.query:
        print(f"\nSearching for: {args.query}")
        last = _print_result(engine.search(args.query, 10))
    if not args.interactive:
        return last
    print("Search engine ready for queries.")
    while True:
        try:
            q = input("Enter your search query: ").strip()
        except EOFError:
            break
        if not q or q.lower() in ("exit", "quit"):
            break
        print(f"\nSearching for: {q}")
        last = _print_result(engine.search(q, 10)) or last
    return last


def _session(args):
    from .session import build_session

    master = f"local[{args.threads}]" if args.threads else None
    return build_session("hppse-cli", master=master,
                         shuffle_partitions=args.threads)


def main(argv: list[str] | None = None, spark=None) -> int:
    """`spark=None` builds a local session; pass an existing session to run
    under spark-submit (tools/submit_crawl.py does this so the cluster
    master/conf from spark-submit is inherited, not overridden)."""
    args = build_parser().parse_args(argv)
    if args.index_store:
        if args.crawl or args.medium:
            print("Error: --index-store is serve-only; it cannot be "
                  "combined with -c/-m (publish at crawl time with "
                  "--publish-index)")
            return 2
        if not (args.query or args.interactive):
            print("Error: --index-store is serve-only; pass -q QUERY "
                  "and/or -i")
            return 2
        ignored = [flag for flag, val in
                   (("--workdir", args.workdir),
                    ("--save-baseline", args.save_baseline),
                    ("--compare-baseline", args.compare_baseline),
                    ("--resume", args.resume),
                    ("--resume-from", args.resume_from is not None),
                    ("--overwrite", args.overwrite),
                    ("--export-warc", args.export_warc),
                    ("--pages-table", args.pages_table),
                    ("--pages-warc", args.pages_warc),
                    ("--robots-table", args.robots_table),
                    ("--robots-warc", args.robots_warc),
                    ("--budget", args.budget),
                    ("--publish-index", args.publish_index))
                   if val]
        if ignored:
            print(f"Warning: {', '.join(ignored)} ignored in "
                  f"--index-store mode")
        from .api import EngineState

        # serve-only: the published store's postings, doc stats and url
        # map; no crawl, no source corpus
        engine = EngineState(spark or _session(args), None,
                             index_store=args.index_store)
        print(f"Serving published index from {args.index_store}: "
              f"{engine.build()['total']} documents.")
        _answer_queries(engine, args)
        return 0
    if not (args.crawl or args.medium):
        build_parser().print_help()
        return 0

    from .baseline import load_baseline, save_baseline, speedup_report
    from .operators.crawl import CrawlConfig, run_crawl
    from .sources.synth import build_corpus_df
    from .sources.tables import read_pages_table

    depth, max_pages = _clamped_limits(args)
    if args.medium:
        user = args.medium if args.medium.startswith("@") else "@" + args.medium
        start_url = f"https://medium.com/{user}"
        depth, max_pages = 3, 25
        print(f"Crawling Medium profile: {start_url}")
    else:
        start_url = args.crawl
        if "medium.com/@" in start_url and max_pages < 20:
            max_pages = 20  # main.c:80-84
            print("Medium profile detected. "
                  f"Will crawl up to {max_pages} pages.")
        print(f"Starting website crawl from URL: {start_url}")

    spark = spark or _session(args)
    workdir = args.workdir or tempfile.mkdtemp(prefix="hppse-crawl-")
    resuming = args.resume or args.resume_from is not None
    if args.pages_table:
        pages = read_pages_table(spark, args.pages_table)
    elif args.pages_warc:
        # parse the archives ONCE into a bucketed parquet table (a crawl
        # scans its pages table every round; re-inflating gzip per round
        # would multiply the decode cost by the round count), then crawl
        # with bucket pruning - the same WARC -> bucketed-parquet -> crawl
        # composition SCALING.md documents for the 100 TB path. A resumed
        # run reuses the table staged by the interrupted run: re-ingesting
        # the full archive set would make resume cost O(ingest) every time.
        import os

        from .sources.tables import (
            BUCKETING_META,
            read_bucketed_pages,
            write_bucketed_pages,
        )
        from .sources.warc import read_warc_gz

        import json as _json

        staged = f"{workdir}/_pages_from_warc.parquet"
        src_marker = f"{staged}/_source.json"
        # reuse requires the COMPLETED staging (the bucketing sidecar is
        # written last - a mid-ingest kill leaves a partial directory that
        # must be re-staged, not "reused" into a FileNotFoundError) AND
        # the SAME source directory (a resume pointed at a different
        # archive dir must not silently crawl the stale staged corpus)
        src_now = os.path.abspath(args.pages_warc)
        staged_src = None
        if os.path.isfile(src_marker):
            staged_src = _json.load(open(src_marker)).get("pages_warc")
        if (resuming and os.path.isfile(f"{staged}/{BUCKETING_META}")
                and staged_src == src_now):
            print(f"Reusing staged WARC pages table: {staged}")
        else:
            if resuming and staged_src is not None and staged_src != src_now:
                print(f"Warning: staged pages table came from {staged_src}; "
                      f"re-staging from {src_now}")
            write_bucketed_pages(read_warc_gz(spark, args.pages_warc),
                                 staged, n_buckets=16)
            with open(src_marker, "w") as fh:
                _json.dump({"pages_warc": src_now}, fh)
            print(f"Parsed WARC archives from {args.pages_warc} "
                  f"-> {staged} (16 buckets)")
        pages = read_bucketed_pages(spark, staged)
    else:
        pages = build_corpus_df(spark).select("url", "warc_ts", "html", "lang")
    priority = {"fifo": False, "north": True, "openmp": "openmp"}[args.priority]
    politeness = None
    if args.budget:
        politeness = {}
        for spec in args.budget:
            host, _, n = spec.partition("=")
            politeness[host] = int(n)
    robots = None
    # on resume the manifest config wins (run_crawl reloads it), so the
    # robots archive parse + rules collect would be paid and thrown away
    if (args.robots_table or args.robots_warc) and not resuming:
        from .operators.robots import robots_rules_from_df

        if args.robots_table:
            bodies = spark.read.parquet(args.robots_table)
        else:
            from .sources.warc import robots_df_from_warc

            bodies = robots_df_from_warc(spark, args.robots_warc)
        robots = [(r["host"], r["rule"], r["path_prefix"]) for r in
                  robots_rules_from_df(bodies).collect()]
    cfg = CrawlConfig(max_depth=depth, max_pages=max_pages,
                      priority=priority, politeness=politeness,
                      robots=robots)
    _warn_resume_overrides(args)
    t0 = time.perf_counter()
    try:
        state = run_crawl(spark, pages, [start_url], workdir, cfg,
                          resume=args.resume, resume_from=args.resume_from,
                          overwrite=args.overwrite)
    except ValueError as e:
        if "committed crawl round" in str(e):
            print(f"Error: {e}")
            print("Hint: pass --resume to continue, --resume-from R to "
                  "rewind, or --overwrite to discard the checkpoints.")
            return 2
        raise
    wall = time.perf_counter() - t0
    if state.pages_crawled > 0:
        print(f"Successfully crawled {state.pages_crawled} pages "
              f"from {start_url}")
    else:
        print("Failed to crawl website from URL")
        return 1
    print(f"Crawl checkpoints: {workdir} "
          f"(rounds={state.round}, wall={wall:.2f}s, "
          f"stop={state.stopped or 'frontier_empty'})")

    if args.export_warc:
        # re-emit the FETCHED subset as Common-Crawl-layout archives: the
        # round snapshots store extracted text, so the original html bytes
        # come from an id-only join back against the source pages table
        from .sources.warc import write_warc_gz

        crawled = (spark.read.parquet(f"{workdir}/round=*/pages.parquet")
                   .select("url").distinct())
        subset = pages.join(crawled, "url") \
            .select("url", "warc_ts", "html", "lang")
        nf = write_warc_gz(subset, args.export_warc)
        print(f"Exported {state.pages_crawled} pages as {nf} .warc.gz "
              f"file(s) to {args.export_warc}")

    phase_ms = {"CrawlingTime_ms": wall * 1000}
    last_query_ms = 0.0
    if (args.query or args.interactive or args.save_baseline
            or args.publish_index):
        # the dashboard's serving stack over the crawl's pages: one
        # tokenization pass, the df map and, while the index fits the
        # collect caps, in-process serving (the reference's prompt serves
        # from its in-process index, main.c:172-184)
        from .api import EngineState

        engine = EngineState(spark, workdir)
        t1 = time.perf_counter()
        ix = engine.build()
        phase_ms["IndexingTime_ms"] = (time.perf_counter() - t1) * 1000
        print(f"Indexed {ix['total']} documents.")

        if args.publish_index:
            # a CLI crawl is clamped to <=100 pages, so 16 buckets keeps
            # bucket files non-trivial; a production publish sizes B to
            # the cluster (index_store.save_postings_bucketed docstring)
            from .operators.index_store import publish_store

            publish_store(ix["postings"], args.publish_index,
                          table="cli_postings_store", buckets=16,
                          doc_map=ix["urls"])
            print(f"Published bucketed index store to {args.publish_index}")
        last_query_ms = _answer_queries(engine, args)
    if last_query_ms:
        phase_ms["QueryProcessingTime_ms"] = last_query_ms
    phase_ms["TotalExecutionTime_ms"] = (time.perf_counter() - t0) * 1000

    if args.compare_baseline:
        base = load_baseline(args.compare_baseline)
        for line in speedup_report(base, phase_ms):
            print(line)
    if args.save_baseline:
        save_baseline(args.save_baseline, phase_ms)
        print(f"Metrics saved to {args.save_baseline}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
