"""Single crawl-throughput run (invoked by bench.py, optionally under
`taskset` so 'N cores' genuinely means N cores - local[8] on an idle 32-core
box otherwise borrows free cores for its Python workers and the N->4N
comparison is unfair to the larger setting).

Usage: python tools/bench_crawl.py <threads> <corpus_path> <n_hosts> <depth>
Prints one JSON line with the run stats.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> None:
    global T0
    T0 = time.monotonic()
    threads = int(sys.argv[1])
    corpus_path = sys.argv[2]
    n_hosts = int(sys.argv[3])
    depth = int(sys.argv[4])

    from high_performance_parallel_search_engine_spark.operators.crawl import (
        CrawlConfig, run_crawl,
    )
    from high_performance_parallel_search_engine_spark.session import build_session
    from high_performance_parallel_search_engine_spark.sources.synth import (
        build_corpus_df, page_url,
    )

    # 32 MB splits: measured on the 2 GB bench corpus (batch=256, median of
    # 3) the extract stage runs 16.1 s at 8 MB vs 13.8 s at 32/64 MB on 32
    # cores - 8 MB splits pay ~250 python-worker task round-trips where 64
    # suffice; small rounds still scan the same corpus, so they keep >= 2x
    # cores of splits too
    spark = build_session(f"bench-crawl-{threads}",
                          master=f"local[{threads}]",
                          shuffle_partitions=threads,
                          extra_conf={
                              "spark.sql.files.maxPartitionBytes": "33554432"})

    from high_performance_parallel_search_engine_spark.sources.tables import (
        bucket_count,
        read_bucketed_pages,
        write_bucketed_pages as _wbp,
    )

    t_sess = time.monotonic()
    print(f"[bench_crawl] session up {t_sess - T0:.1f}s", file=sys.stderr)

    try:
        pages = read_bucketed_pages(spark, corpus_path)
    except FileNotFoundError:
        pages = spark.read.parquet(corpus_path)

    # warmup: a tiny crawl compiles the round pipeline + spawns workers
    # BEFORE the clock starts, with the SAME bucket count as the timed
    # corpus (a 16-bucket warmup against a 64-bucket timed run left the
    # timed round 1 paying fresh codegen/plan-cache fills - part of the
    # small-round fixed floor the r4 verdict's scaling task chases).
    # TWO rounds compile every plan shape the timed run hits: 40 seeds
    # (<= 512 and <= 4x buckets) make round 0 the bucket-pruned/pushdown
    # shape, its ~720-url child frontier pushes round 1 past both gates
    # into the full-scan shape, and round 1 is also the final-round
    # (depth-cutoff short-circuit) shape. The former depth-4 warmup spent
    # 15.2 s here re-crawling the same 600 pages over 4 rounds for no
    # additional compiled shape - untimed but real bench wall.
    # The 600-page warm corpus is deterministic harness scaffolding (synth
    # seed 42, fixed shape), NOT a measured artifact or anything derived
    # from the timed inputs - so the bench's ~14 sequential subprocesses
    # share one copy at a versioned path instead of each paying the ~5 s
    # bucketed write. Built under a unique temp dir, atomically renamed in;
    # a lost race just falls back to the existing copy.
    wb = bucket_count(pages) or 16
    warm_root = os.path.join(tempfile.gettempdir(),
                             f"warm_corpus_v1_b{wb}")
    if not os.path.isdir(os.path.join(warm_root, "p")):
        tiny = build_corpus_df(spark, n_hosts=2, pages_per_host=300,
                               n_medium=0, with_oracle_text=False,
                               link_mode="tree")
        tp = tempfile.mkdtemp(prefix="warm_")
        _wbp(tiny.select("url", "warc_ts", "html", "lang"), tp + "/p",
             n_buckets=wb)
        try:
            os.rename(tp, warm_root)
        except OSError:
            shutil.rmtree(tp, ignore_errors=True)  # lost the race: reuse
    print(f"[bench_crawl] warm corpus ready {time.monotonic() - T0:.1f}s",
          file=sys.stderr)
    wwd = tempfile.mkdtemp(prefix="warm_wd_")
    warm_pages = read_bucketed_pages(spark, warm_root + "/p")
    warm_seeds = [page_url(h, p) for h in range(2) for p in range(20)]
    run_crawl(spark, warm_pages, warm_seeds, wwd,
              CrawlConfig(max_depth=2, max_pages=1 << 40,
                          failure_stop=1 << 40, arbitration="scale",
                          max_rounds=2, trace=False))
    shutil.rmtree(wwd, ignore_errors=True)
    print(f"[bench_crawl] warmup done {time.monotonic() - T0:.1f}s",
          file=sys.stderr)

    # warm the page cache + parquet footers so the timed run measures the
    # engine, not cold disk
    from pyspark.sql import functions as F
    pages.select(F.sum(F.length("html"))).collect()
    print(f"[bench_crawl] cache warm done {time.monotonic() - T0:.1f}s",
          file=sys.stderr)
    seeds = [page_url(h, 0) for h in range(n_hosts)]
    workdir = tempfile.mkdtemp(prefix="bench_crawl_")
    cfg = CrawlConfig(max_depth=depth, max_pages=1 << 40,
                      failure_stop=1 << 40, arbitration="scale",
                      max_rounds=depth + 1, trace=False)
    t0 = time.monotonic()
    state = run_crawl(spark, pages, seeds, workdir, cfg)
    wall = time.monotonic() - t0
    # corpus shape is only known to the harness that BUILT the corpus -
    # bench.py passes it as argv[5]; a standalone run records None and
    # speedup_vs_baseline then refuses the (incomparable) crawl ratio
    shape = json.loads(sys.argv[5]) if len(sys.argv) > 5 else None
    out = {
        "threads": threads,
        "corpus": shape,
        "pages_fetched": state.pages_crawled,
        "rounds": state.round,
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(state.pages_crawled / wall, 2),
        "rounds_per_hour": round(state.round / (wall / 3600), 1),
        "round_walls": [m["wall_sec"] for m in state.metrics],
        "round_fetched": [m["fetched"] for m in state.metrics],
        "stage_walls": [m.get("stage_wall", {}) for m in state.metrics],
    }
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
