"""Serve the S8 dashboard API over a crawl workdir or a published store.

    python tools/serve_api.py --workdir /data/crawl [--pages-table P]
                              [--port 8080] [-t THREADS]
    python tools/serve_api.py --index-store /data/store [--port 8080]

Endpoints: GET /api/status, GET /api/metrics, POST /api/search
{"query": ..., "limit": 10}, POST /api/crawl {"start_url": ...,
"depth": 2, "max_pages": 10}. A store-backed server (--index-store,
publish with the CLI's --publish-index) is a read-only serving tier:
/api/crawl answers 400.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir")
    ap.add_argument("--pages-table")
    ap.add_argument("--index-store",
                    help="serve a published term-bucketed store instead "
                         "of indexing a crawl workdir (read-only)")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("-t", "--threads", type=int, default=None)
    args = ap.parse_args()
    if not (args.workdir or args.index_store):
        ap.error("one of --workdir or --index-store is required")

    from high_performance_parallel_search_engine_spark.api import make_server
    from high_performance_parallel_search_engine_spark.session import (
        build_session,
    )
    from high_performance_parallel_search_engine_spark.sources.tables import (
        read_pages_table,
    )

    master = f"local[{args.threads}]" if args.threads else None
    spark = build_session("hppse-api", master=master,
                          shuffle_partitions=args.threads)
    pages = (read_pages_table(spark, args.pages_table)
             if args.pages_table else None)
    srv = make_server(spark, args.workdir, pages, port=args.port,
                      index_store=args.index_store)
    print(f"serving on http://127.0.0.1:{srv.server_address[1]}")
    srv.serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main())
