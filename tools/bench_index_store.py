"""Measure what the term-bucketed postings store buys at query time.

Two physical layouts of the SAME postings table (deterministic synthetic
corpus, built in-process — no external data):

- plain:  parquet in document order; a BM25 query's candidate-term filter
          reaches the scan as `In(term, ...)` PushedFilters, but common
          terms appear in every row group's dictionary, so every row group
          of every file is still decoded.
- store:  `save_postings_bucketed` (CLUSTERED/SORTED BY term); the same
          filter prunes the scan to the buckets the terms hash to
          (`SelectedBucketsCount: k out of B`) and row groups are
          term-sorted for min/max pruning inside each bucket.

Also times the full-vocabulary term_df aggregation on both layouts: on the
store the bucketing satisfies the hash distribution, so the Exchange
disappears from the plan.

Run ALONE (never concurrently with another Spark bench). Writes one JSON
artifact (default bench_index_store.json) and prints it.

Usage: python tools/bench_index_store.py [out.json] [n_docs]
"""

import json
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from high_performance_parallel_search_engine_spark.operators.index import (  # noqa: E402
    build_index_tables, term_df)
from high_performance_parallel_search_engine_spark.operators.index_store import (  # noqa: E402
    save_postings_bucketed, selected_buckets)
from high_performance_parallel_search_engine_spark.operators.ranking import (  # noqa: E402
    rank_bm25)
from high_performance_parallel_search_engine_spark.plans.lineage import (  # noqa: E402
    explain_text)
from high_performance_parallel_search_engine_spark.session import (  # noqa: E402
    build_session)

N_DOCS = 200_000
TOKENS_PER_DOC = 100
VOCAB = 20_000
BUCKETS = 64
REPS = 5
QUERIES = ["w101 w2202", "w777 w8080 w15000", "w42 w4242 w424 w2",
           "w19999 w1", "w3141 w2718 w1618"]


def hash_docs_df(spark, n_docs: int):
    """Deterministic pure-Column corpus: token i of doc d is
    w<xxhash64(d*T+i) mod V>. Never materializes on the driver."""
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.expr(
                        f"array_join(transform(sequence(1, "
                        f"{TOKENS_PER_DOC}), i -> concat('w', "
                        f"pmod(xxhash64(id * {TOKENS_PER_DOC} + i), "
                        f"{VOCAB}))), ' ')").alias("text")))


def _median_wall(fn, reps: int = REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "bench_index_store.json"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else N_DOCS
    spark = build_session("bench-index-store", master="local[32]",
                          shuffle_partitions=32)
    import tempfile
    work = tempfile.mkdtemp(prefix="bench-ixstore-")

    docs = hash_docs_df(spark, n_docs)
    postings, stats_df = build_index_tables(docs)
    plain_path = f"{work}/plain_postings"
    postings.write.parquet(plain_path)
    plain = spark.read.parquet(plain_path)
    n_postings = plain.count()
    stats = stats_df.cache()
    total = stats.count()
    avg_dl = stats.groupBy().avg("dl").collect()[0][0]

    store = save_postings_bucketed(plain, f"{work}/store",
                                   table="bench_ix_store", buckets=BUCKETS)

    engines = {"plain": plain, "store": store}
    per_query: dict[str, dict] = {}
    for q in QUERIES:
        row: dict = {}
        results = {}
        for name, eng in engines.items():
            ranked = rank_bm25(eng, stats, q, total_docs=total,
                               avg_dl=avg_dl, top_k=10)
            results[name] = sorted(map(tuple, ranked.collect()))
            row[f"{name}_ms"] = round(_median_wall(
                lambda r=ranked: r.collect()) * 1000, 1)
        assert results["plain"] == results["store"], f"mismatch on {q!r}"
        ranked_store = rank_bm25(store, stats, q, total_docs=total,
                                 avg_dl=avg_dl, top_k=10)
        sel = selected_buckets(ranked_store)
        row["buckets"] = f"{sel[0]}/{sel[1]}" if sel else None
        row["speedup"] = round(row["plain_ms"] / row["store_ms"], 2)
        per_query[q] = row

    # full-vocab document frequency: Exchange vs exchange-free
    df_walls = {}
    for name, eng in engines.items():
        agg = term_df(eng)
        df_walls[name] = round(_median_wall(
            lambda a=agg: a.count(), reps=3) * 1000, 1)
    exch_free = "Exchange" not in explain_text(term_df(store), "simple")

    speedups = [r["speedup"] for r in per_query.values()]
    out = {
        "metric": "index_store_vs_plain_query_median_speedup",
        "value": round(statistics.median(speedups), 2),
        "unit": "x",
        "n_docs": n_docs, "n_postings": n_postings, "vocab": VOCAB,
        "buckets": BUCKETS, "reps": REPS,
        "queries": per_query,
        "term_df_ms": df_walls,
        "term_df_store_exchange_free": exch_free,
        "results_identical": True,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
