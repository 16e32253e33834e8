"""SparkSession builder with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "hppse-spark", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    """local[$SPARK_GRAFT_CPUS] by default; AQE + Arrow on. On a real
    cluster the same builder is used by spark-submit (master from env)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app).master(master)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffle feeding a .cache() too (off by
        # default): a warm index cached at session width (32 shuffle
        # partitions of a few hundred KB) otherwise schedules 32 near-empty
        # scan tasks on every interactive query. Measured on the sf0.1 warm
        # BM25 path: cached postings 32 -> 1 partition, query median
        # 456 -> 433 ms (min 424 -> 379). Partitioning-only - results are
        # unchanged; large cached tables keep their width (AQE only
        # coalesces below the advisory partition size).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Arrow for pandas UDFs / mapInPandas (the extraction hot path).
        # Batch size is tuned for FAT rows (~10 KB html pages): 256 rows
        # ~= 2.5 MB per Arrow batch. Measured on the bench corpus
        # (tools/bench_extract_stage.py, median of 3, text-only extract):
        # 2048 rows -> 27 s / 10000 -> 29 s / 512 -> 15 s / 256 -> 13.8 s /
        # 128 -> 16.7 s at local[32]; 256 also wins at 8 pinned cores
        # (45 s vs 49 s at 512). Big batches stall the JVM->Python pipeline
        # and thrash the allocator; tiny ones pay per-batch overhead.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # shuffle sizing: small local runs want fewer partitions than the
        # 200 default; a real cluster overrides via spark-submit --conf
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions
                    or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # point-lookup pushdown: small crawl frontiers push `url IN (...)`
        # into the parquet scan (operators/crawl._prune_and_pushdown);
        # the default threshold (10) would collapse big IN lists to a
        # min/max range, which prunes nothing on hash-distributed urls -
        # raise it so the whole list reaches the row-group/page-index stats.
        # Kept just above URL_PUSHDOWN_MAX (512), NOT higher: parquet-mr
        # evaluates the lowered left-deep Or tree recursively, and a
        # 4096-value list overflowed the task stack (see crawl.py's
        # URL_PUSHDOWN_MAX note); past this threshold Spark's min/max
        # degradation is the safe behavior, not a missed optimization
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "600")
        # generated-code cache: whole-stage-codegen classes live in an LRU
        # of spark.sql.codegen.cache.maxEntries (default 100). A whole
        # perfbench `serve` run generates 244-256 distinct classes and a
        # whole `crawl_exact` run (2-round crawls) 132-142, each op in the
        # same order, so at 100 every op evicted its own classes and a warm
        # op re-ran Janino (14 ms mean a class, 4 cores) and then the JIT on
        # 171-176 (serve) or 103-138 (crawl) of them. 1000 holds either
        # working set ~4x over; a warm op now compiles 0-8. Static: only
        # the conf the JVM starts with counts (spark-submit must pass it).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # keep the whole-stage codegen stage id out of the generated class
        # name, the one place it reaches the code text the cache is keyed
        # on. AQE creates a plan's independent query stages concurrently,
        # so their ids follow a race: rank_bm25_batch without corpus stats
        # (the stats aggregate and the doc_stats scan are two leaf stages)
        # swapped ids 1 and 2 in 5 of 180 repeats, and each swap recompiled
        # 4 otherwise identical classes. Without the id: 0 of 80.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """How many generated classes this JVM has compiled so far (Janino runs,
    from CodegenMetrics). Process-wide: it counts every session and thread
    of the driver JVM, so a delta across a call also counts whatever ran
    concurrently with it. Under local[n] the tasks run in that JVM too; on
    a cluster each executor JVM compiles (and counts) its own copies."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
