"""Readers for the driver-provided testdata parquet tables (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                names=TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


# --- bucket-partitioned pages table (the 100 TB fetch-join design) ----------
#
# The Iceberg bucket(url) transform, expressed in plain parquet: pages are
# written under bucket=pmod(xxhash64(url), B) partition directories. A crawl
# round whose frontier touches only a few buckets then PRUNES the corpus
# scan to those directories (partition pruning) instead of scanning 100 TB
# to probe a small frontier - the per-round fixed cost that dominates small
# rounds. The bucket ids are derived from the same xxhash64(url) the engine
# uses everywhere, so any engine can recompute them.

BUCKETING_META = "_bucketing.json"


def write_bucketed_pages(df: DataFrame, path: str, n_buckets: int = 64,
                         sort_within_buckets: bool = True,
                         row_group_bytes: int = 4 * 1024 * 1024) -> None:
    """Write (url, warc_ts, html, lang, ...) partitioned by url-hash bucket.

    With sort_within_buckets (default), each bucket's file is url-SORTED
    and written with small parquet row groups: row-group min/max stats and
    page indexes then make a pushed `url IN (frontier)` predicate prune a
    point lookup down to the few row groups actually holding those urls -
    the Iceberg sorted-data-file layout, and what turns a small crawl
    round against a 100 TB corpus from 'scan the frontier's buckets' into
    'read a handful of row groups per bucket'."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    # repartition by bucket first: each write task then emits one file into
    # one directory instead of holding n_buckets open writers
    out = (df.withColumn("bucket",
                         F.pmod(F.xxhash64("url"),
                                F.lit(n_buckets)).cast("int"))
           .repartition(n_buckets, "bucket"))
    w = out.write.mode("overwrite")
    if sort_within_buckets:
        out = out.sortWithinPartitions("url")
        w = (out.write.mode("overwrite")
             .option("parquet.block.size", str(row_group_bytes)))
    w.partitionBy("bucket").parquet(path)
    Path(path, BUCKETING_META).write_text(
        json.dumps({"n_buckets": n_buckets, "key": "pmod(xxhash64(url), B)",
                    "sorted_by": "url" if sort_within_buckets else None}))


def read_bucketed_pages(spark: SparkSession, path: str) -> DataFrame:
    """The pages table write_bucketed_pages wrote, its `bucket` column
    carrying the table's bucket count B from _bucketing.json as field
    metadata {"n_buckets": B}: the crawl reads B there (bucket_count), so
    B has one source and cannot disagree with the files. The alias is what
    attaches it (spark.read.schema(...) drops field metadata); it survives
    filters, and partition filters on `bucket` still reach the scan."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    meta = json.loads((Path(path) / BUCKETING_META).read_text())
    return spark.read.parquet(path).withColumn(
        "bucket", F.col("bucket").alias(
            "bucket", metadata={"n_buckets": int(meta["n_buckets"])}))


def read_pages_table(spark: SparkSession, path: str) -> DataFrame:
    """A pages table by path, as the crawl reads it: (url, warc_ts, html,
    lang), plus the `bucket` column read_bucketed_pages gives when the
    table carries write_bucketed_pages' sidecar, so its fetch scans prune
    buckets. Any other parquet table reads plain (unbucketed)."""
    from pathlib import Path

    cols = ["url", "warc_ts", "html", "lang"]
    if (Path(path) / BUCKETING_META).is_file():
        return read_bucketed_pages(spark, path).select(*cols, "bucket")
    return spark.read.parquet(path).select(*cols)


def bucket_count(pages: DataFrame) -> int | None:
    """B of a frame from read_bucketed_pages; None for any other frame,
    which then counts as unbucketed (no bucket pruning, still correct)."""
    if "bucket" not in pages.columns:
        return None
    return pages.schema["bucket"].metadata.get("n_buckets")
