"""Frontier-as-stream: the optional Structured Streaming formulation.

The reference crawler is a batch-iterative BFS (SURVEY.md §1.3) and the
parity engine models it as checkpointed rounds. This module provides the
streaming view for continuous-crawl deployments: newly fetched pages arrive
as a stream (file source over the round snapshots, or any queue source in
production), and the same extraction + canonicalization + politeness
accounting runs incrementally with watermarked event-time windows.

Demonstrated operators:
- streaming read of the pages snapshots (schema-stable file source),
- the SAME one-pass Arrow extraction UDF as the batch engine,
- candidate link explosion + validity filtering (identical Columns),
- watermark + per-host tumbling-window fetch counts (the politeness
  monitor), written with update semantics.

foreachBatch is the bridge for the stateful pieces that need the batch
engine (URL-seen anti-join against the cumulative snapshot): each
micro-batch calls the same seen_anti_join operator - one code path for
both execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import html_text_and_links
from ..functions.urlsql import host_col, valid_crawl_url_col

PAGES_STREAM_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                       "lang string")


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(PAGES_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """Incremental extraction: text + candidate links per arriving page."""
    ex = html_text_and_links(pages_stream)
    return ex.select(
        "url", "warc_ts", "text",
        F.posexplode_outer("links").alias("link_idx", "candidate"),
    ).withColumn("candidate_host", host_col(F.col("candidate")))


def politeness_monitor(pages_stream: DataFrame,
                       window: str = "10 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Watermarked per-host fetch counts per event-time window - the
    streaming politeness/lineage dashboard. Late pages beyond the watermark
    are dropped (documented, late-data policy)."""
    return (
        pages_stream
        .withColumn("host", host_col(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(F.count("*").alias("fetches"),
             F.sum(F.length("html")).alias("bytes"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "host", "fetches",
                "bytes")
    )


def stream_candidates_to_frontier(spark: SparkSession, pages_path: str,
                                  url_seen_path: str, out_path: str,
                                  checkpoint: str, base_domain: str):
    """foreachBatch bridge: per micro-batch, run the batch dedup operators
    (seen_anti_join) against the cumulative url_seen snapshot and append new
    frontier candidates. One operator code path for batch and streaming."""
    from ..operators.common import seen_anti_join

    stream = extract_stream(read_pages_stream(spark, pages_path))
    cands = (stream.where(F.col("candidate").isNotNull())
             .select(F.col("candidate").alias("url"), "candidate_host",
                     "link_idx")
             .where(valid_crawl_url_col(F.col("url"), F.lit(base_domain))))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seen = batch_df.sparkSession.read.parquet(url_seen_path)
        new = seen_anti_join(batch_df, seen).dropDuplicates(["url"])
        new.withColumn("batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(out_path)

    return (cands.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
