"""Shared distributed primitives."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def with_global_seq_counted(df: DataFrame, order_cols: list[str],
                            col_name: str = "seq",
                            offset: int = 0) -> tuple[DataFrame, int]:
    """Deterministic dense global sequence following `order_cols`, fully
    JVM-side and distributed (no single-partition sort, no Python row
    round-trip): range-repartition + per-partition sort (materialized), a
    tiny per-partition count collect, then row_number within partition plus
    the partition's global offset. The serial reference's FIFO positions
    become this column. Returns (df_with_seq, row_count).
    """
    from pyspark.sql import Window

    sdf = (df.repartitionByRange(*order_cols)
           .sortWithinPartitions(*order_cols)
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=True))
    counts = {r["_pid"]: r["n"] for r in
              sdf.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    offsets = {}
    acc = offset
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        omap = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv])
        off = F.coalesce(omap[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (sdf.withColumn(
        col_name,
        (F.row_number().over(w) - 1 + off).cast(LongType()))
        .drop("_pid"))
    return out, total


def seen_anti_join(candidates: DataFrame, seen: DataFrame,
                   key: str = "url") -> DataFrame:
    """URL-seen dedup: an exact xxhash64-keyed left-anti join (north_rule).

    There is no bloom pre-filter: Catalyst's runtime filter
    (InjectRuntimeFilter) only prunes a join side the join may drop rows
    from, and a left-anti join keeps the unmatched candidate rows, so it
    never applies here. The key is pre-hashed with xxhash64 into the join
    so the shuffle exchanges 8-byte keys + url payload rather than
    comparing long strings during the hash join probe; the url stays in
    the join condition, so a hash collision cannot drop a candidate.
    """
    k = F.xxhash64(F.col(key))
    c = candidates.withColumn("_kh", k)
    s = seen.select(F.col(key), k.alias("_kh"))
    return c.join(s, ["_kh", key], "left_anti").drop("_kh")
