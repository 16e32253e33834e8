"""Shared distributed primitives."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType


def arrow_table(rows: list[tuple], schema: StructType):
    """Row tuples as a pyarrow Table in `schema`'s Arrow types (nested
    structs may be tuples)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A driver-side row list as a DataFrame with exactly `schema` (a
    StructType or DDL string), sent to the JVM as Arrow. Below
    spark.sql.execution.arrow.localRelationThreshold it plans as a
    LocalTableScan; above it, as a JVM-side RDD of Arrow batches. Neither
    starts a Python worker, unlike createDataFrame(<list>), whose
    parallelize + pickle path runs a Python task per partition every time
    the frame is scanned or broadcast."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


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
