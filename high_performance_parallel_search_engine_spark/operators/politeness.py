"""Per-host politeness budgets (north_rule; reference analog: the 200-500 ms
inter-request sleep at Serial Version/src/crawler.c:1380 and
MAX_URLS_PER_DOMAIN=50 at Serial Version/config.ini:12, which the C code
documents but never enforces - the budget semantics here are OURS, specified
by kernel/bfs.py).

Within one round, at most `budget(host)` frontier entries per host proceed
to fetch, chosen in frontier (seq) order; the rest are deferred to the next
round. delay accounting: delay_ms = crc32(url) % 300 + 200 per attempt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def delay_ms_col(url):
    """Deterministic politeness-delay accounting (crc32 is identical in
    java.util.zip.CRC32 / zlib / DuckDB-less oracle)."""
    return (F.crc32(url.cast("binary")) % 300 + 200).cast("int")


def apply_budget(df: DataFrame, budgets: DataFrame | None,
                 fallback_budget: int | None,
                 host_col: str = "host", order_col: str = "seq") -> DataFrame:
    """Adds `fetch_now` boolean. `budgets` is a small (host,
    max_fetches_per_round) table - broadcast joined; `fallback_budget` covers
    hosts without a row (None = unlimited).

    Skew note: row_number forces each host into one partition. A hot host
    with a huge frontier only ever needs its first `budget` rows, so we
    pre-prune with a SALTED two-phase top-k: per (host, salt) keep the
    smallest `budget` seqs, then rank exactly over the pruned (<= 16*budget
    rows/host) remainder. The full frontier never converges on one task.
    """
    if budgets is None and fallback_budget is None:
        return df.withColumn("fetch_now", F.lit(True))
    if budgets is not None:
        df = df.join(F.broadcast(budgets), on=host_col, how="left")
        bud = F.coalesce(F.col("max_fetches_per_round"),
                         F.lit(fallback_budget).cast("int"))
    else:
        bud = F.lit(fallback_budget).cast("int")
    df = df.withColumn("_budget", bud)

    # phase 1: salted partial top-k (cheap prune for hot hosts)
    salt = (F.xxhash64(F.col("url")) % 16).cast("int")
    w_salt = Window.partitionBy(host_col, "_salt").orderBy(order_col)
    pruned = (df.withColumn("_salt", salt)
                .withColumn("_r1", F.row_number().over(w_salt)))
    survivors = pruned.where(F.col("_budget").isNull()
                             | (F.col("_r1") <= F.col("_budget")))
    overflow = pruned.where(F.col("_budget").isNotNull()
                            & (F.col("_r1") > F.col("_budget")))

    # phase 2: exact rank over the pruned set
    w_host = Window.partitionBy(host_col).orderBy(order_col)
    ranked = survivors.withColumn("_r2", F.row_number().over(w_host))
    kept = ranked.withColumn(
        "fetch_now",
        F.col("_budget").isNull() | (F.col("_r2") <= F.col("_budget")))
    out = kept.drop("_r1", "_r2", "_salt").unionByName(
        overflow.drop("_r1", "_salt").withColumn("fetch_now", F.lit(False)))
    drop = ["_budget"] + (["max_fetches_per_round"] if budgets is not None else [])
    return out.drop(*drop)
