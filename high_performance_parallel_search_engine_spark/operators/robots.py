"""Robots rules (north_rule requirement; the reference only DOCUMENTS robots
compliance - Serial Version/docs/architecture.md:26 - and implements none, so
these semantics are ours, specified in kernel/bfs.py:robots_allowed).

Rules table: (host, rule 'allow'|'disallow', path_prefix). Longest matching
prefix wins; equal-length tie -> disallow; no matching rule / no rules for
host -> allow. Applied as a broadcast join of the rules grouped per host
(rules tables are tiny relative to frontiers, and the join never shuffles
the frontier).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urlsql import base_domain_col
from .common import local_frame


def parse_robots_txt(host: str, text: str,
                     agent: str = "*") -> list[tuple[str, str, str]]:
    """Parse a robots.txt body into our (host, rule, path_prefix) tuples.

    Standard group semantics: rules apply from every `User-agent:` group
    whose agent token is `*` or equals `agent` (case-insensitive);
    `Allow:`/`Disallow:` lines outside any group are ignored; comments
    (#...) and blank lines stripped; `Disallow:` with an empty path is the
    spec's allow-all and contributes no rule (our no-match default is
    already allow). Unknown directives (Crawl-delay, Sitemap) are skipped.
    """
    rules: list[tuple[str, str, str]] = []
    active = False
    in_group_header = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            # consecutive user-agent lines open ONE group matching any of them
            if not in_group_header:
                active = False
            in_group_header = True
            if val == "*" or val.lower() == agent.lower():
                active = True
            continue
        in_group_header = False
        if key in ("allow", "disallow") and active and val:
            rules.append((host, key, val))
    return rules


def robots_rules_from_df(robots_txt: DataFrame, agent: str = "*",
                         host_col: str = "host",
                         text_col: str = "robots_txt") -> DataFrame:
    """Distributed robots.txt ingestion: (host, robots_txt) -> exploded
    (host, rule, path_prefix) rules table via one Arrow pass - at 10^7 hosts
    the parse runs where the bodies live and only the tiny rules table
    returns. Collect the result into CrawlConfig.robots (robots_table)."""
    from pyspark.sql.types import (
        ArrayType, StringType, StructField, StructType,
    )

    out_t = ArrayType(StructType([StructField("rule", StringType()),
                                  StructField("path_prefix", StringType())]))

    @F.pandas_udf(out_t)
    def parse_udf(host: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series([
            [(r, p) for _h, r, p in parse_robots_txt(h or "", t or "",
                                                     agent=agent)]
            for h, t in zip(host, text)])

    return (robots_txt
            .select(F.col(host_col).alias("host"),
                    F.explode(parse_udf(F.col(host_col), F.col(text_col)))
                    .alias("_r"))
            .select("host", F.col("_r.rule").alias("rule"),
                    F.col("_r.path_prefix").alias("path_prefix")))


def robots_table(spark: SparkSession,
                 rules: list[tuple[str, str, str]] | None) -> DataFrame | None:
    """(host, rule, path_prefix) rules grouped per host on the driver: one
    row per host holding its (rule, path_prefix) array, or None without
    rules. A crawl builds it once (run_crawl) and joins it every round.

    The driver-side build dominates at scale: a 50k-row gate read 13-19 s
    at 10^6 hosts with 2 rules each (local[4]), where the 58 MB Arrow table
    passes localRelationThreshold and ships as a JVM-side RDD."""
    if not rules:
        return None
    by_host: dict[str, list[tuple[str, str]]] = {}
    for host, rule, prefix in rules:
        by_host.setdefault(host, []).append((rule, prefix))
    return local_frame(
        spark, list(by_host.items()),
        "host string, _rules array<struct<rule:string,path_prefix:string>>")


def apply_robots(df: DataFrame, table: DataFrame | None) -> DataFrame:
    """Adds `robots_ok` boolean to a (url, host, ...) frame from a
    robots_table. The table is broadcast-joined on host, so each `df` row
    costs one hash lookup plus a pass over its own host's rules, and `df`
    is never shuffled or regrouped."""
    if table is None:
        return df.withColumn("robots_ok", F.lit(True))
    path = F.substring(F.col("url"),
                       F.length(base_domain_col(F.col("url"))) + 1, 1 << 30)
    path = F.when(path == "", "/").otherwise(path)
    match = F.filter("_rules", lambda r: path.startswith(r["path_prefix"]))

    def longest(rs):
        return F.array_max(F.transform(rs, lambda r: F.length(r["path_prefix"])))

    best = longest(match)
    dis_best = longest(F.filter(match, lambda r: r["rule"] == "disallow"))
    # longest match wins; a disallow at the winning length beats an allow
    return (df.join(F.broadcast(table), on="host", how="left")
            .withColumn("robots_ok", best.isNull()
                        | (F.coalesce(dis_best, F.lit(-1)) < best))
            .drop("_rules"))
