"""The crawl engine: BSP fetch rounds over a pages table.

Re-expression of the serial crawl loop (Serial Version/src/crawler.c:
1032-1403) as checkpointed Spark jobs - one committed round per BFS level,
18 jobs in an exact (trace) round - with exact crawl-order parity (proved
against kernel/bfs.py, itself proved against a literal FIFO simulation).
Every round runs one pipeline (run_round):

  frontier_r --(gates, one frame: validity c.c:1082, robots (ours) and
  politeness budget (ours) tag every valid row attempt / robots_denied /
  deferred)--> --(fetch = join vs the narrowed pages scan; gate
  c.c:1115+848)--> --(extract text+links, ONE Arrow pass,
  c.c:134-437/685-746, written as pages.parquet)-->
  --(candidate validity vs global seed domain, c.c:1305)-->
  --(cross-round URL-seen anti-join, c.c:1320)-->
  --(intra-round arbitration: first-occurrence dedup + <=20/page cap,
     c.c:1299-1341)--> frontier_{r+1}, url_seen delta, manifest commit

CrawlConfig.trace (exact parity, the default) materializes the gate frame
once, with the slim fetch gate's `ok` on it: the stop cutoff (c.c:1075:
maxPages + 10-consecutive-failures), the event trace (events.parquet), the
extraction's fetch set and the deferred rows all read that one checkpoint.
Invariant: a trace-mode frontier's `seq` is DENSE - frontier_r holds
base..base+n-1 (base = next_seq - next_frontier_rows) in serial FIFO
order. So an event's seq is arithmetic on its frontier row's seq, and the
next frontier is numbered inside the exact arbitration pass
(operators/arbitrate.py); no round runs a global numbering pass. Without
trace, child `seq` is xxhash64(url), arbitration is 'scale' and the stops
must be unbounded.

Scale design notes (the 100 TB story):
- html bytes never cross a shuffle: the fetch gate joins a slim projection
  (url, length(html)), and the extraction join broadcasts the fetch rows
  against the scan in place;
- the stop cutoff runs as aggregates riding the gate checkpoint when no
  stop can possibly bind this round (the common case) and only falls back
  to an ordered window in the crawl's final round;
- frontier/url_seen snapshots are parquet-per-round with a manifest commit
  marker (Iceberg-snapshot semantics without the runtime dep); url_seen is
  stored as per-round DELTAS, read back as a multi-path union - O(new urls)
  write amplification per round;
- the url_seen check is an exact xxhash64-keyed left-anti join
  (common.seen_anti_join);
- frontiers repartition by salted host before the politeness window
  (operators/politeness.py) - hot hosts cannot serialize a task;
- per-round metrics + per-partition lineage land in metrics.json next to
  each snapshot; their counts ride jobs that already run (Observations on
  the writes and checkpoints), not standalone count jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, fields, replace
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)
from pyspark.util import inheritable_thread_target

from ..functions.udfs import html_text_and_links
from ..functions.urlsql import (
    host_col,
    is_html_content_url_col,
    url_diversity_col,
    url_priority_col,
    valid_crawl_url_col,
)
from ..session import codegen_compiles
from ..sources.tables import bucket_count
from .arbitrate import (
    MAX_LINKS_PER_PAGE, arbitrate_exact, arbitrate_scale, arbitration_mode,
)
from .common import (
    arrow_table, local_frame, seen_anti_join, with_global_seq_counted,
)
from .politeness import apply_budget, delay_ms_col
from .robots import apply_robots, robots_table

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("depth", IntegerType()),
    StructField("parent_url", StringType()),
    StructField("base_domain", StringType()),
    StructField("seq", LongType()),
])

@dataclass
class CrawlConfig:
    max_depth: int = 2
    max_pages: int = 10
    failure_stop: int = 10
    max_links_per_page: int = MAX_LINKS_PER_PAGE
    # host -> per-round fetch budget; "*" covers every other host, and no
    # "*" key means unlimited (parity mode)
    politeness: dict[str, int] | None = None
    robots: list[tuple[str, str, str]] | None = None  # (host, rule, prefix)
    # False = FIFO; True = north_rule queue (classifier + host in-degree +
    # recency); 'openmp' = the reference's combined insertion policy
    # (priority + diversity, insert at 0 / n/4 / n/2; crawler.c:693-731).
    # Both order the children inside the exact arbitration pass, so a
    # priority crawl always arbitrates exactly ('auto' resolves to exact,
    # an explicit 'scale' raises ValueError). Trace mode only: with
    # trace=False it raises ValueError.
    priority: bool | str = False
    # 'auto' | 'exact' | 'scale': auto = exact greedy below ~5M candidates
    # (event-for-event serial parity), distributed two-window pass above
    # (drops only the revival quirk; see operators/arbitrate.py). Parity
    # suites pin 'exact'; a default FIFO crawl never gets a repartition(1)
    # stage on a big frontier. Throughput mode (trace=False) always
    # arbitrates with 'scale', so it refuses 'exact' (ValueError).
    arbitration: str = "auto"
    max_rounds: int = 64                    # safety rail
    # trace=True (default, exact parity) materializes the round's gate frame
    # once with the fetch gate on it, applies the stop cutoff, writes the
    # event trace and keeps frontier `seq` dense (the serial FIFO position);
    # trace=False is throughput mode without them (requires unbounded
    # max_pages/failure_stop); ordering keys stay deterministic
    # (xxhash64(url)) but not FIFO-dense.
    trace: bool = True
    # merge url_seen deltas every k completed rounds (None = never);
    # bounds the multi-dir anti-join fan-in on long crawls
    compact_every: int | None = None
    # frontiers up to this size push their exact url list into the pages
    # scan (point-lookup pushdown; see _prune_and_pushdown). "auto"
    # (default) resolves ONCE per crawl from the bucket files' sizes
    # (resolve_pushdown_max): one JVM-safe In chunk (512) when buckets
    # hold single-digit row groups - there extra branch scans cost more
    # than they prune (interleaved A/B on the politeness-stretched long
    # crawl: 40 s without mid-size pushdown vs 62 s with) - and
    # URL_PUSHDOWN_MAX (4096) when the average bucket file spans many row
    # groups, the 100 TB regime where O(k)-row-group point reads beat
    # scanning whole buckets. Any setting stays JVM-safe via <=512-value
    # chunking; pass an int (or None = JVM max) to pin the regime.
    url_pushdown_max: int | str | None = "auto"

    def to_json(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


@dataclass
class CrawlState:
    round: int = 0
    pages_crawled: int = 0
    fail_carry: int = 0
    next_seq: int = 0
    next_event_seq: int = 0
    next_frontier_rows: int = 0
    stopped: str | None = None
    metrics: list[dict] = field(default_factory=list)


def _round_dir(workdir: str, rnd: int) -> Path:
    return Path(workdir) / f"round={rnd:05d}"


def init_crawl(spark: SparkSession, seeds: list[str], workdir: str,
               config: CrawlConfig) -> CrawlState:
    """Normalize + dedup seeds (crawler.c:1046-1063), write the round-0
    frontier and seed url_seen delta. Both are a few in-memory rows,
    written with pyarrow in FRONTIER_SCHEMA's types: no Spark job."""
    from ..kernel.urls import extract_base_domain, normalize_url, url_host

    rows = []
    seen = set()
    for s in seeds:
        ns = normalize_url(s)
        if not ns or ns in seen:
            continue
        seen.add(ns)
        rows.append((ns, url_host(ns), 1, None, extract_base_domain(s),
                     len(rows)))
    d = _round_dir(workdir, -1)
    _write_rows(d / "frontier_next.parquet", rows, FRONTIER_SCHEMA)
    _write_rows(d / "url_seen_delta.parquet", [r[:1] for r in rows],
                StructType(FRONTIER_SCHEMA.fields[:1]))
    # the init manifest records round=-1 so load_state resumes AT round 0
    state = CrawlState(round=-1, next_seq=len(rows),
                       next_frontier_rows=len(rows))
    _write_manifest(d, state, config, {"seeds": len(rows)})
    state.round = 0
    return state


def _write_rows(path: Path, rows: list[tuple], schema: StructType) -> None:
    """An in-memory row list as a one-file parquet dir that Spark reads
    with `schema`."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    pq.write_table(arrow_table(rows, schema),
                   str(path / "part-00000-init.parquet"))


def _write_text(path: Path, text: str) -> None:
    """Write through a temp file in the same dir, then os.replace: a kill
    mid-write leaves the old file (or none), never a truncated one - a
    truncated manifest.json would be taken as the latest commit."""
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(text)
    os.replace(tmp, path)


def _write_manifest(d: Path, state: CrawlState, config: CrawlConfig,
                    metrics: dict) -> None:
    _write_text(d / "manifest.json", json.dumps({
        "round": state.round, "pages_crawled": state.pages_crawled,
        "fail_carry": state.fail_carry, "next_seq": state.next_seq,
        "next_event_seq": state.next_event_seq,
        "next_frontier_rows": state.next_frontier_rows,
        "stopped": state.stopped,
        "config": config.to_json(), "metrics": metrics,
    }, indent=1))


def load_state(workdir: str,
               from_round: int | None = None) -> tuple[CrawlState, CrawlConfig, int]:
    """Resume: find the latest committed round (manifest present), or the
    specific `from_round` snapshot. Returns (state, config, last_round)."""
    dirs = (sorted(Path(workdir).glob("round=*")) if from_round is None
            else [_round_dir(workdir, from_round)])
    committed = [d for d in dirs if (d / "manifest.json").exists()]
    last = committed[-1] if committed else None
    if last is None:
        raise FileNotFoundError(
            f"no committed round{'' if from_round is None else f' {from_round}'}"
            f" under {workdir}")
    m = json.loads((last / "manifest.json").read_text())
    # keys that are no longer CrawlConfig fields (older manifests carry
    # settings that were removed) are dropped
    cfg_json = {f.name: m["config"][f.name] for f in fields(CrawlConfig)
                if f.name in m["config"]}
    if cfg_json.get("robots") is not None:
        cfg_json["robots"] = [tuple(r) for r in cfg_json["robots"]]
    config = CrawlConfig(**cfg_json)
    state = CrawlState(
        round=m["round"] + 1, pages_crawled=m["pages_crawled"],
        fail_carry=m["fail_carry"], next_seq=m["next_seq"],
        next_event_seq=m["next_event_seq"],
        next_frontier_rows=m.get("next_frontier_rows", 0),
        stopped=m["stopped"])
    return state, config, m["round"]


def compact_url_seen(spark: SparkSession, workdir: str,
                     upto_round: int) -> int:
    """Merge all url_seen deltas up to `upto_round` into the init delta dir
    and remove the per-round ones - bounds the multi-dir union cost for
    long crawls (call every k rounds at production scale). Returns the
    compacted row count.

    Crash-consistent: after every step the deltas still union to the same
    url_seen set, so a resume after a kill anywhere in here replays
    exactly. (1) The compacted copy is written aside, counted on that
    write. (2) The rewind marker is replaced atomically. (3) The copy's
    files are renamed INTO the init delta dir, next to the old files
    (duplicate urls are harmless to the anti-join). (4) Only then are the
    old init files and the per-round deltas deleted."""
    tmp = Path(workdir) / "_url_seen_compact.tmp"
    obs = Observation("url_seen_compact")
    _read_url_seen(spark, workdir, upto_round) \
        .repartition(max(spark.sparkContext.defaultParallelism, 1)) \
        .observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite").parquet(str(tmp))
    n = obs.get["n"]
    # rewind barrier: resume_from cannot rewind past a compaction point
    # (per-round deltas before it no longer exist individually)
    _write_text(Path(workdir) / "_compacted_upto", str(upto_round - 1))
    init = _round_dir(workdir, -1) / "url_seen_delta.parquet"
    old = list(init.iterdir())
    for f in tmp.glob("*.parquet"):
        os.rename(f, init / f.name)
    for f in old:
        f.unlink()
    shutil.rmtree(tmp)
    for r in range(0, upto_round):
        shutil.rmtree(_round_dir(workdir, r) / "url_seen_delta.parquet",
                      ignore_errors=True)
    return n


def _read_url_seen(spark: SparkSession, workdir: str, upto_round: int) -> DataFrame:
    paths = [str(_round_dir(workdir, r) / "url_seen_delta.parquet")
             for r in range(-1, upto_round)]
    paths = [p for p in paths if Path(p).exists()]
    # explicit schema: every delta is written as a single `url` column
    # (init_crawl and run_round); skipping footer inference
    # removes one driver-synchronized 1-task job from every round
    return spark.read.schema("url string").parquet(*paths)


def _check_url_seen_deltas(workdir: str, upto_round: int) -> None:
    """Resume guard for _read_url_seen's explicit schema: a delta without a
    string `url` column (renamed, or from an older layout) would read as
    NULL urls, and the anti-join would silently re-admit urls it has
    already seen. Reads one parquet footer per delta dir with pyarrow;
    no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for r in range(-1, upto_round):
        d = _round_dir(workdir, r) / "url_seen_delta.parquet"
        part = min(d.glob("*.parquet"), default=None)
        if part is None:
            continue
        schema = pq.read_schema(part)
        url = schema.field("url").type if "url" in schema.names else None
        if url is None or not (pa.types.is_string(url)
                               or pa.types.is_large_string(url)):
            raise ValueError(
                f"cannot resume: url_seen delta {d} has no string `url` "
                f"column (schema: {schema.names})")


# "auto" pushdown-cap resolution: a bucket file at/above this size is
# assumed to span several parquet row groups (~128 MB = the spark/parquet
# default row-group target), so In-filter point lookups can actually SKIP
# row groups inside it and the wide cap wins; below it a bucket is ~one
# row group, every In branch re-reads the same groups, and the
# conservative one-chunk cap wins (measured A/B - see the CrawlConfig
# field comment).
AUTO_PUSHDOWN_BYTES_PER_BUCKET = 128 * 1024 * 1024


def resolve_pushdown_max(pages: DataFrame,
                         config: CrawlConfig) -> int | None:
    """Resolve CrawlConfig.url_pushdown_max="auto" to a concrete cap from
    the pages table's file sizes - driver-side file METADATA only, once
    per crawl (run_crawl), never per round. Conservative (one-chunk cap)
    whenever sizes can't be read cheaply: unbucketed table, non-local
    paths (object stores need a listing API call per file), empty table.
    An explicit int/None passes through untouched."""
    if config.url_pushdown_max != "auto":
        return config.url_pushdown_max
    B = bucket_count(pages)
    if not B:
        return URL_PUSHDOWN_CHUNK
    total = 0
    for f in pages.inputFiles():
        if not f.startswith("file:"):
            return URL_PUSHDOWN_CHUNK
        try:
            total += os.path.getsize(f[len("file:"):])
        except OSError:
            return URL_PUSHDOWN_CHUNK
    if total / B >= AUTO_PUSHDOWN_BYTES_PER_BUCKET:
        return URL_PUSHDOWN_MAX
    return URL_PUSHDOWN_CHUNK


# frontier sizes up to this push their url list into the pages scan; the
# collected list is a slim single column (4096 urls ~ 400 KB driver-side)
URL_PUSHDOWN_MAX = 4096
# ...but never as ONE In list: Spark's ParquetFilters lowers
# In(url, v1..vN) to a LEFT-DEEP binary Or tree (reduceLeft) and
# parquet-mr evaluates it by recursive visitor - stack depth O(N). A
# single 4096-value list blew the ~1 MB task stack (StackOverflowError
# inside FileScanRDD.hasNext, surfacing as scala.MatchError from
# FileDataSourceV2.attachFilePath and killing the crawl round); 579
# values ran fine. So the sorted url list is CHUNKED into <=512-value
# In filters (~300 KB recursion, >3x headroom - a hard JVM-safety bound,
# not a tuning knob) and the per-chunk scans are unioned. Sorting before
# chunking makes each chunk a contiguous url range, so each branch scan
# carries a tight implicit min/max over the url-sorted row groups. The
# session's parquet.pushdown.inFilterThreshold sits just above the chunk
# size: each chunk pushes whole, anything accidentally bigger degrades to
# Spark's safe min/max range instead of a deep Or tree.
URL_PUSHDOWN_CHUNK = 512


def _chunked_url_filter(pages: DataFrame, urls: list[str]) -> DataFrame:
    urls = sorted(urls)  # contiguous chunks -> tight min/max per branch
    parts = [pages.where(F.col("url").isin(urls[i:i + URL_PUSHDOWN_CHUNK]))
             for i in range(0, len(urls), URL_PUSHDOWN_CHUNK)]
    out = parts[0]
    for p in parts[1:]:  # disjoint chunks - union adds no duplicates
        out = out.unionByName(p)
    return out


def _coalesce_small_round(df: DataFrame, state: CrawlState,
                          scan_bounded: bool,
                          k_files: int | None = None) -> DataFrame:
    """Cap task fan-out on small rounds: a 32-url round otherwise schedules
    one extraction task per pruned bucket file (each paying a Python-worker
    Arrow round-trip of a near-empty batch) and commits that many parquet
    files. Coalesce (no shuffle - html bytes stay in place) to ~1 task per
    128 frontier urls, so tiny rounds run 2-4 tasks. Big rounds (> 4096)
    keep full scan parallelism.

    `scan_bounded` MUST be the flag returned by _prune_and_pushdown: the
    coalesce premise ('the scan is a handful of pruned bucket files /
    pushed row groups') only holds when bucket pruning or url pushdown
    actually bounded the pages scan. Without it (e.g. unbucketed corpus,
    513-4096-url frontier over the default url_pushdown_max=512) the round
    joins against the FULL corpus scan, and coalescing that to n//128
    tasks would serialize a large scan a 100 TB table cannot afford - so
    we keep full scan parallelism instead (ADVICE r4 #1).

    `k_files` (also from _prune_and_pushdown) is the number of bucket
    files the bounded scan still touches. Frontier size alone is the
    wrong cost model once pages are big: 150 urls hash into ~58 of 64
    buckets, so n//128 = 2 tasks would serially re-read ~90% of the
    corpus bytes even though the scan is formally 'bounded' (measured:
    a 150-page round costing 1.4x a FULL 32-task scan at pad_paras=384)
    - and the same 2 tasks at every pinning zeroes that round's N->4N
    scaling. Floor the task count at ~one task per two scanned files so
    scan bytes stay spread while near-empty Arrow batches still merge.
    Row content is untouched; only task count and output-file count (and
    thus the informational lineage_partition ids) change."""
    n = state.next_frontier_rows
    if not scan_bounded or not (0 < n <= 4096):
        return df
    tasks = max(2, n // 128)
    if k_files is not None:
        tasks = max(tasks, (k_files + 1) // 2)
    return df.coalesce(tasks)


def _prune_and_pushdown(pages: DataFrame, frontier: DataFrame,
                        config: CrawlConfig,
                        state: CrawlState) -> tuple[DataFrame, bool,
                                                    int | None]:
    """Narrow the round's pages scan with at most ONE Spark job, a collect
    over the frontier that selects `url` only when the url pushdown
    applies and the bucket id only when bucket pruning applies (bucket is a
    function of url). Both narrowings are semantics-neutral:

    - bucket pruning, on a bucket-partitioned table read through
      sources/tables.py read_bucketed_pages (B is the count its `bucket`
      column carries) with a frontier small enough (<= 4*B urls) to
      plausibly miss buckets: keep the frontier's buckets only. A pruned
      page can never match the fetch join, and a 32-url round against a
      100 TB corpus costs 32 buckets, not a full scan.
    - url pushdown, for frontiers up to url_pushdown_max urls (clamped to
      URL_PUSHDOWN_MAX; an unresolved "auto" - a config used outside
      run_crawl, where the file-size resolution happens - counts as one
      chunk; None = the JVM-safe max): filter pages to the frontier's
      exact urls in <=URL_PUSHDOWN_CHUNK-value In filters, so the
      predicate reaches the parquet reader (PushedFilters: In(url, ...)).
      On the url-sorted bucket layout, row-group min/max stats and page
      indexes then skip everything but the row groups holding those urls.
      The filter keeps every page whose url is in the (pre-gate) frontier,
      a superset of any fetchset, so the fetch joins lose nothing.

    Returns (pages, scan_bounded, k_files): scan_bounded is True iff
    pruning or pushdown actually narrowed the scan; k_files is how many
    bucket files that narrowed scan still touches (the kept bucket count
    when pruning applied, the full bucket count when only the url filter
    applied on a bucketed table, None on an unbucketed one) - the cost
    signal _coalesce_small_round needs to avoid serializing a scan whose
    frontier is small but whose bytes are not."""
    n = state.next_frontier_rows
    B = bucket_count(pages)
    cap = config.url_pushdown_max
    if cap == "auto":
        cap = URL_PUSHDOWN_CHUNK
    cap = URL_PUSHDOWN_MAX if cap is None else min(cap, URL_PUSHDOWN_MAX)
    prune = bool(B) and 0 < n <= 4 * B
    push = 0 < n <= cap
    if not (prune or push):
        return pages, False, None
    # at most max(4*B, cap) rows: they dedup in Python, without the
    # extra job a distinct shuffle costs
    rows = frontier.select(
        *(["url"] if push else []),
        *([F.pmod(F.xxhash64("url"), F.lit(B)).cast("int").alias("b")]
          if prune else [])).collect()
    bounded, k_files = False, None
    bks = sorted({r["b"] for r in rows}) if prune else []
    if prune and len(bks) < B:
        pages = pages.where(F.col("bucket").isin(bks))
        bounded, k_files = True, len(bks)
    urls = sorted({r["url"] for r in rows}) if push else []
    if urls and len(urls) <= cap:
        pages = _chunked_url_filter(pages, urls)
        k_files = k_files if bounded else B
        bounded = True
    return pages, bounded, k_files


def _fetch_ok(html_len):
    """The reference's fetch-success gate (c.c:1115+848): the page exists,
    its html is longer than 100 bytes and its url names html content."""
    return (html_len.isNotNull() & (html_len > 100)
            & is_html_content_url_col(F.col("url")))


def _gates(spark: SparkSession, frontier: DataFrame, pages: DataFrame,
           config: CrawlConfig, rnd: int,
           robots: DataFrame | None) -> tuple[DataFrame, dict | None]:
    """Validity (silent drop, c.c:1082), robots (the crawl's robots_table)
    and politeness budget as ONE frame: every valid frontier row, with
    `action` = 'attempt', 'robots_denied' or 'deferred'.

    Trace mode adds the fetch gate as a boolean `ok` from a left join with
    a slim (url, length(html)) projection, so html never shuffles, and
    materializes the frame once: the stop cutoff, the events, the
    extraction's fetch set and the deferred rows all read that checkpoint,
    and its counts ride the same job. Returns (frame, {n_valid, n (the
    attempts), n_ok, n_deferred, max_ok_seq}, or None without trace)."""
    politeness = config.politeness or {}
    budgets = [(h, b) for h, b in politeness.items() if h != "*"]
    budgets = (local_frame(
        spark, budgets, "host string, max_fetches_per_round int")
        if budgets else None)
    cols = FRONTIER_SCHEMA.fieldNames()
    f = apply_robots(frontier.where(
        valid_crawl_url_col(F.col("url"), F.col("base_domain"))), robots)
    ranked = apply_budget(f.where(F.col("robots_ok")), budgets,
                          politeness.get("*"))
    gated = ranked.select(*cols, F.when(F.col("fetch_now"), F.lit("attempt"))
                          .otherwise(F.lit("deferred")).alias("action")) \
        .unionByName(f.where(~F.col("robots_ok")).select(
            *cols, F.lit("robots_denied").alias("action")))
    if not config.trace:
        return gated, None
    obs = Observation(f"r{rnd}_gates")
    att = F.col("action") == "attempt"
    gated = (gated.join(pages.select("url", F.length("html").alias("_hlen")),
                        "url", "left")
             .withColumn("ok", att & _fetch_ok(F.col("_hlen"))).drop("_hlen")
             .observe(obs, F.count(F.lit(1)).alias("n_valid"),
                      F.count_if(att).alias("n"),
                      F.count_if(F.col("ok")).alias("n_ok"),
                      F.count_if(F.col("action") == "deferred")
                      .alias("n_deferred"),
                      F.max(F.when(F.col("ok"), F.col("seq")))
                      .alias("max_ok_seq"))
             .localCheckpoint(eager=True))
    return gated, obs.get


def _stop_cutoff(gated: DataFrame, gate: dict, state: CrawlState,
                 config: CrawlConfig, rnd: int) -> tuple[DataFrame, DataFrame,
                                                         Observation | None]:
    """Trace only: the serial loop's top-of-loop stop checks (c.c:1075:
    maxPages, and `failure_stop` consecutive failures carried across
    rounds) over this round's attempts in seq order. Sets state.stopped
    when a check binds and updates state.fail_carry.

    Returns (cut, fetched, carry): the gate rows the serial loop reaches
    (all of them unless a check binds); the successful attempts among them,
    to extract; and, when the carry into the next round is the failure run
    after this round's last success, an Observation that counts it on the
    extraction job's scan of the attempts (None otherwise)."""
    remaining = config.max_pages - state.pages_crawled
    n_fail = gate["n"] - gate["n_ok"]
    cut, stop = gated, None  # common case: no stop can bind
    if not (gate["n_ok"] < remaining
            and state.fail_carry + n_fail < config.failure_stop):
        # slow path (final round): exact ordered cutoff. Window is global
        # but only over this round's slim attempt rows, and runs at most
        # once per crawl (the crawl ends here).
        w_before = Window.orderBy("seq").rowsBetween(
            Window.unboundedPreceding, -1)
        ordered = (
            gated.where(F.col("action") == "attempt")
            .withColumn("_cum_ok", F.coalesce(
                F.sum(F.col("ok").cast("long")).over(w_before), F.lit(0)))
            .withColumn("_pos", F.row_number().over(Window.orderBy("seq")))
            .withColumn("_last_ok_pos", F.max(
                F.when(F.col("ok"), F.col("_pos")).otherwise(None)).over(w_before))
            .withColumn("_consec", F.when(
                F.col("_last_ok_pos").isNotNull(),
                F.col("_pos") - 1 - F.col("_last_ok_pos"))
                .otherwise(F.col("_pos") - 1 + F.lit(state.fail_carry)))
            .withColumn("attempted",
                        (F.col("_cum_ok") < F.lit(remaining))
                        & (F.col("_consec") < F.lit(config.failure_stop))))
        cut_at = ordered.agg(
            F.min(F.when(~F.col("attempted"), F.col("seq"))).alias("stop"),
            # seq of the attempt that consumes the LAST remaining page /
            # the failure that completes the consecutive-failure run: the
            # serial loop breaks at its NEXT top-of-loop check, so every
            # row (attempt, deferral, robots denial) with a larger seq is
            # never processed (crawler.c:1075)
            F.min(F.when(F.col("ok")
                         & (F.col("_cum_ok") + 1 == F.lit(remaining)),
                         F.col("seq"))).alias("complete"),
            F.min(F.when(~F.col("ok")
                         & (F.col("_consec") + 1
                            == F.lit(config.failure_stop)),
                         F.col("seq"))).alias("fail_complete")).first()
        stop = cut_at["stop"]
        cuts = [c for c in (cut_at["complete"], cut_at["fail_complete"])
                if c is not None]
        if stop is not None:
            # the check that binds at the stop position: maxPages iff the
            # attempt consuming the last remaining page came before it
            state.stopped = ("max_pages" if cut_at["complete"] is not None
                             and cut_at["complete"] < stop else "failure_stop")
            cuts.append(stop - 1)  # seqs are integers: < stop == <= stop-1
        if cuts:
            cut = gated.where(F.col("seq") <= min(cuts))
    fetched, carry = cut.where(F.col("action") == "attempt"), None
    if stop is None and gate["max_ok_seq"] is None:
        state.fail_carry += gate["n"]
    elif stop is None:  # observed on the extraction branch only
        carry = Observation(f"r{rnd}_fail_carry")
        fetched = fetched.observe(carry, F.count_if(
            ~F.col("ok") & (F.col("seq") > gate["max_ok_seq"])).alias("n"))
    return cut, fetched.where(F.col("ok")).drop("action", "ok"), carry


def _event_rows(frontier: DataFrame, cut: DataFrame, gate: dict,
                state: CrawlState, rnd: int) -> DataFrame:
    """Trace only: the round's events - attempts (fetched / fetch_failed,
    with the politeness delay), robots denials and deferrals - one per gate
    row the serial loop reached: (seq, round, url, parent_url, depth, host,
    action, delay_ms, frontier_seq).

    No numbering pass: frontier seq is dense from base = next_seq -
    next_frontier_rows, and the events are the valid rows in frontier
    order, so event seq = next_event_seq + (seq - base) - (the rows the
    validity gate dropped before it). Children and deferred rows passed
    that same gate before entering a frontier, so only round-0 seeds can be
    dropped; a round that dropped any collects their seqs (one small
    job)."""
    pos = F.col("seq") - F.lit(state.next_seq - state.next_frontier_rows)
    if state.next_frontier_rows > gate["n_valid"]:
        dropped = [r["seq"] for r in frontier.where(~valid_crawl_url_col(
            F.col("url"), F.col("base_domain"))).select("seq").collect()]
        pos = pos - F.size(F.filter(F.array(*map(F.lit, dropped)),
                                    lambda s: s < F.col("seq")))
    att = F.col("action") == "attempt"
    return cut.select(
        (pos + F.lit(state.next_event_seq)).alias("seq"),
        F.lit(rnd).alias("round"), "url", "parent_url", "depth", "host",
        F.when(~att, F.col("action")).when(F.col("ok"), F.lit("fetched"))
        .otherwise(F.lit("fetch_failed")).alias("action"),
        F.when(att, delay_ms_col(F.col("url"))).otherwise(F.lit(0))
        .alias("delay_ms"),
        F.col("seq").alias("frontier_seq"))


def _extract_write(spark: SparkSession, fetched: DataFrame, pages: DataFrame,
                   d: Path, state: CrawlState, config: CrawlConfig,
                   scan_bounded: bool, k_files: int | None) -> DataFrame:
    """Fetch join + extraction (ONE Arrow pass, c.c:134-437/685-746),
    materialized once: the extraction runs inside the pages.parquet write
    (links + base_domain stored too). Returns the written file read back,
    so page bodies are never double-copied through the block manager.

    The fetch join is INNER with the fetch rows as the broadcast side, so
    the corpus scan stays in place and html bytes never enter an exchange;
    absent urls simply vanish (trace mode has already recorded them as
    failed attempts). The hint is gated on the manifest-known frontier row
    count (estimates alone under-broadcast once frontiers pass ~10 MB)."""
    fetched = fetched.withColumn("_skip_links",
                                 F.col("depth") >= F.lit(config.max_depth))
    if 0 < state.next_frontier_rows <= 3_000_000:
        fetched = F.broadcast(fetched)
    succ = (fetched.join(pages.select("url", "html", "warc_ts", "lang"), "url")
            .where(_fetch_ok(F.length("html"))))
    succ = _coalesce_small_round(succ, state, scan_bounded, k_files)
    extracted = html_text_and_links(succ, skip_links_col="_skip_links")
    pages_out = extracted.select(
        "url", F.lit(state.round).alias("round"), "seq", "depth",
        "parent_url", "host", "text", "links", "base_domain", "warc_ts",
        "lang", F.spark_partition_id().alias("lineage_partition"))
    pages_out.write.mode("overwrite").parquet(str(d / "pages.parquet"))
    # re-read with the schema just written (exact by construction): no
    # footer-inference job between the write and the arbitration
    return spark.read.schema(pages_out.schema).parquet(str(d / "pages.parquet"))


def _arbitrate_children(spark: SparkSession, stored: DataFrame,
                        deferred: DataFrame, workdir: str, state: CrawlState,
                        config: CrawlConfig, mode: str) -> DataFrame:
    """frontier_{r+1}, materialized, with `child` flagging the round's
    enqueued children (its url_seen delta): the deferred rows first (old
    seq order), then the candidate links of this round's pages (validity vs
    the global seed domain, c.c:1305), minus every url seen in earlier
    rounds (c.c:1320), arbitrated (c.c:1299-1341).

    'exact' arbitrates and numbers in ONE single-partition pass
    (arbitrate_exact): `seq` = serial FIFO position, children ordered by
    the priority policy (scored here, JVM-side) - mirrors kernel/bfs.py
    exactly. 'scale' arbitrates distributed and keeps FIFO order (priority
    policies run only in the exact pass); trace mode then numbers the
    frontier densely with one with_global_seq_counted. Without trace,
    children are keyed by xxhash64(url): deterministic, but not
    FIFO-dense."""
    # Final-round short-circuit: without politeness deferrals, round r holds
    # exactly depth-(r+1) pages (BFS invariant, in both modes), so when that
    # depth reaches max_depth no candidate can exist - skip the whole
    # explode/anti-join/arbitrate pipeline (~1.5 s of pure plan overhead on
    # empty input at any parallelism).
    rnd = state.round
    if config.politeness is None and rnd + 1 >= config.max_depth:
        return local_frame(spark, [], FRONTIER_SCHEMA) \
            .withColumn("child", F.lit(True))
    cols = FRONTIER_SCHEMA.fieldNames()[:5]
    cands = (
        stored.where(F.col("depth") < config.max_depth)
        .select(F.col("seq").alias("parent_seq"),
                F.col("url").alias("parent_url"),
                (F.col("depth") + 1).alias("depth"),
                F.col("base_domain"),
                F.posexplode("links").alias("link_idx", "url"))
        .where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
    )
    cands = seen_anti_join(cands, _read_url_seen(spark, workdir, rnd)) \
        .withColumn("host", host_col(F.col("url")))

    def keyed(df, src, k1, k2, *score):
        # deferred rows (src 0) keyed by old seq, candidates (src 1) by
        # discovery order (parent_seq, link_idx); `score` feeds the exact
        # pass's priority policy
        return df.select(*cols, F.lit(src).alias("_src"), *score,
                         k1.cast("long").alias("_k1"),
                         k2.cast("long").alias("_k2"))

    zero = F.lit(0)
    if mode == "exact":
        score = zero
        if config.priority:
            score = url_priority_col(F.col("url"), F.col("parent_url"))
        if config.priority == "openmp":
            score = score + url_diversity_col(F.col("url"))
        rows = keyed(deferred, 0, F.col("seq"), zero,
                     zero.alias("_score")).unionByName(
            keyed(cands, 1, F.col("parent_seq"), F.col("link_idx"),
                  score.cast("int").alias("_score")))
        return arbitrate_exact(rows, state.next_seq,
                               config.max_links_per_page,
                               config.priority).localCheckpoint(eager=True)
    kids = arbitrate_scale(cands, config.max_links_per_page)
    if not config.trace:
        return deferred.select(*cols, "seq", F.lit(False).alias("child")) \
            .unionByName(kids.select(*cols, F.xxhash64("url").alias("seq"),
                                     F.lit(True).alias("child"))) \
            .localCheckpoint(eager=True)
    nxt = keyed(deferred, 0, F.col("seq"), zero).unionByName(
        keyed(kids.localCheckpoint(eager=True), 1, F.col("parent_seq"),
              F.col("link_idx")))
    nxt, _ = with_global_seq_counted(nxt, ["_src", "_k1", "_k2"], "seq",
                                     offset=state.next_seq)
    return nxt.select(*cols, "seq", (F.col("_src") == 1).alias("child"))


def _write_outputs(d: Path, rnd: int, nxt: DataFrame, stored: DataFrame,
                   events: DataFrame | None, max_depth: int,
                   stopped: bool) -> dict:
    """The round's remaining outputs as concurrent driver-thread jobs:
    frontier_next (empty once the crawl stopped mid-round), the url_seen
    delta (the children, stopped or not), the events (trace mode) and the
    lineage read of pages.parquet. Every input is already materialized, so
    the jobs are independent and the scheduler can interleave them. Counts
    ride these jobs (Observations on the writes, aggregates in the lineage
    read) instead of standalone count jobs: on small rounds each extra
    driver sync is a measurable slice of the per-round fixed floor that
    caps whole-crawl scaling. Returns the round's count metrics."""
    obs = {k: Observation(f"r{rnd}_{k}") for k in ("next", "children")}
    n = F.count(F.lit(1)).alias("n")
    frontier = nxt.drop("child")
    if stopped:
        frontier = frontier.limit(0)
    # the candidates _arbitrate_children explodes: counted here, not on the
    # arbitration job, because AQE drops an observed stage whose output
    # turned out empty from the final plan, and its metrics with it
    n_cands = F.when(F.col("depth") < max_depth, F.size(F.filter(
        "links", lambda u: valid_crawl_url_col(u, F.col("base_domain")))))
    jobs = {
        "next": lambda: frontier.observe(obs["next"], n).write
        .mode("overwrite").parquet(str(d / "frontier_next.parquet")),
        "children": lambda: nxt.where(F.col("child"))
        .observe(obs["children"], n).select("url").write.mode("overwrite")
        .parquet(str(d / "url_seen_delta.parquet")),
        "lineage": lambda: (stored.groupBy("lineage_partition")
                            .agg(F.count("*").alias("cnt"),
                                 F.sum(n_cands).alias("cands")).collect()),
    }
    if events is not None:
        obs["events"] = Observation(f"r{rnd}_events")
        actions = ("fetched", "fetch_failed", "robots_denied", "deferred")
        jobs["events"] = lambda: events.observe(
            obs["events"],
            *[F.count_if(F.col("action") == a).alias(a) for a in actions],
            F.sum("delay_ms").alias("delay")).write.mode("overwrite") \
            .parquet(str(d / "events.parquet"))
    # pool threads start with empty JVM local properties: carry the
    # caller's job group and description into each job. Only pinned-thread
    # mode (the default) has per-thread properties; otherwise the helper
    # hands the session back and the jobs run as they are
    inherit = inheritable_thread_target(nxt.sparkSession)
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = {k: pool.submit(inherit(fn) if callable(inherit) else fn)
                for k, fn in jobs.items()}
        res = {k: fu.result() for k, fu in futs.items()}
    lineage = [{"partition": r["lineage_partition"], "pages": r["cnt"]}
               for r in res["lineage"]]
    cands = sum(r["cands"] or 0 for r in res["lineage"])
    enqueued = obs["children"].get["n"]
    out = {"fetched": sum(p["pages"] for p in lineage), "candidates": cands,
           "enqueued": enqueued, "dedup_dropped": cands - enqueued,
           "lineage_partitions": lineage,
           "next_frontier_rows": obs["next"].get["n"]}
    if events is not None:
        ev = obs["events"].get
        out["events"] = {a: ev[a] for a in actions if ev[a]}
        out["politeness_delay_ms_total"] = int(ev["delay"] or 0)
    return out


def run_round(spark: SparkSession, pages: DataFrame, workdir: str,
              state: CrawlState, config: CrawlConfig,
              robots: DataFrame | None) -> dict:
    """Execute one BSP round as one sequence of stages; writes the round
    snapshot (manifest.json last = commit marker); mutates state.
    config.trace materializes the gate frame (with the fetch gate) once and
    adds the stop cutoff and the events; without it the stop conditions
    must be unbounded. `robots` is robots_table(spark, config.robots),
    which run_crawl builds once per crawl.

    metrics.json's `codegen_compiles` is how many generated classes the
    driver JVM compiled during the round. The counter is process-wide, so
    it includes any concurrent work in the same JVM; a repeated round
    shape whose classes are still in the codegen cache reads 0. Its
    `arbitration` is the mode the round resolved, 'exact' or 'scale': an
    'auto' crawl switches to scale semantics above the size hint, and this
    is where that switch shows."""
    assert config.trace or (config.max_pages >= 10**9
                            and config.failure_stop >= 10**9), \
        "trace=False requires unbounded stop conditions"
    if config.priority and (config.arbitration == "scale"
                            or not config.trace):
        raise ValueError("priority ordering runs in the exact arbitration "
                         "pass, which needs trace=True and arbitration="
                         "'exact' or 'auto'")
    if not config.trace and config.arbitration == "exact":
        raise ValueError("the exact arbitration pass needs trace=True; "
                         "throughput mode arbitrates with 'scale'")
    t0, compiles0 = time.monotonic(), codegen_compiles(spark)
    stage_wall: dict[str, float] = {}
    _last = [t0]

    def _mark(stage: str) -> None:
        now = time.monotonic()
        stage_wall[stage] = round(now - _last[0], 3)
        _last[0] = now

    rnd = state.round
    d = _round_dir(workdir, rnd)
    d.mkdir(parents=True, exist_ok=True)
    # explicit schema (frontier files are always FRONTIER_SCHEMA): no
    # footer-inference job at the top of the round
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        str(_round_dir(workdir, rnd - 1) / "frontier_next.parquet"))
    pages, scan_bounded, k_files = _prune_and_pushdown(pages, frontier,
                                                      config, state)
    gated, gate = _gates(spark, frontier, pages, config, rnd, robots)
    events, carry = None, None
    if config.trace:
        _mark("fetch_gate")
        cut, fetched, carry = _stop_cutoff(gated, gate, state, config, rnd)
        _mark("stop_cutoff")
        events = _event_rows(frontier, cut, gate, state, rnd)
        _mark("events_seq")
        # auto-mode hint: the exact pass carries the deferred rows plus
        # candidates <= pages_ok x links/page; 256 is a loose links-per-page
        # bound for the switch (both modes are correct; the hint only picks
        # the strategy without a count job). Priority policies order the
        # children inside the exact pass, so they always arbitrate exactly.
        mode = ("exact" if config.priority else arbitration_mode(
            config.arbitration, gate["n_ok"] * 256 + gate["n_deferred"]))
    else:
        cut, mode = gated, "scale"
        fetched = gated.where(F.col("action") == "attempt").drop("action")
    stored = _extract_write(spark, fetched, pages, d, state, config,
                            scan_bounded, k_files)
    if carry is not None:
        state.fail_carry = carry.get["n"]
    _mark("extract_write")
    nxt = _arbitrate_children(
        spark, stored, cut.where(F.col("action") == "deferred"), workdir,
        state, config, mode)
    _mark("arbitrate_ckpt")
    metrics = {"round": rnd, "arbitration": mode, **_write_outputs(
        d, rnd, nxt, stored, events, config.max_depth, bool(state.stopped))}
    _mark("writes_and_metrics")
    metrics["wall_sec"] = round(time.monotonic() - t0, 3)
    metrics["stage_wall"] = stage_wall
    metrics["codegen_compiles"] = codegen_compiles(spark) - compiles0
    _write_text(d / "metrics.json", json.dumps(metrics, indent=1))

    state.pages_crawled += metrics["fetched"]
    state.next_frontier_rows = metrics["next_frontier_rows"]
    state.next_seq += metrics["next_frontier_rows"]
    state.next_event_seq += sum(metrics.get("events", {}).values())
    if not state.stopped:
        if state.pages_crawled >= config.max_pages:
            state.stopped = "max_pages"
        elif state.fail_carry >= config.failure_stop:
            state.stopped = "failure_stop"
    _write_manifest(d, state, config, metrics)
    return metrics


def run_crawl(spark: SparkSession, pages: DataFrame, seeds: list[str],
              workdir: str, config: CrawlConfig | None = None,
              resume: bool = False,
              resume_from: int | None = None,
              overwrite: bool = False) -> CrawlState:
    """Drive rounds until a stop condition (crawler.c:1075 analog) or the
    frontier drains. `resume=True` continues from the last committed round
    snapshot instead of re-initializing; `resume_from=r` rewinds to round
    r's snapshot FIRST (discarding every later round's outputs - each round
    dir is self-contained, so dropping the later dirs restores the exact
    post-r state; north_star: "resumes exactly from any checkpoint").

    A fresh (non-resume) crawl into a workdir holding committed rounds
    DESTROYS those checkpoints, so it requires `overwrite=True` - a
    forgotten --resume must not silently erase a long crawl's snapshots."""
    config = config or CrawlConfig()
    if config.url_pushdown_max == "auto":
        # resolve once from file metadata; manifests then carry the
        # resolved int, so resumes keep the same regime
        config = replace(config, url_pushdown_max=resolve_pushdown_max(
            pages, config))
    if resume_from is not None:
        marker = Path(workdir) / "_compacted_upto"
        if marker.exists() and resume_from < int(marker.read_text()):
            raise ValueError(
                f"cannot resume from round {resume_from}: url_seen deltas "
                f"up to round {marker.read_text()} were compacted away")
        state, config, _ = load_state(workdir, from_round=resume_from)
        _check_url_seen_deltas(workdir, state.round)
        for d in sorted(Path(workdir).glob("round=*")):
            if int(d.name.split("=")[1]) > resume_from:
                shutil.rmtree(d, ignore_errors=True)
    elif resume:
        state, config, _ = load_state(workdir)
        _check_url_seen_deltas(workdir, state.round)
    else:
        # Fresh (non-resume) crawl into a reused workdir: drop every prior
        # round snapshot first. Leaving them would mix the previous crawl's
        # later rounds into the round=*/pages.parquet glob that /api/status,
        # /api/metrics and index builds read (colliding seq-based doc_ids),
        # and a stale _compacted_upto marker would block legitimate rewinds.
        # Guard: deleting committed rounds is destructive, so it must be
        # explicitly requested (a forgotten --resume is the failure mode).
        committed = [d.name for d in sorted(Path(workdir).glob("round=*"))
                     if (d / "manifest.json").exists()
                     and not d.name.startswith("round=-")]
        if committed and not overwrite:
            raise ValueError(
                f"workdir {workdir} holds {len(committed)} committed crawl "
                "round(s); pass resume=True/resume_from to continue them, "
                "or overwrite=True to discard them and start fresh")
        for d in sorted(Path(workdir).glob("round=*")):
            shutil.rmtree(d, ignore_errors=True)
        (Path(workdir) / "_compacted_upto").unlink(missing_ok=True)
        state = init_crawl(spark, seeds, workdir, config)
    robots = robots_table(spark, config.robots)
    while (state.round < config.max_rounds and not state.stopped
           and state.next_frontier_rows):
        m = run_round(spark, pages, workdir, state, config, robots)
        state.metrics.append(m)
        state.round += 1
        if (config.compact_every
                and state.round % config.compact_every == 0
                and not state.stopped):
            compact_url_seen(spark, workdir, state.round)
    if not state.stopped and state.next_frontier_rows == 0:
        state.stopped = "frontier_empty"
    return state
