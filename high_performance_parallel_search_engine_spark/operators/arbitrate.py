"""Intra-round enqueue arbitration: first-occurrence dedup interleaved with
the <=20-links-per-page cap (Serial Version/src/crawler.c:1299-1341).

The serial semantics are a sequential greedy over candidates in
(parent_seq, link_idx) order:

    for each fetched page, in fetch order:
        added = 0
        for each candidate link, in extraction order:
            if added >= 20: break            # added_urls < 20, c.c:1299
            if url already enqueued: skip    # has_visited, c.c:1320
            enqueue; mark seen; added += 1

The cap counts only ENQUEUED links, and a link dropped by the cap is NOT
marked seen - a later page may still enqueue the same URL ("revival"). That
interleaving is inherently sequential, but only over the round's slim
candidate tuples - all heavy work (fetch, parse, extract, canonicalize,
validity, cross-round anti-join) already ran distributed.

Two modes:

- exact: one single-partition mapInPandas pass that arbitrates AND numbers
  the next frontier. The round's politeness-deferred rows (old seq order)
  and its candidates ((parent_seq, link_idx) order) are sorted into one
  partition; deferred rows pass through, candidates go through the greedy,
  and every kept row gets `seq` = its position in the serial FIFO queue.
  State is one Python set of this round's NEW urls (prior rounds were
  already removed by the anti-join). Bounded by distinct new URLs per
  round; at reference parity scale (<=1000 frontier) this is trivially
  small, and even at 10^8 candidates/round it is a single linear pass over
  ~50 bytes/row.
- scale: fully distributed two-window approximation - first occurrence per
  url by (parent_seq, link_idx), then per-page rank <= cap over survivors.
  Identical to exact EXCEPT the revival quirk (a url whose first occurrence
  was capped out is dropped for the round instead of reviving from a later
  page). This is the 10^10-frontier default; parity tests use exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

MAX_LINKS_PER_PAGE = 20


def arbitration_mode(mode: str, count_hint: int,
                     exact_threshold: int = 5_000_000) -> str:
    """mode: 'exact' | 'scale' | 'auto' (exact up to `exact_threshold`
    rows). `count_hint` is the caller's bound on the rows the exact pass
    would carry (run_round passes pages_ok x a links-per-page bound plus the
    deferred rows), so the switch costs no count job. Note auto is a
    *semantics* switch at the threshold: scale mode drops the serial revival
    quirk (docstring above) - crawls that must be event-exact pin 'exact'."""
    if mode == "auto":
        return "exact" if count_hint <= exact_threshold else "scale"
    if mode in ("exact", "scale"):
        return mode
    raise ValueError(mode)


def arbitrate_exact(rows: DataFrame, next_seq: int,
                    cap: int = MAX_LINKS_PER_PAGE,
                    priority: bool | str = False) -> DataFrame:
    """The exact greedy plus the next frontier's numbering, in one pass.

    rows: the frontier row columns (url, host, depth, parent_url,
    base_domain), carried through as they are, plus the sort keys
    `_src`, `_k1`, `_k2` - (0, old seq, 0) for a deferred row, (1,
    parent_seq, link_idx) for a candidate - and an int `_score`, the
    priority policy's input (url_priority, plus url_diversity for
    'openmp'; unused in FIFO order).

    Deferred rows come first in the queue, in old seq order (bfs.py appends
    them during the round). Kept candidates follow: streamed in discovery
    order (FIFO), or buffered and reordered by the north_rule queue (priority
    desc, host in-degree among the kept children desc, discovery order) or
    the OpenMP insertion policy (kernel.urls.openmp_insertion_order). Each
    output row gets `seq` = next_seq + its queue position and `child` =
    True for kept candidates (the round's url_seen delta)."""
    from ..kernel.urls import openmp_insertion_order

    cols = [c for c in rows.columns if not c.startswith("_")]

    def numbered(pdf, start, child):
        import numpy as np
        import pandas as pd

        out = pd.DataFrame({c: pdf[c].to_numpy() for c in cols})
        out["seq"] = np.arange(start, start + len(pdf), dtype=np.int64)
        out["child"] = child
        return out

    def greedy(batches):
        import pandas as pd

        seen: set[str] = set()
        cur_page = None
        added = 0
        seq = next_seq
        kids = []
        for pdf in batches:
            src = pdf["_src"].to_numpy()
            deferred = pdf[src == 0]
            if len(deferred):
                yield numbered(deferred, seq, False)
                seq += len(deferred)
            cands = pdf[src == 1]
            mask = []
            for ps, u in zip(cands["_k1"], cands["url"]):
                if ps != cur_page:
                    cur_page = ps
                    added = 0
                if added >= cap or u in seen:
                    mask.append(False)
                    continue
                seen.add(u)
                added += 1
                mask.append(True)
            kept = cands[pd.Series(mask, index=cands.index, dtype=bool)]
            if priority:
                kids.append(kept)
            elif len(kept):  # FIFO: kept rows stream out in order
                yield numbered(kept, seq, True)
                seq += len(kept)
        kids = pd.concat(kids, ignore_index=True) if kids else []
        if not len(kids):
            return
        if priority == "openmp":
            kids = kids.iloc[openmp_insertion_order(
                list(zip(kids["_score"].astype(int), range(len(kids)))))]
        elif priority:
            indeg = kids.groupby("host", dropna=False)["host"].transform("size")
            kids = (kids.assign(_a=-kids["_score"], _b=-indeg)
                    .sort_values(["_a", "_b"], kind="stable"))
        yield numbered(kids, seq, True)

    schema = StructType([rows.schema[c] for c in cols]
                        + [StructField("seq", LongType()),
                           StructField("child", BooleanType())])
    slim = rows.repartition(1).sortWithinPartitions("_src", "_k1", "_k2")
    return slim.mapInPandas(greedy, schema=schema)


def arbitrate_scale(cands: DataFrame, cap: int = MAX_LINKS_PER_PAGE) -> DataFrame:
    """Distributed approximation: dedup-first-occurrence then per-page cap.
    Drops the serial 'revival' quirk (documented above)."""
    w_url = Window.partitionBy("url").orderBy("parent_seq", "link_idx")
    w_page = Window.partitionBy("parent_seq").orderBy("link_idx")
    return (
        cands.withColumn("_occ", F.row_number().over(w_url))
        .where(F.col("_occ") == 1)
        .withColumn("_rank", F.row_number().over(w_page))
        .where(F.col("_rank") <= cap)
        .drop("_occ", "_rank")
    )
