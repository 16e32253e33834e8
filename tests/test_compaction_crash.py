"""compact_url_seen is crash-consistent: a crawl killed at any filesystem
step of a url_seen compaction resumes (run_crawl(resume=True)) to the
uninterrupted event trace and url_seen set."""

import os
import shutil
from pathlib import Path

import pytest

from high_performance_parallel_search_engine_spark.operators import crawl
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    build_corpus_df,
    page_url,
)

SEEDS = [page_url(h, 0) for h in range(3)]
CONFIG = CrawlConfig(arbitration="exact", max_depth=3, max_pages=10_000,
                     compact_every=1)


class Killed(BaseException):
    """The process dying: nothing in the crawl may catch it."""


@pytest.fixture(scope="module")
def pages(spark):
    return build_corpus_df(spark, with_oracle_text=False).select(
        "url", "warc_ts", "html", "lang").cache()


def _outputs(spark, wd):
    events = [tuple(r) for r in spark.read.parquet(
        f"{wd}/round=*/events.parquet").select(
        "seq", "round", "url", "parent_url", "depth", "host", "action",
        "delay_ms").orderBy("seq").collect()]
    seen = {r["url"] for r in spark.read.parquet(
        *map(str, Path(wd).glob("round=*/url_seen_delta.parquet"))).collect()}
    return events, seen


def _patch_steps(monkeypatch, on_step):
    """Route every filesystem mutation made inside compact_url_seen (not
    the ones nested inside another) through on_step(call, name) first;
    `call` numbers the compact_url_seen calls from 0."""
    depth = [0]
    call = [-1]
    inside = [False]

    def hook(name, fn):
        def step(*a, **k):
            if inside[0] and depth[0] == 0:
                on_step(call[0], name)
            depth[0] += 1
            try:
                return fn(*a, **k)
            finally:
                depth[0] -= 1
        return step

    for owner, name in [(os, "rename"), (os, "replace"), (os, "unlink"),
                        (shutil, "rmtree"), (Path, "rename"),
                        (Path, "replace"), (Path, "unlink"),
                        (Path, "write_text")]:
        monkeypatch.setattr(owner, name, hook(name, getattr(owner, name)))
    compact = crawl.compact_url_seen

    def traced(*a, **k):
        call[0] += 1
        inside[0] = True
        try:
            return compact(*a, **k)
        finally:
            inside[0] = False

    monkeypatch.setattr(crawl, "compact_url_seen", traced)


def test_compaction_killed_at_each_step_resumes(spark, pages, tmp_path,
                                                monkeypatch):
    full = str(tmp_path / "full")
    first: list[str] = []  # the first compaction's steps

    def record(call, name):
        if call == 0:
            first.append(name)

    with monkeypatch.context() as m:
        _patch_steps(m, record)
        state = run_crawl(spark, pages, SEEDS, full, CONFIG)
    assert state.stopped == "frontier_empty" and len(state.metrics) == 3
    want = _outputs(spark, full)
    # a kill before the first occurrence of each kind of step, between the
    # first two renames, and before the last step
    kills = {first.index(k) for k in first} | {len(first) - 1}
    if first.count("rename") > 1:
        kills.add(first.index("rename") + 1)
    kills = sorted(kills)
    assert len(kills) >= 3, first
    for k in kills:
        wd = str(tmp_path / f"kill{k}")
        done = [0]

        def kill_at_k(call, name, k=k):
            if call == 0:
                if done[0] == k:
                    raise Killed(f"killed before step {k} ({name})")
                done[0] += 1

        with monkeypatch.context() as m:
            _patch_steps(m, kill_at_k)
            with pytest.raises(Killed):
                run_crawl(spark, pages, SEEDS, wd, CONFIG)
        run_crawl(spark, pages, SEEDS, wd, resume=True)
        assert _outputs(spark, wd) == want, (k, first)
