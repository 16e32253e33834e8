"""A crawl round's commit: the per-round metrics.json counts equal the
counts recomputed from that round's parquet outputs, a crawl killed
while writing a round's manifest resumes from the previous commit, and
a resume accepts older manifests but refuses url_seen deltas it would
misread."""

import json
import shutil
from dataclasses import replace
from pathlib import Path

import pytest

from high_performance_parallel_search_engine_spark.kernel.urls import (
    is_valid_crawl_url,
)
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    load_state,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    build_corpus_df,
    page_url,
)

SEEDS = [page_url(h, 0) for h in range(3)]
UNBOUNDED = 1 << 40


@pytest.fixture(scope="module")
def pages(spark):
    return build_corpus_df(spark, with_oracle_text=False).select(
        "url", "warc_ts", "html", "lang").cache()


def _events(spark, wd):
    return [tuple(r) for r in spark.read.parquet(f"{wd}/round=*/events.parquet")
            .select("seq", "round", "url", "parent_url", "depth", "host",
                    "action", "delay_ms").orderBy("seq").collect()]


def _url_seen(spark, wd):
    return {r["url"] for r in spark.read.parquet(
        f"{wd}/round=*/url_seen_delta.parquet").collect()}


def _assert_metrics_match_outputs(spark, wd, config, state):
    rounds = sorted(p for p in Path(wd).glob("round=0*"))
    assert rounds and len(rounds) == len(state.metrics)
    for d in rounds:
        m = json.loads((d / "metrics.json").read_text())
        assert json.loads((d / "manifest.json").read_text())["metrics"] == m
        pages = spark.read.parquet(str(d / "pages.parquet")).collect()
        assert m["fetched"] == len(pages), d.name
        lineage = {}
        for r in pages:
            lineage[r["lineage_partition"]] = \
                lineage.get(r["lineage_partition"], 0) + 1
        assert {p["partition"]: p["pages"]
                for p in m["lineage_partitions"]} == lineage, d.name
        # candidates: valid links of the round's pages below max_depth,
        # recounted with the Python kernel's validity rule
        cands = sum(
            sum(is_valid_crawl_url(u, r["base_domain"]) for u in r["links"])
            for r in pages if r["depth"] < config.max_depth)
        enqueued = spark.read.parquet(
            str(d / "url_seen_delta.parquet")).count()
        assert (m["candidates"], m["enqueued"]) == (cands, enqueued), d.name
        assert m["dedup_dropped"] == cands - enqueued
        assert m["next_frontier_rows"] == spark.read.parquet(
            str(d / "frontier_next.parquet")).count(), d.name
        if not config.trace:
            assert "events" not in m
            continue
        ev = spark.read.parquet(str(d / "events.parquet")).collect()
        by_action = {}
        for r in ev:
            by_action[r["action"]] = by_action.get(r["action"], 0) + 1
        assert m["events"] == by_action, d.name
        assert by_action.get("fetched", 0) == len(pages)
        assert m["politeness_delay_ms_total"] == sum(r["delay_ms"] for r in ev)


def test_round_metrics_equal_outputs_exact(spark, pages, tmp_path):
    """Exact crawl with a `*` budget, robots rules and a max_pages stop
    that binds mid-round (the ordered stop-cutoff path)."""
    config = CrawlConfig(
        arbitration="exact", max_depth=3, max_pages=30,
        politeness={"*": 4},
        robots=[("host1.example.com", "disallow", "/p/1"),
                ("host2.example.com", "disallow", "/p/2")])
    wd = str(tmp_path / "exact")
    state = run_crawl(spark, pages, SEEDS, wd, config)
    assert state.stopped == "max_pages" and state.pages_crawled == 30
    ev = _events(spark, wd)
    assert {a for *_, a, _d in ev} >= {"fetched", "deferred", "robots_denied"}
    _assert_metrics_match_outputs(spark, wd, config, state)


def test_round_metrics_equal_outputs_throughput(spark, pages, tmp_path):
    config = CrawlConfig(max_depth=3, max_pages=UNBOUNDED,
                         failure_stop=UNBOUNDED, arbitration="scale",
                         trace=False)
    wd = str(tmp_path / "fast")
    state = run_crawl(spark, pages, SEEDS, wd, config)
    assert state.pages_crawled > 0 and len(state.metrics) == 3
    _assert_metrics_match_outputs(spark, wd, config, state)


def test_manifest_write_killed_midway_resumes(spark, pages, tmp_path,
                                              monkeypatch):
    """A kill while round 1's manifest is half written must leave round 0
    as the latest commit, and the resumed crawl must reproduce the
    uninterrupted event trace."""
    config = CrawlConfig(arbitration="exact", max_depth=3, max_pages=100,
                         politeness={"*": 6})
    full = str(tmp_path / "full")
    run_crawl(spark, pages, SEEDS, full, config)

    real_write = Path.write_text

    def torn_write(self, data, *a, **k):
        if self.parent.name == "round=00001" and "manifest" in self.name:
            real_write(self, data[:len(data) // 2], *a, **k)
            raise KeyboardInterrupt("killed mid-write")
        return real_write(self, data, *a, **k)

    wd = str(tmp_path / "torn")
    monkeypatch.setattr(Path, "write_text", torn_write)
    with pytest.raises(KeyboardInterrupt):
        run_crawl(spark, pages, SEEDS, wd, config)
    monkeypatch.undo()

    _state, _config, last = load_state(wd)
    assert last == 0
    state = run_crawl(spark, pages, SEEDS, wd, config, resume=True)
    assert state.stopped
    assert _events(spark, wd) == _events(spark, full)


def test_round_metrics_record_the_arbitration_mode(spark, pages, tmp_path):
    """Each round's metrics.json (and /api/metrics) names the arbitration
    mode the round resolved: 'exact' for a default ('auto') crawl of this
    size, 'scale' when the crawl pins it."""
    from high_performance_parallel_search_engine_spark.api import (
        EngineState,
    )

    for arbitration, want in (("auto", "exact"), ("scale", "scale")):
        wd = str(tmp_path / arbitration)
        state = run_crawl(spark, pages, SEEDS, wd, CrawlConfig(
            max_depth=3, max_pages=30, arbitration=arbitration))
        assert len(state.metrics) > 1
        assert [m["arbitration"] for m in state.metrics] == \
            [want] * len(state.metrics)
        served = EngineState(spark, wd).metrics()["rounds"]
        assert [m["arbitration"] for m in served] == \
            [want] * len(state.metrics)


# exact parity shape (tests/test_crawl_parity.py) on this module's corpus
PARITY = CrawlConfig(arbitration="exact", max_depth=3, max_pages=60)


def test_resume_accepts_manifests_with_removed_config_keys(spark, pages,
                                                          tmp_path):
    """Manifests written before two settings were removed from CrawlConfig
    still carry them; load_state drops them and the resumed crawl equals
    the uninterrupted one."""
    full = str(tmp_path / "full")
    full_state = run_crawl(spark, pages, SEEDS, full, PARITY)
    assert len(full_state.metrics) > 2

    wd = str(tmp_path / "old")
    first = run_crawl(spark, pages, SEEDS, wd, replace(PARITY, max_rounds=2))
    assert len(first.metrics) == 2 and not first.stopped
    for mf in Path(wd).glob("round=*/manifest.json"):
        m = json.loads(mf.read_text())
        m["config"].update(max_rounds=64, use_bloom=True, default_budget=None)
        mf.write_text(json.dumps(m))
    state = run_crawl(spark, pages, SEEDS, wd, resume=True)
    assert state.stopped == full_state.stopped
    assert _events(spark, wd) == _events(spark, full)
    assert _url_seen(spark, wd) == _url_seen(spark, full)


def test_resume_refuses_url_seen_delta_without_url_column(spark, pages,
                                                          tmp_path):
    """url_seen deltas are read with an explicit `url string` schema, so a
    delta whose column is named otherwise would read as NULL urls and the
    anti-join would re-admit seen urls. Both resume forms refuse it, and
    the refused rewind deletes no round."""
    import pyarrow.parquet as pq

    wd = str(tmp_path / "wd")
    state = run_crawl(spark, pages, SEEDS, wd, PARITY)
    assert len(state.metrics) > 2
    d = Path(wd) / "round=00000" / "url_seen_delta.parquet"
    table = pq.read_table(d)
    table = table.rename_columns(
        ["u" if c == "url" else c for c in table.column_names])
    shutil.rmtree(d)
    d.mkdir()
    pq.write_table(table, d / "part-00000.parquet")

    with pytest.raises(ValueError, match="round=00000"):
        run_crawl(spark, pages, SEEDS, wd, resume=True)
    with pytest.raises(ValueError, match="round=00000"):
        run_crawl(spark, pages, SEEDS, wd, resume_from=1)
    assert (Path(wd) / "round=00002" / "manifest.json").exists()
