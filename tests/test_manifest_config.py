"""The manifest's config and the resume guards, without Spark: every
CrawlConfig field is written to the manifest and read back, keys that are
no longer fields are dropped, every field is read by the engine, and the
url_seen delta check refuses a delta without a string `url` column."""

import ast
import json
from dataclasses import fields
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    CrawlState,
    _check_url_seen_deltas,
    _round_dir,
    _write_manifest,
    load_state,
)

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "high_performance_parallel_search_engine_spark"

CONFIG = CrawlConfig(
    max_depth=3, max_pages=60, failure_stop=7, max_links_per_page=9,
    politeness={"*": 2, "a.example": 5},
    robots=[("a.example", "disallow", "/private")], priority="openmp",
    arbitration="exact", max_rounds=12, trace=True, compact_every=3,
    url_pushdown_max=128)
STATE = CrawlState(round=4, pages_crawled=31, fail_carry=2, next_seq=90,
                   next_event_seq=77, next_frontier_rows=12)


def _commit(workdir, state, config, extra_config=None):
    d = _round_dir(str(workdir), state.round)
    d.mkdir(parents=True)
    _write_manifest(d, state, config, {"fetched": 1})
    if extra_config:
        m = json.loads((d / "manifest.json").read_text())
        m["config"].update(extra_config)
        (d / "manifest.json").write_text(json.dumps(m))


def test_manifest_config_round_trips_every_field(tmp_path):
    assert set(CONFIG.to_json()) == {f.name for f in fields(CrawlConfig)}
    _commit(tmp_path, STATE, CONFIG)
    state, config, last = load_state(str(tmp_path))
    assert config == CONFIG       # robots come back as tuples
    assert last == STATE.round
    assert (state.round, state.pages_crawled, state.fail_carry,
            state.next_seq, state.next_event_seq, state.next_frontier_rows,
            state.stopped) == (STATE.round + 1, 31, 2, 90, 77, 12, None)


def test_load_state_drops_config_keys_that_are_not_fields(tmp_path):
    """Manifests written before `use_bloom`, `default_budget` and
    `pages_buckets` were removed carry them; any key that is not a field
    is ignored."""
    _commit(tmp_path, STATE, CONFIG,
            {"use_bloom": True, "default_budget": 4, "pages_buckets": 8,
             "not_a_field": [1]})
    _, config, _ = load_state(str(tmp_path))
    assert config == CONFIG


def test_every_crawl_config_field_is_read_by_the_engine():
    """A field that is written to every manifest but read by nothing is a
    setting that does nothing. Each field must be read as an attribute
    somewhere in the package outside the CrawlConfig class itself."""
    read = set()
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path))
        skip = {id(n) for c in ast.walk(tree)
                if isinstance(c, ast.ClassDef) and c.name == "CrawlConfig"
                for n in ast.walk(c)}
        read.update(n.attr for n in ast.walk(tree)
                    if isinstance(n, ast.Attribute) and id(n) not in skip
                    and isinstance(n.ctx, ast.Load))
    unread = sorted(f.name for f in fields(CrawlConfig)
                    if f.name not in read)
    assert not unread, f"CrawlConfig fields nothing reads: {unread}"


def _delta(workdir, rnd, table):
    d = _round_dir(str(workdir), rnd) / "url_seen_delta.parquet"
    d.mkdir(parents=True)
    pq.write_table(table, d / "part-00000.parquet")
    return d


def test_url_seen_check_refuses_a_non_string_url_column(tmp_path):
    _delta(tmp_path, -1, pa.table({"url": pa.array(["https://a/"])}))
    bad = _delta(tmp_path, 0, pa.table({"url": pa.array([1, 2], pa.int64())}))
    with pytest.raises(ValueError, match=str(bad.parent.name)):
        _check_url_seen_deltas(str(tmp_path), 1)


def test_url_seen_check_reads_only_the_deltas_it_resumes_from(tmp_path):
    """string and large_string pass, a delta dir without parquet files
    (an empty round) is skipped, and rounds at or past `upto_round`, which
    the resume rewrites, are not checked."""
    _delta(tmp_path, -1, pa.table({"url": pa.array(["https://a/"])}))
    _delta(tmp_path, 0, pa.table(
        {"url": pa.array(["https://b/"], pa.large_string())}))
    (_round_dir(str(tmp_path), 1) / "url_seen_delta.parquet").mkdir(
        parents=True)
    _delta(tmp_path, 2, pa.table({"u": pa.array(["https://c/"])}))
    _check_url_seen_deltas(str(tmp_path), 2)
    with pytest.raises(ValueError, match="round=00002"):
        _check_url_seen_deltas(str(tmp_path), 3)
