"""Evidence-pipeline guards for bench.py (round-3 verdict item 1).

The driver records only the LAST ~2000 characters of bench stdout, so the
adjudication-critical numbers must fit one compact final line. These tests
pin the pure helpers that build that line - no Spark session needed:

- the compact line built from a realistic full record stays under the
  1800-char trim threshold (and the trim path itself stays under 2000),
- _pair_stage_ratio is a strictly SAME-PAIR comparison (round-4 ADVICE:
  the old cross-run best-vs-best overstated the evidence): the stage wall
  and the kernel ceiling come from the same crawl+ceiling pair,
- _crawl_compact keeps the fields speedup_vs_baseline needs next round
  (threads + "HxPxW" shape string) while dropping the bulky corpus dict,
- the one-phase subcommands dispatch to their phase and print one JSON
  line, and a bad subcommand exits non-zero,
- phase_queries labels each query's jobs `q:<name>` and phase_plans
  writes one plan file per query.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _full_crawl_record(threads: int) -> dict:
    return {
        "threads": threads,
        "corpus": {"hosts": 32, "pages_per_host": 6175, "pad_paras": 48},
        "pages_fetched": 197600,
        "rounds": 4,
        "wall_sec": 48.19,
        "urls_per_sec": 4100.79,
        "rounds_per_hour": 298.8,
        "round_walls": [11.537, 6.681, 7.649, 29.182],
        "round_fetched": [32, 579, 10425, 186564],
        "stage_walls": [
            {"extract_write": 10.215, "arbitrate_ckpt": 0.906,
             "writes_and_metrics": 0.268},
            {"extract_write": 4.374, "arbitrate_ckpt": 1.782,
             "writes_and_metrics": 0.376},
            {"extract_write": 5.147, "arbitrate_ckpt": 1.983,
             "writes_and_metrics": 0.385},
            {"extract_write": 27.662, "arbitrate_ckpt": 0.02,
             "writes_and_metrics": 1.336},
        ],
        "ctl": {"before": 0.821, "after": 0.716},
        "all_walls": [89.8, 73.14, 66.85, 82.4, 48.19],
        "ctl_reran": 1,
        "best_extract_wall": 27.662,
    }


def test_pair_stage_ratio_is_same_pair_only():
    """The official ratio comes from ONE crawl+ceiling pair: this run's own
    final-round extract wall against this pair's kernel reading. A faster
    extract wall from some OTHER run (best_extract_wall) must NOT leak in -
    that cross-run mixing is exactly what round-4's ADVICE flagged."""
    ceil = {"pages_per_sec": 13352.1}
    c = _full_crawl_record(32)
    base = bench._pair_stage_ratio(c, ceil)
    assert base == round(13352.1 / (186564 / 27.662), 3)
    c["best_extract_wall"] = 15.0  # cross-run artifact: must be ignored
    assert bench._pair_stage_ratio(c, ceil) == base


def test_pair_stage_ratio_handles_missing_fields():
    assert bench._pair_stage_ratio({}, {"pages_per_sec": 100}) is None
    c = _full_crawl_record(8)
    assert bench._pair_stage_ratio(c, {}) is None


def test_crawl_compact_keeps_comparability_fields():
    c = bench._crawl_compact(_full_crawl_record(32))
    assert c["threads"] == 32
    assert c["shape"] == "32x6175x48"  # speedup_vs_baseline's shape check
    assert c["urls_per_sec"] == 4100.79
    assert "corpus" not in c  # the bulky dict lives in bench_full.json
    assert "stage_walls" not in c
    assert c["all_walls"] == [89.8, 73.14, 66.85, 82.4, 48.19]


def test_compact_line_fits_driver_tail_capture():
    """Build the exact compact dict main() builds, from a realistic full
    record (16 headline queries, both pinnings, long + priority crawls),
    and assert the one stdout line stays under the 1800-char trim
    threshold - the driver keeps ~2000 chars, and truncation here is what
    lost round 3's query evidence."""
    queries = {n: 9.999 for n in bench.HEADLINE}
    scaling = {
        "urls_per_sec_small": 3419.55, "urls_per_sec_big": 4100.79,
        "efficiency_n_to_4n": 0.3, "workload_ceiling_n_to_4n": 0.728,
        "efficiency_vs_workload_ceiling": 0.412,
        "extract_pages_per_sec_small": 4587.0,
        "extract_pages_per_sec_big": 13352.1,
        "extract_stage_vs_kernel_big": 1.334,
        "extract_stage_vs_kernel_small": 0.991,
        "steady_eff_n_to_4n": 0.62,
        "steady_vs_ceiling": 1.01,
        "cpu_scaling_efficiency_n_to_4n": 0.765,
        "clean": 1,  # compact form: 1/0; ctl_ref stays in bench_full.json only
    }
    compact = {
        "metric": "headline_queries_plus_crawl_total",
        "value": 1247.26, "unit": "sec", "sf": "0.1",
        "crawl": {"local[32]": bench._crawl_compact(_full_crawl_record(32)),
                  "local[8]": bench._crawl_compact(_full_crawl_record(8))},
        "long_crawl": {"rounds": 11, "pages_fetched": 49400,
                       "wall_sec": 54.27, "urls_per_sec": 910.34,
                       "fanin_before": 12,
                       "fanin_after": 4, "rewind_ok": True,
                       "ctl": [0.821, 0.716, 0]},
        "crawl_priority": {"wall_sec": 60.97,
                           "urls_per_sec": 810.23, "rounds": 11,
                           "wall_vs_fifo": 1.123,
                           "ctl": [0.821, 0.716, 0]},
        "steady_crawl": {"shape": "8x6175x384", "ups_small": 701.2,
                         "ups_big": 1701.9, "eff": 0.607, "ceil": 0.655,
                         "eff_vs_ceil": 0.927, "clean": 1},
        "sf1": {"growth": {"minhash": 9.1, "ngram": 11.4,
                           "components": 8.8, "cosine": 12.2},
                "sf1_walls": {"minhash": 14.21, "ngram": 27.93,
                              "components": 19.41, "cosine": 11.87}},
        "query_warm": {"25_docs": {"med": 486.4, "min": 469.7,
                                   "batch8": 519.7, "loc": 0.112},
                       "sf0.1": {"med": 789.4, "min": 759.2,
                                 "batch8": 868.9, "loc": 12.481}},
        "speedup_vs_baseline": {"baseline_run": "BENCH_r02.json",
                                "q_median": 1.05, "q_min": 0.43,
                                "q_max": 2.94, "crawl_urls_per_sec": 0.95},
        "queries": queries,
        "query_phase_control": [0.821, 0.716, 0.716, 1, True],
        "scaling": scaling,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 1: per-run walls to full json
        for lvl in compact["crawl"].values():
            lvl.pop("all_walls", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 2: shape-implied page counts
        for lvl in compact["crawl"].values():
            lvl.pop("pages_fetched", None)
        compact["long_crawl"].pop("pages_fetched", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 3: growth ratios carry the claim
        compact["sf1"].pop("sf1_walls", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 4: absolute ceiling pps
        compact["scaling"].pop("extract_pages_per_sec_small", None)
        compact["scaling"].pop("extract_pages_per_sec_big", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 5: eff/ceil carry the claim
        compact["steady_crawl"].pop("ups_small", None)
        compact["steady_crawl"].pop("ups_big", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 6: med/batch8/loc carry the claim
        for v in compact.get("query_warm", {}).values():
            v.pop("min", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # main()'s trim 7: derivable next round
        compact.pop("speedup_vs_baseline", None)
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1800, f"compact line {len(line)} chars"
    # the unique cross-round evidence survives the realistic trim depth
    assert "speedup_vs_baseline" in compact
    # trims 1-2 must never cost the adjudication-critical keys: warm
    # latency + phase controls survive (only the never-reached last-resort
    # trim may drop them), and the scaling block stays whole
    for key in ("queries", "query_phase_control", "scaling", "crawl",
                "long_crawl", "crawl_priority", "query_warm",
                "steady_crawl", "sf1"):
        assert key in compact
    # warm-latency claims survive: Spark-plan median + the local-serve
    # figure (round 5) stay on the line at realistic trim depth
    for v in compact["query_warm"].values():
        assert "med" in v and "batch8" in v and "loc" in v
    # the per-section controls (round-4 verdict #3) survive every trim
    assert "ctl" in compact["long_crawl"]
    assert "ctl" in compact["crawl_priority"]
    assert "growth" in compact["sf1"]
    assert "eff_vs_ceil" in compact["steady_crawl"]
    assert "clean" in compact["steady_crawl"]
    for key in ("extract_stage_vs_kernel_big", "steady_eff_n_to_4n",
                "steady_vs_ceiling", "efficiency_n_to_4n"):
        assert key in compact["scaling"]


def test_steady_state_eff_uses_best_extract_walls():
    """The steady-state N->4N efficiency isolates the big-round extract
    stage (the regime a 10^10-url crawl actually lives in) from the
    small-round scheduling floor, best-vs-best across each pinning's
    runs, normalized by the same-run zero-Spark kernel ceiling."""
    small = _full_crawl_record(8)
    big = _full_crawl_record(32)
    small["best_extract_wall"] = 36.709
    big["best_extract_wall"] = 14.805
    out = bench._steady_state_eff(small, big, 0.614)
    assert out["steady_eff_n_to_4n"] == round(36.709 / (4 * 14.805), 3)
    assert out["steady_vs_ceiling"] == round(
        out["steady_eff_n_to_4n"] / 0.614, 3)
    # falls back to the kept run's final-round wall when no cross-run min
    del small["best_extract_wall"], big["best_extract_wall"]
    out2 = bench._steady_state_eff(small, big, 0.614)
    assert out2["steady_eff_n_to_4n"] == round(27.662 / (4 * 27.662), 3)
    # degrades gracefully on missing stage data / ceiling
    assert bench._steady_state_eff({}, big, 0.614) == {}
    assert "steady_vs_ceiling" not in bench._steady_state_eff(small, big, 0.0)


def test_selected_controls_clean_flags_excursions():
    """The steady phase's clean flag reflects the four SELECTED readings'
    bracket controls vs the run reference — a 4.59 s reading against a
    0.7 s reference (~6.6x, the round-5 run-C failure mode) marks the
    phase dirty, and absent controls are never presented as clean."""
    saved = bench._CTL_REF
    try:
        bench._CTL_REF = 0.7
        ok = {"ctl": {"before": 0.72, "after": 0.8}}
        dirty = {"ctl": {"before": 0.73, "after": 4.59}}
        assert bench._selected_controls_clean(ok, ok, ok, ok)
        assert not bench._selected_controls_clean(ok, ok, ok, dirty)
        assert not bench._selected_controls_clean({}, {})
        assert not bench._selected_controls_clean({"ctl": None}, ok)
        # final-reference semantics: a reading that passed a provisional
        # phase-time reference can be dirty once the run's reference drops
        # (run-D boundary case: 0.878 vs final ref 0.702 -> bound 0.8775),
        # which is why main() re-judges before writing the artifact
        bench._CTL_REF = 0.702
        boundary = {"ctl": {"before": 0.878, "after": 0.717}}
        assert not bench._selected_controls_clean(boundary, ok)
    finally:
        bench._CTL_REF = saved


def _pair(wall, crawl_after, pps, ceil_after, ratio):
    """Minimal crawl+ceiling pair for selection tests: only the fields
    _best_crawl_of/_best_ceil_of/paired_level touch."""
    return {
        "crawl": {"wall_sec": wall, "urls_per_sec": 1000.0 / wall,
                  "ctl": {"before": 0.72, "after": crawl_after},
                  "round_fetched": [10, 100],
                  "stage_walls": [{"extract_write": 1.0},
                                  {"extract_write": wall / 2}]},
        "ceil": {"pages_per_sec": pps,
                 "ctl": {"before": 0.71, "after": ceil_after}},
        "ratio": ratio,
    }


def test_best_of_prefers_clean_readings():
    """Selection rule (round-5, after run E): the level's crawl/ceiling is
    the fastest among CLEAN-bracketed readings, falling back to fastest
    overall only when no clean one exists — otherwise a control-retry
    pair can never replace a dirty-but-faster selection and the scaling
    clean flag is stuck false."""
    saved = bench._CTL_REF
    try:
        bench._CTL_REF = 0.7
        dirty_fast = _pair(50.0, 1.5, 20000, 0.72, 1.0)
        clean_slow = _pair(60.0, 0.73, 18000, 0.73, 1.1)
        pairs = [dirty_fast, clean_slow]
        assert bench._best_crawl_of(pairs)["wall_sec"] == 60.0
        # the ceiling picks the clean 20k reading (its own ctl is clean
        # even though the same pair's crawl was dirty)
        assert bench._best_ceil_of(pairs)["pages_per_sec"] == 20000
        # no clean reading anywhere -> fastest overall (flagged dirty
        # downstream by _selected_controls_clean)
        dirty_slow = _pair(70.0, 2.0, 15000, 2.0, 1.2)
        assert bench._best_crawl_of(
            [dirty_fast, dirty_slow])["wall_sec"] == 50.0
        assert bench._best_ceil_of(
            [_pair(50.0, 1.5, 20000, 2.0, 1.0), dirty_slow]
        )["pages_per_sec"] == 20000
    finally:
        bench._CTL_REF = saved


def test_paired_level_retries_until_clean_selection(monkeypatch):
    """paired_level keeps adding pairs (up to 2, soft-budget capped) while
    the SELECTED crawl or ceiling controls are dirty, and the clean pair
    it buys actually wins selection."""
    saved = bench._CTL_REF
    try:
        bench._CTL_REF = 0.7
        feed = [_pair(50.0, 1.5, 20000, 1.6, 1.3),   # initial: all dirty
                _pair(62.0, 0.73, 18000, 0.72, 1.1)]  # retry: clean
        calls = []

        def fake_run_pair(threads, corpus_path, pin, ceiling_cap=None,
                          shape=None):
            calls.append(threads)
            return feed.pop(0)

        monkeypatch.setattr(bench, "run_pair", fake_run_pair)
        crawl, ceil, gate = bench.paired_level(1, 8, "unused", 8, "test")
        assert len(calls) == 2  # one ctl retry, then clean -> stop
        assert crawl["ctl_reran"] == 1
        assert crawl["wall_sec"] == 62.0          # clean pair selected
        assert ceil["pages_per_sec"] == 18000     # clean ceiling selected
        assert gate["same_pair_ratios"] == [1.3, 1.1]
        assert gate["best_same_pair_ratio"] == 1.1
        assert crawl["all_walls"] == [50.0, 62.0]
        # best_extract_wall still spans ALL pairs (steady-state figure)
        assert crawl["best_extract_wall"] == 25.0
    finally:
        bench._CTL_REF = saved


def test_reselection_under_final_reference_flips_to_clean_sibling():
    """The run's control reference only decreases as phases execute, so a
    reading judged clean at phase time can be dirty under the final ref.
    main() re-runs _select_level after the last phase; under the lower
    reference the finally-clean sibling must displace the now-dirty
    faster reading (review find, round 5: re-judging the flag without
    re-running selection reintroduced the stuck-false failure mode)."""
    saved = bench._CTL_REF
    try:
        bench._CTL_REF = 0.8
        fast = _pair(50.0, 0.95, 20000, 0.79, 1.0)  # clean at ref 0.8
        slow = _pair(60.0, 0.72, 18000, 0.72, 1.1)
        crawl, _ = bench._select_level([fast, slow], 0)
        assert crawl["wall_sec"] == 50.0  # both clean -> fastest wins
        bench._CTL_REF = 0.7  # final ref: 0.95 > 0.875 is now dirty
        crawl2, ceil2 = bench._select_level([fast, slow], 0)
        assert crawl2["wall_sec"] == 60.0  # clean sibling displaces it
        assert bench._selected_controls_clean(crawl2, ceil2)
    finally:
        bench._CTL_REF = saved


def test_paired_level_ctl_retry_respects_soft_budget(monkeypatch):
    """Once the bench is over its soft wall-clock budget the ctl retry is
    skipped and the dirty reading is recorded as-is (flagged downstream) —
    a slow co-tenancy day must not push the driver call into a timeout."""
    saved_ref, saved_t0 = bench._CTL_REF, bench._BENCH_T0
    try:
        bench._CTL_REF = 0.7
        bench._BENCH_T0 = -10**9  # force over-budget
        feed = [_pair(50.0, 1.5, 20000, 1.6, 1.0)]
        monkeypatch.setattr(
            bench, "run_pair",
            lambda *a, **k: feed.pop(0))
        crawl, ceil, gate = bench.paired_level(1, 8, "unused", 8, "test")
        assert crawl["ctl_reran"] == 0
        assert crawl["wall_sec"] == 50.0
    finally:
        bench._CTL_REF, bench._BENCH_T0 = saved_ref, saved_t0


def test_shape_str():
    assert bench._shape_str({"hosts": 32, "pages_per_host": 6175,
                             "pad_paras": 48}) == "32x6175x48"
    assert bench._shape_str(None) is None


def test_scaling_pair_2to8_artifact_is_self_consistent():
    """bench_scaling_pair_2to8.json (the committed unsaturated-pair
    evidence for the north rule's >= 0.8 criterion) must stay internally
    consistent: every derived ratio recomputes from its own raw readings,
    the PASS claim matches the numbers, and all eight bracket controls
    sit within the 25% cleanliness band of the window's fastest."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench_scaling_pair_2to8.json")
    rec = json.load(open(path))

    eff = rec["urls_per_sec_big"] / (4 * rec["urls_per_sec_small"])
    assert abs(eff - rec["efficiency_n_to_4n"]) < 5e-3
    wc = rec["kernel_pps_big"] / (4 * rec["kernel_pps_small"])
    assert abs(wc - rec["workload_ceiling_n_to_4n"]) < 5e-3
    assert abs(eff / wc - rec["efficiency_vs_workload_ceiling"]) < 5e-3
    steady = rec["extract_final_small"] / (4 * rec["extract_final_big"])
    assert abs(steady - rec["steady_eff_n_to_4n"]) < 5e-3

    # the headline claim: raw whole-crawl AND steady-stage clear 0.8,
    # and the kernel ceiling confirms the pair is unsaturated (>= ~0.9)
    assert rec["efficiency_n_to_4n"] >= 0.8
    assert rec["steady_eff_n_to_4n"] >= 0.8
    assert rec["workload_ceiling_n_to_4n"] >= 0.9
    assert "PASS" in rec["result"]

    ctls = [v for pair in rec["ctl"].values() for v in pair.values()]
    ref = min(ctls)
    assert all(c <= ref * 1.25 for c in ctls)
    # walls consistent with throughput (49,400-page crawl)
    assert abs(rec["urls_per_sec_small"] * rec["wall_small"] - 49400) < 500
    assert abs(rec["urls_per_sec_big"] * rec["wall_big"] - 49400) < 500


def test_index_store_artifact_is_self_consistent():
    """bench_index_store.json (the committed term-bucketed-store query
    evidence) must stay internally consistent: the headline median
    recomputes from the per-query speedups, each speedup from its own
    walls, every query's scan was actually bucket-pruned, and the
    correctness cross-check (plain == store results) was asserted by the
    tool itself before any timing was recorded."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench_index_store.json")
    rec = json.load(open(path))

    assert rec["results_identical"] is True
    assert rec["term_df_store_exchange_free"] is True
    speedups = []
    for q, row in rec["queries"].items():
        assert abs(row["speedup"] - row["plain_ms"] / row["store_ms"]) < 5e-2
        k, total = map(int, row["buckets"].split("/"))
        assert 1 <= k <= len(q.split()) and total == rec["buckets"]
        speedups.append(row["speedup"])
    import statistics
    assert abs(rec["value"] - statistics.median(speedups)) < 5e-3
    assert rec["value"] >= 1.2  # the pruned scan wins at 20M postings
    assert rec["n_postings"] > 10_000_000


class _FakeSpark:
    stopped = False

    def stop(self):
        self.stopped = True


def test_queries_subcommand_runs_only_the_named_queries(monkeypatch, capsys):
    """`bench.py queries url_valid` runs phase 1 for that one query on one
    session, stops it, and prints one JSON line of its timings."""
    spark = _FakeSpark()
    calls = []

    def fake_phase_queries(sp, names):
        calls.append((sp, list(names)))
        return {n: 0.5 for n in names}, {"clean": True}

    monkeypatch.setattr(bench, "build_session", lambda threads: spark)
    monkeypatch.setattr(bench, "phase_queries", fake_phase_queries)
    bench.subcommand(["queries", "url_valid"])

    assert calls == [(spark, ["url_valid"])]
    assert spark.stopped
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0]) == {"queries": {"url_valid": 0.5},
                                    "query_phase_control": {"clean": True}}


def test_unknown_subcommand_exits_nonzero(monkeypatch):
    """A mistyped subcommand (or `plans` without its tag) exits non-zero
    before any session starts."""
    import subprocess

    def no_session(threads):
        raise AssertionError("session built for a bad subcommand")

    monkeypatch.setattr(bench, "build_session", no_session)
    for argv in (["query"], ["plans"]):
        try:
            bench.subcommand(argv)
        except SystemExit as e:
            assert e.code not in (0, None)
        else:
            raise AssertionError(f"{argv} did not exit")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "bench.py", "nosuchmode"],
                          cwd=root, capture_output=True, text=True,
                          timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


def _one_json_line(capsys) -> dict:
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    return json.loads(lines[0])


def test_queries_subcommand_defaults_to_every_headline_query(monkeypatch,
                                                             capsys):
    calls = []

    def fake_phase_queries(sp, names):
        calls.append(list(names))
        return {n: 0.1 for n in names}, {"clean": True}

    monkeypatch.setattr(bench, "build_session", lambda threads: _FakeSpark())
    monkeypatch.setattr(bench, "phase_queries", fake_phase_queries)
    bench.subcommand(["queries"])
    assert calls == [bench.HEADLINE]
    assert list(_one_json_line(capsys)["queries"]) == bench.HEADLINE


def test_warm_subcommand_runs_only_the_warm_phase(monkeypatch, capsys):
    spark = _FakeSpark()
    calls = []

    def fake_warm(sp):
        calls.append(sp)
        return {"25_docs": {"query_ms": 12.0}}

    def no_phase(*a, **k):
        raise AssertionError("warm ran another phase")

    monkeypatch.setattr(bench, "build_session", lambda threads: spark)
    monkeypatch.setattr(bench, "phase_query_warm", fake_warm)
    monkeypatch.setattr(bench, "phase_queries", no_phase)
    monkeypatch.setattr(bench, "phase_plans", no_phase)
    bench.subcommand(["warm"])
    assert calls == [spark] and spark.stopped
    assert _one_json_line(capsys) == {
        "query_warm": {"25_docs": {"query_ms": 12.0}}}


def test_plans_subcommand_passes_tag_and_query_names(monkeypatch, capsys):
    """`plans <tag> name ...` writes the named queries' plans under the
    tag; with no names it covers every headline query."""
    calls = []

    def fake_plans(sp, tag, names):
        calls.append((tag, list(names)))
        return [f"{n}_{tag}.txt" for n in names]

    monkeypatch.setattr(bench, "build_session", lambda threads: _FakeSpark())
    monkeypatch.setattr(bench, "phase_plans", fake_plans)
    bench.subcommand(["plans", "before", "url_valid", "postings"])
    assert _one_json_line(capsys) == {
        "plans": ["url_valid_before.txt", "postings_before.txt"]}
    bench.subcommand(["plans", "after"])
    _one_json_line(capsys)
    assert calls == [("before", ["url_valid", "postings"]),
                     ("after", bench.HEADLINE)]


def test_subcommand_stops_the_session_when_its_phase_fails(monkeypatch,
                                                           capsys):
    spark = _FakeSpark()

    def failing_warm(sp):
        raise RuntimeError("query failed")

    monkeypatch.setattr(bench, "build_session", lambda threads: spark)
    monkeypatch.setattr(bench, "phase_query_warm", failing_warm)
    try:
        bench.subcommand(["warm"])
    except RuntimeError:
        pass
    else:
        raise AssertionError("the phase's failure was swallowed")
    assert spark.stopped
    assert capsys.readouterr().out == ""


class _FakeQuery:
    def __init__(self, jobs: set, n_jobs: int, n_rows: int):
        self.jobs, self.n_jobs, self.n_rows = jobs, n_jobs, n_rows

    def count(self):
        for _ in range(self.n_jobs):
            self.jobs.add(len(self.jobs))
        return self.n_rows


def test_phase_queries_labels_each_querys_jobs(monkeypatch, capsys):
    """Phase 1 times only the queries it is given, runs each under the
    job description `q:<name>`, clears it afterwards, and logs the job
    and generated-class compile counts of one run next to the query's
    timing."""
    from high_performance_parallel_search_engine_spark import (
        oracles,
        session,
    )

    jobs: set = set()
    descriptions = []

    class Tracker:
        def getJobIdsForGroup(self, group):
            assert group is None
            return sorted(jobs)

    class Context:
        def setJobDescription(self, text):
            descriptions.append(text)

        def statusTracker(self):
            return Tracker()

    class Spark:
        sparkContext = Context()

    queries = {
        "url_priority": lambda sp, sf: _FakeQuery(jobs, 1, 1),
        "two_jobs": lambda sp, sf: _FakeQuery(jobs, 2, 10),
        "one_job": lambda sp, sf: _FakeQuery(jobs, 1, 3),
        "not_asked": lambda sp, sf: 1 / 0,
    }
    monkeypatch.setattr(oracles, "QUERIES", queries)
    # a fake JVM compile counter: 3 classes per job
    monkeypatch.setattr(session, "codegen_compiles",
                        lambda sp: 3 * len(jobs))
    monkeypatch.setattr(bench, "gated", lambda name, fn: (fn(), {"ok": 1}))
    timings, ctl = bench.phase_queries(Spark(), ["two_jobs", "one_job"])

    assert list(timings) == ["two_jobs", "one_job"] and ctl == {"ok": 1}
    assert descriptions == ["q:two_jobs", None, "q:one_job", None]
    err = capsys.readouterr().err
    assert "(10 rows, 2 jobs, 6 compiles)" in err
    assert "(3 rows, 1 jobs, 3 compiles)" in err


def test_phase_plans_writes_one_plan_file_per_query(monkeypatch, tmp_path):
    from high_performance_parallel_search_engine_spark import oracles
    from high_performance_parallel_search_engine_spark.plans import lineage

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(oracles, "QUERIES",
                        {"url_valid": lambda sp, sf: "df:url_valid",
                         "postings": lambda sp, sf: "df:postings"})
    monkeypatch.setattr(lineage, "explain_text",
                        lambda df, mode: f"{mode} plan of {df}")
    paths = bench.phase_plans(object(), "after", ["url_valid", "postings"])

    dest = tmp_path / "plans" / "r06"
    assert paths == [str(dest / "url_valid_after.txt"),
                     str(dest / "postings_after.txt")]
    assert (dest / "postings_after.txt").read_text() == \
        "formatted plan of df:postings"
