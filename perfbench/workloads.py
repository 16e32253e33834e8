"""The benchmark's workloads. Each one builds its seeded inputs
(`build_inputs`, repeated; `prepare`, once), warms up, runs one unit
operation per `op()` call and afterwards, outside the timed region, checks
the engine's outputs against the repository's oracles.

crawl_exact  parity-mode crawl (trace=True, exact arbitration) over a
             zipf-linked corpus of small pages with dead links, a `*`
             politeness budget, robots rules, url-seen compaction after
             every round and a max_pages stop that runs the stop-cutoff
             slow path in the final round. The per-round job floor
             dominates; extraction is trivial. One op = one crawl; one
             item = one fetched page.
serve        the search and near-duplicate tier over one seeded collection.
             One op is a fixed request mix: a merge_postings delta, single
             queries on the distributed (rank_bm25, df_map warm path) and
             the local (LocalIndex.rank) serving paths, one rank_bm25_batch
             of 8, and the six dedup/similarity operators into a noop sink
             over the repository's sf0.01 testdata tables `documents` and
             `embeddings` (byte copies in perfbench/testdata/sf0.01). One
             item = one request.
"""

from __future__ import annotations

import os
import shutil
import statistics
from pathlib import Path

import numpy as np

import inputs as gen

# ---- sizes (changing any of these changes the benchmark) -------------------

EXACT = dict(hosts=4, pages_per_host=300, tiny_per_host=2, budget=15,
             max_depth=3, max_pages=40, compact_every=1, warm_crawls=2)
EXACT_ROBOTS = [("host1.example.com", "disallow", "/p/2"),
                ("host2.example.com", "disallow", "/p/1"),
                ("host2.example.com", "allow", "/p/15")]
SERVE = dict(docs=4_000, vocab=3_000, zipf_s=1.05, len_lo=20, len_hi=100,
             delta_new=50, delta_replaced=50, queries_per_op=4, batch=8,
             top_k=10)
# the near-duplicate operators read <dir>/{documents,embeddings}.parquet
DEDUP_SF_DIR = Path(__file__).resolve().parent / "testdata" / "sf0.01"
DEDUP_OPS = ("dedup_exact", "minhash_lsh_pairs", "simhash",
             "ngram_jaccard_pairs", "cosine_topk", "dedup_components")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: output checks count into attempted/failed."""

    name = ""

    def __init__(self, spark, tracer, seed: int, workdir: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.dir = workdir
        self.checks = 0
        self.wrong: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.wrong.append(what)

    def prepare(self) -> None:
        """Once-per-run set-up on top of the last built inputs."""

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

class CrawlExact(Workload):
    name = "crawl_exact"

    def __init__(self, *a):
        super().__init__(*a)
        from high_performance_parallel_search_engine_spark.operators import (
            crawl,
        )
        from high_performance_parallel_search_engine_spark.sources.synth \
            import page_url

        c = EXACT
        self.crawl_mod = crawl
        self.seeds = [page_url(h, 0) for h in range(c["hosts"])]
        self.config = self.crawl_mod.CrawlConfig(
            max_depth=c["max_depth"], max_pages=c["max_pages"],
            arbitration="exact", trace=True,
            politeness={"*": c["budget"]}, robots=EXACT_ROBOTS,
            compact_every=c["compact_every"])
        self.pages = None
        self.state = None
        self.resume_ratio = 0.0
        self._orig = None
        if self.tracer.enabled:
            self._wrap_rounds()

    def _wrap_rounds(self) -> None:
        """Spans around each run_round and compact_url_seen, installed from
        the benchmark's side (run_crawl resolves both through the module)."""
        mod, tr = self.crawl_mod, self.tracer
        self._orig = (mod.run_round, mod.compact_url_seen)
        run_round, compact = self._orig

        def traced_round(*a, **k):
            if not tr.enabled:
                return run_round(*a, **k)
            with tr.span("crawl.run_round") as sp:
                m = run_round(*a, **k)
                sp.attrs.update({key: m[key] for key in (
                    "round", "fetched", "candidates", "enqueued", "events",
                    "stage_wall")})
            return m

        def traced_compact(*a, **k):
            with tr.span("crawl.compact_url_seen"):
                return compact(*a, **k)

        mod.run_round, mod.compact_url_seen = traced_round, traced_compact

    def close(self) -> None:
        if self._orig is not None:
            self.crawl_mod.run_round, self.crawl_mod.compact_url_seen = \
                self._orig

    def build_inputs(self, rep: int) -> None:
        from high_performance_parallel_search_engine_spark.sources.synth \
            import build_corpus_df

        c = EXACT
        path = self.dir / f"pages{rep}"
        shutil.rmtree(self.dir / f"pages{rep - 1}", ignore_errors=True)
        df = build_corpus_df(
            self.spark, n_hosts=c["hosts"], pages_per_host=c["pages_per_host"],
            n_medium=0, n_tiny_per_host=c["tiny_per_host"], seed=self.seed,
            with_oracle_text=False, link_mode="zipf")
        df.select("url", "warc_ts", "html", "lang").write.mode("overwrite") \
            .parquet(str(path))
        self.pages = self.spark.read.parquet(str(path))

    def warmup(self) -> None:
        """Crawls get cheaper for several crawls while the JIT compiles the
        round path; the measured crawl comes after the steepest part."""
        for _ in range(EXACT["warm_crawls"]):
            self._crawl(self.dir / "warm")

    def op(self) -> int:
        self.state = self._crawl(self.dir / "crawl")
        return self.state.pages_crawled

    def _crawl(self, wd: Path):
        with self.tracer.span("crawl.run_crawl"):
            return self.crawl_mod.run_crawl(
                self.spark, self.pages, self.seeds, str(wd), self.config,
                overwrite=True)

    def _oracle(self):
        from high_performance_parallel_search_engine_spark.kernel.bfs import (
            crawl,
        )
        from high_performance_parallel_search_engine_spark.sources.synth \
            import pages_dict

        c = EXACT
        robots: dict[str, list] = {}
        for host, rule, prefix in EXACT_ROBOTS:
            robots.setdefault(host, []).append((rule, prefix))
        pages = pages_dict(n_hosts=c["hosts"],
                           pages_per_host=c["pages_per_host"], n_medium=0,
                           n_tiny_per_host=c["tiny_per_host"], seed=self.seed,
                           with_oracle_text=False, link_mode="zipf")
        return crawl(pages, self.seeds, max_depth=c["max_depth"],
                     max_pages=c["max_pages"],
                     politeness={"*": c["budget"]}, robots=robots)

    def _events(self, wd: Path) -> list[tuple]:
        df = self.spark.read.parquet(f"{wd}/round=*/events.parquet")
        return [tuple(r) for r in df.select(
            "seq", "round", "url", "parent_url", "depth", "host", "action",
            "delay_ms").orderBy("seq").collect()]

    def _seen(self, wd: Path) -> set[str]:
        paths = [str(p) for p in wd.glob("round=*/url_seen_delta.parquet")]
        return {r[0] for r in self.spark.read.parquet(*paths).collect()}

    def check(self) -> None:
        """The last crawl's event trace and url-seen set equal the serial
        oracle (kernel.bfs.crawl) event for event."""
        wd = self.dir / "crawl"
        want = self._oracle()
        got = self._events(wd)
        expected = [(e.seq, e.round, e.url, e.parent_url, e.depth, e.host,
                     e.action, e.delay_ms) for e in want.events]
        self.expect(got == expected, "crawl_exact: event trace != oracle")
        self.expect(self._seen(wd) == want.url_seen_rounds[-1],
                    "crawl_exact: url-seen set != oracle")
        self.expect(self.state.pages_crawled == want.pages_crawled,
                    "crawl_exact: pages_crawled != oracle")
        if self.tracer.enabled:
            self._check_resume(wd, got)

    def _check_resume(self, wd: Path, uninterrupted: list[tuple]) -> None:
        """run_crawl(resume_from=r) at a mid-crawl round - the latest of the
        second-to-last round and the last compaction point, which is the
        earliest round a compacted workdir can rewind to - replayed to the
        end, must reproduce the uninterrupted trace."""
        import time

        metrics = self.state.metrics
        r = max(0, len(metrics) - 2)
        marker = wd / "_compacted_upto"
        if marker.exists():
            r = max(r, int(marker.read_text()))
        replayed = sum(m["wall_sec"] for m in metrics[r + 1:])
        t0 = time.perf_counter()
        with self.tracer.span("crawl.resume"):
            self.crawl_mod.run_crawl(self.spark, self.pages, self.seeds,
                                     str(wd), self.config, resume_from=r)
        self.resume_ratio = (time.perf_counter() - t0) / replayed
        self.expect(self._events(wd) == uninterrupted,
                    "crawl_exact: resumed trace != uninterrupted trace")

    def layer_metrics(self, loop_spans, setup_spans) -> dict:
        rounds = [s for s in loop_spans if s.name == "crawl.run_round"]
        crawls = [s for s in loop_spans if s.name == "crawl.run_crawl"]
        compacts = [s for s in loop_spans
                    if s.name == "crawl.compact_url_seen"]
        round_wall = sum(s.wall for s in rounds)
        out = {
            "crawl.jobs_per_round": statistics.mean(s.jobs for s in rounds),
            "crawl.rounds_per_op": len(rounds) / len(crawls),
            "crawl.core_busy_frac": sum(s.cpu_s for s in rounds)
            / (round_wall * ncores()),
            "crawl.compact_frac": sum(s.wall for s in compacts)
            / sum(s.wall for s in crawls),
            "crawl.resume_ratio": self.resume_ratio,
        }
        for s in rounds:
            for k, v in s.attrs["stage_wall"].items():
                key = f"crawl.stage.{k}_frac"
                out[key] = out.get(key, 0.0) + v / round_wall
        attrs = [s.attrs for s in rounds]
        cands = sum(a["candidates"] for a in attrs)
        fetched = sum(a["events"].get("fetched", 0) for a in attrs)
        failed = sum(a["events"].get("fetch_failed", 0) for a in attrs)
        out["crawl.dedup_keep_ratio"] = (
            sum(a["enqueued"] for a in attrs) / cands)
        out["crawl.fetch_ok_ratio"] = fetched / (fetched + failed)
        return out


# ---------------------------------------------------------------------------
# search + near-duplicate serving tier
# ---------------------------------------------------------------------------

class Serve(Workload):
    name = "serve"

    def __init__(self, *a):
        super().__init__(*a)
        c = SERVE
        rng = np.random.default_rng(self.seed)
        self.queries = gen.search_queries(rng, 512, c["vocab"], c["zipf_s"])
        self.qpos = 0
        self.ix = None
        self.served: list[tuple] = []   # (query, distributed, local)
        self.batched: list[tuple] = []  # (queries, rows)
        self.dedup_out: dict[str, tuple] = {}  # name -> (columns, rows)

    def build_inputs(self, rep: int) -> None:
        """The collection and a crawl-round-sized delta (re-crawled docs
        plus new ones)."""
        c = SERVE
        rng = np.random.default_rng([self.seed, 1])
        base = self.dir / f"in{rep}"
        shutil.rmtree(self.dir / f"in{rep - 1}", ignore_errors=True)
        gen.write_parquet(gen.search_docs(
            rng, 0, c["docs"], c["vocab"], c["zipf_s"], c["len_lo"],
            c["len_hi"]), base / "docs.parquet")
        replaced = gen.search_docs(rng, 0, c["delta_replaced"], c["vocab"],
                                   c["zipf_s"], c["len_lo"], c["len_hi"])
        replaced["doc_id"] = sorted(int(x) for x in rng.choice(
            c["docs"], size=c["delta_replaced"], replace=False))
        new = gen.search_docs(rng, c["docs"], c["delta_new"], c["vocab"],
                              c["zipf_s"], c["len_lo"], c["len_hi"])
        gen.write_parquet({k: replaced[k] + new[k] for k in new},
                          base / "delta.parquet")
        self.inputs = base

    def prepare(self) -> None:
        """The warm serving index, built as the dashboard builds it
        (api.EngineState._build_index): build_index_tables -> term_df ->
        term_df_map, plus the local serving copy."""
        from high_performance_parallel_search_engine_spark.operators import (
            index as IX,
            local_serve as LS,
        )

        self.docs = self.spark.read.parquet(str(self.inputs / "docs.parquet"))
        self.delta = self.spark.read.parquet(
            str(self.inputs / "delta.parquet"))
        self.sf_dir = str(DEDUP_SF_DIR)
        with self.tracer.span("index.build_index_tables"):
            postings, stats = IX.build_index_tables(self.docs)
            postings, stats = postings.cache(), stats.cache()
            total = stats.count()
            avg_dl = IX.avg_doc_len(stats, total)
            n_postings = postings.count()
        with self.tracer.span("index.term_df"):
            dfs = IX.term_df(postings)
            df_map = IX.term_df_map(dfs, dfs.count())
        with self.tracer.span("local_serve.build_local_index"):
            local = LS.build_local_index(postings, stats, total_docs=total,
                                         avg_dl=avg_dl, n_postings=n_postings)
        if local is None or df_map is None:
            raise RuntimeError("the serve collection must fit the local "
                               "and df_map serving caps")
        self.ix = {"postings": postings, "stats": stats, "total": total,
                   "avg_dl": avg_dl, "df_map": df_map, "local": local}

    def _next_queries(self, n: int) -> list[str]:
        qs = [self.queries[(self.qpos + i) % len(self.queries)]
              for i in range(n)]
        self.qpos += n
        return qs

    def warmup(self) -> None:
        """One full request mix. It also collects the dedup outputs that
        check() compares with DuckDB; measured ops write to a noop sink."""
        self.op(capture=True)

    def op(self, capture: bool = False) -> int:
        from high_performance_parallel_search_engine_spark.operators import (
            index as IX,
            ranking as RK,
        )
        from high_performance_parallel_search_engine_spark.oracles import (
            QUERIES,
        )

        c, ix, tr, spark = SERVE, self.ix, self.tracer, self.spark
        requests = 0
        with tr.span("index.merge_postings"):
            noop(IX.merge_postings(ix["postings"], self.delta))
        requests += 1
        for q in self._next_queries(c["queries_per_op"]):
            with tr.span("ranking.rank_bm25"):
                with RK.interactive_query_conf(spark):
                    dist = [(r["doc_id"], r["score"]) for r in RK.rank_bm25(
                        ix["postings"], ix["stats"], q,
                        total_docs=ix["total"], avg_dl=ix["avg_dl"],
                        top_k=c["top_k"], df_map=ix["df_map"]).collect()]
            with tr.span("local_serve.rank", cpu=False):
                local = ix["local"].rank(q, top_k=c["top_k"])
            self.served.append((q, dist, local))
            requests += 2
        qs = self._next_queries(c["batch"])
        with tr.span("ranking.rank_bm25_batch"):
            with RK.interactive_query_conf(spark):
                rows = RK.rank_bm25_batch(
                    ix["postings"], ix["stats"], qs, total_docs=ix["total"],
                    avg_dl=ix["avg_dl"], top_k=c["top_k"],
                    df_map=ix["df_map"]).collect()
        self.batched.append((qs, rows))
        requests += 1
        for name in DEDUP_OPS:
            with tr.span(f"dedup.{name}"):
                df = QUERIES[name](spark, self.sf_dir)
                if capture:
                    self.dedup_out[name] = (df.columns,
                                            [tuple(r) for r in df.collect()])
                else:
                    noop(df)
            requests += 1
        return requests

    def check(self) -> None:
        from high_performance_parallel_search_engine_spark.operators import (
            index as IX,
        )

        local = self.ix["local"]
        for q, dist, loc in self.served:
            self.expect(topk_equal(dist, loc, SERVE["top_k"]),
                        f"serve: rank_bm25 != LocalIndex.rank for {q!r}")
        for qs, rows in self.batched:
            for qid, q in enumerate(qs):
                got = [(r["doc_id"], r["score"]) for r in sorted(
                    (r for r in rows if r["query_id"] == qid),
                    key=lambda r: r["rk"])]
                self.expect(topk_equal(got, local.rank(
                    q, top_k=SERVE["top_k"]), SERVE["top_k"]),
                    f"serve: rank_bm25_batch != LocalIndex.rank for {q!r}")
        # merged postings == a full rebuild over the updated collection
        merged = IX.merge_postings(self.ix["postings"], self.delta)
        updated = self.docs.join(self.delta.select("doc_id"), "doc_id",
                                 "left_anti").unionByName(self.delta)
        full = IX.build_postings(updated)
        cols = ["term", "doc_id", "tf"]
        self.expect(merged.select(cols).exceptAll(full.select(cols)).isEmpty()
                    and full.select(cols).exceptAll(merged.select(cols))
                    .isEmpty(), "serve: merged postings != full rebuild")
        self._check_dedup()

    def _check_dedup(self) -> None:
        """Each operator's output value-hashes equal to its DuckDB oracle
        (the repository's correctness-gate comparison)."""
        import duckdb

        from high_performance_parallel_search_engine_spark.oracles import (
            ORACLES,
        )
        from tools.check_correctness import value_hash

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            for name in DEDUP_OPS:
                scols, srows = self.dedup_out[name]
                res = con.execute(ORACLES[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                self.expect(
                    len(srows) == len(orows) and len(orows) > 0
                    and sorted(scols) == sorted(ocols)
                    and value_hash(scols, srows) == value_hash(ocols, orows),
                    f"serve: {name} != DuckDB oracle")
        finally:
            con.close()

    def close(self) -> None:
        if self.ix is not None:
            self.ix["postings"].unpersist()
            self.ix["stats"].unpersist()

    def layer_metrics(self, loop_spans, setup_spans) -> dict:
        def total(spans, name):
            return sum(s.wall for s in spans if s.name == name)

        ops = [s for s in loop_spans if s.name == "op"]
        op_wall = sum(s.wall for s in ops)
        prepare_wall = total(setup_spans, "setup.prepare")
        single = [s for s in loop_spans if s.name == "ranking.rank_bm25"]
        out = {
            "index.build_frac": total(setup_spans, "index.build_index_tables")
            / prepare_wall,
            "index.term_df_frac": total(setup_spans, "index.term_df")
            / prepare_wall,
            "local_serve.build_frac": total(
                setup_spans, "local_serve.build_local_index") / prepare_wall,
            "index.merge_frac": total(loop_spans, "index.merge_postings")
            / op_wall,
            "ranking.single_frac": total(loop_spans, "ranking.rank_bm25")
            / op_wall,
            "ranking.batch8_frac": total(loop_spans,
                                         "ranking.rank_bm25_batch") / op_wall,
            "local_serve.rank_frac": total(loop_spans, "local_serve.rank")
            / op_wall,
            "ranking.jobs_per_query": statistics.mean(s.jobs for s in single),
            "ranking.tasks_per_query": statistics.mean(s.tasks
                                                       for s in single),
        }
        for name in DEDUP_OPS:
            calls = [s for s in loop_spans if s.name == f"dedup.{name}"]
            out[f"dedup.{name}_frac"] = sum(s.wall for s in calls) / op_wall
            out[f"dedup.{name}_jobs"] = statistics.mean(s.jobs for s in calls)
        return out


def topk_equal(got: list[tuple], want: list[tuple], top_k: int) -> bool:
    """Same ranked (doc_id, score) lists up to float summation order. The
    scores agree position by position to a relative 1e-9. Doc ids agree as
    a set within each run of tied scores, since two engines may order a tie
    differently; a tied run at a full list's end may also be cut
    differently."""
    def close(a: float, b: float) -> bool:
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b))

    if len(got) != len(want) or not all(
            close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and close(want[j][1], want[i][1]):
            j += 1
        cut = j == len(want) == top_k
        if not cut and ({d for d, _ in got[i:j]}
                        != {d for d, _ in want[i:j]}):
            return False
        i = j
    return True


def ncores() -> int:
    """Cores this process may run on: the n of local[n]."""
    return len(os.sched_getaffinity(0))


WORKLOADS = {w.name: w for w in (CrawlExact, Serve)}
