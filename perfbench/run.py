"""The repository's benchmark: one workload per run, at local[nproc], from
this single driver process.

    python3 perfbench/run.py --workload crawl_exact --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. The run builds the workload's inputs from
--seed (several times; set-up reports the median), warms up, repeats the
workload's unit operation for --seconds, checks every output against the
repository's oracles, and prints as its last stdout line one JSON object
{correct, attempted, failed, metrics}.

--trace 0 reports the end-to-end metrics BENCHMARK.json names. --trace 1
makes the same run with spans around the calls into each layer, prints the
per-layer table with self times, writes every span to perfbench/.work/traces/
and reports the per-layer metrics. The traced window sits between two
windows with spans off; trace.overhead_pct is the traced op wall against
the mean of those two. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "high_performance_parallel_search_engine_spark"
INPUT_REPS = 3      # set-up builds the inputs this often; median reported

# metric names and units come from BENCHMARK.json;
# a per-layer metric the workload does not reach reads 0, which only
# shares, ratios and counts may do
TIME_UNITS = {"s", "ms", "us"}

REPLAY_PAGES = 400
REPLAY_PAD_PARAS = 48


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by the driver and by the Python workers Spark
    forks."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts (launcher and driver): temp files here,
    # and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_session(work: Path):
    from high_performance_parallel_search_engine_spark.session import (
        build_session,
    )
    from workloads import ncores

    n = ncores()
    spark = build_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the tracer resolves stage/task counts after the window
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process of the tree
    (the JVM, the Python worker daemon and its workers) has exited. The
    daemon outlives the JVM by a moment and is re-parented meanwhile, so
    the pids are taken before the stop."""
    from pyspark import SparkContext

    from procstat import tree

    me = os.getpid()
    started = set(tree(me)) - {me}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while pid exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def replay_extraction(spark, seed: int) -> dict:
    """Kernel and UDF-boundary replays on one seeded sample of fat pages:
    html_to_text + extract_links in this process, then the same pages
    through html_text_and_links into a noop sink. Median of 3 passes each."""
    import pandas as pd

    from high_performance_parallel_search_engine_spark.functions.udfs import (
        html_text_and_links,
    )
    from high_performance_parallel_search_engine_spark.kernel.html import (
        extract_links,
        html_to_text,
    )
    from inputs import replay_pages
    from procstat import tree_cpu_s
    from workloads import noop

    pages = replay_pages(seed, REPLAY_PAGES, REPLAY_PAD_PARAS)
    kernel = []
    for _ in range(3):
        t0 = time.process_time()
        for url, html in pages:
            html_to_text(html)
            extract_links(html, url)
        kernel.append((time.process_time() - t0) / len(pages))
    df = spark.createDataFrame(pd.DataFrame(pages, columns=["url", "html"]),
                               "url string, html binary").cache()
    df.count()
    noop(html_text_and_links(df))        # start the Python workers
    udf = []
    for _ in range(3):
        c0 = tree_cpu_s()
        noop(html_text_and_links(df))
        udf.append((tree_cpu_s() - c0) / len(pages))
    df.unpersist()
    k, u = statistics.median(kernel), statistics.median(udf)
    return {"kernel.html.us_per_page": k * 1e6,
            "udfs.extract_cpu_s_per_kpage": u * 1000,
            "udfs.boundary_ratio": u / k}


def _timed(tracer, name: str, fn, *a) -> float:
    with tracer.span(name):
        t = time.perf_counter()
        fn(*a)
        return time.perf_counter() - t


def measure(wl, tracer, seconds: float) -> dict:
    """Repeat the workload's op until `seconds` have passed (at least one
    op). Process-tree CPU is read at the window's edges."""
    from procstat import host_steal_s, tree_cpu_s

    walls, items, failed = [], 0, 0
    span0 = len(tracer.spans)
    cpu0, steal0 = tree_cpu_s(), host_steal_s()
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                items += wl.op()
        except Exception:
            traceback.print_exc()
            failed += 1
        walls.append(time.perf_counter() - t)
        if time.perf_counter() - t0 >= seconds:
            break
    return {"walls": walls, "items": items, "failed": failed,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": tree_cpu_s() - cpu0,
            "steal_s": host_steal_s() - steal0,
            "spans": tracer.spans[span0:]}


def measure_untraced(wl, tracer, seconds: float) -> dict:
    tracer.enabled = False
    try:
        return measure(wl, tracer, seconds)
    finally:
        tracer.enabled = True


def layer_metrics(spark, args, wl, tracer, setup: dict, loop: dict,
                  untraced: list[dict], peak_rss_mb: float) -> dict:
    from workloads import ncores

    tracer.resolve_jobs()
    ops = [s for s in loop["spans"] if s.name == "op"]
    op_p50 = statistics.median(loop["walls"])
    return {
        "setup.session_s": setup["session"],
        "setup.inputs_s": setup["inputs"] + setup["prepare"],
        "setup.warmup_s": setup["warmup"],
        "mem.peak_rss_mb": peak_rss_mb,
        "trace.op_p50_ms": op_p50 * 1000,
        "trace.items_per_s": loop["items"] / loop["wall_s"],
        "trace.overhead_pct": 100 * (op_p50 / statistics.mean(
            statistics.median(w["walls"]) for w in untraced) - 1),
        "spark.jobs_per_op": statistics.mean(s.jobs for s in ops),
        "spark.tasks_per_op": statistics.mean(s.tasks for s in ops),
        "spark.core_busy_frac": sum(s.cpu_s for s in ops)
        / (sum(s.wall for s in ops) * ncores()),
        **wl.layer_metrics(loop["spans"], setup["spans"]),
        **replay_extraction(spark, args.seed),
    }


def run(args, spec: dict, work: Path) -> dict:
    from procstat import ProcSampler
    from tracing import Tracer
    from workloads import WORKLOADS

    run_dir = work / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    with ProcSampler() as sampler:
        t0 = time.perf_counter()
        spark = start_session(work)
        setup = {"session": time.perf_counter() - t0}
        wl = None
        try:
            tracer = Tracer(spark, f"{args.workload}:{args.seed}",
                            enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, args.seed, run_dir)
            setup["inputs"] = statistics.median(
                _timed(tracer, "setup.inputs", wl.build_inputs, rep)
                for rep in range(INPUT_REPS))
            setup["prepare"] = _timed(tracer, "setup.prepare", wl.prepare)
            setup["warmup"] = _timed(tracer, "setup.warmup", wl.warmup)
            setup["spans"] = list(tracer.spans)
            untraced = []
            if args.trace:
                # spans off, on, off: ops still get cheaper from one to the
                # next, and that trend cancels out of the overhead
                untraced.append(measure_untraced(wl, tracer, args.seconds))
            loop = measure(wl, tracer, args.seconds)
            if args.trace:
                untraced.append(measure_untraced(wl, tracer, args.seconds))
            t = time.perf_counter()
            try:
                wl.check()
            except Exception:
                traceback.print_exc()
                wl.expect(False, "output check raised")
            check_s = time.perf_counter() - t
            layer = None
            if args.trace:
                layer = layer_metrics(spark, args, wl, tracer, setup, loop,
                                      untraced, sampler.peak_rss_mb)
                print(tracer.format_table())
                traces = work / "traces"
                traces.mkdir(exist_ok=True)
                tracer.write(traces / f"{args.workload}-{args.seed}.json",
                             {"layer_metrics": layer})
        finally:
            if wl is not None:
                wl.close()
            stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    for what in wl.wrong:
        print(f"WRONG {what}", file=sys.stderr)
    windows = [loop, *untraced]
    attempted = sum(len(w["walls"]) for w in windows) + wl.checks
    failed = sum(w["failed"] for w in windows) + len(wl.wrong)
    items = loop["items"]
    walls = f"op_walls_s={[round(w, 2) for w in loop['walls']]}"
    if untraced:
        walls += " untraced_op_walls_s=" + str(
            [round(w, 2) for u in untraced for w in u["walls"]])
    print(f"{args.workload} seed={args.seed} ops={len(loop['walls'])} "
          f"items={items} {walls}"
          f" cpu_s={loop['cpu_s']:.1f} host_steal_s={loop['steal_s']:.1f}"
          f" peak_rss_mb={sampler.peak_rss_mb:.0f}"
          f" check_s={check_s:.1f} error_rate={failed / attempted:.4f} "
          f"({failed}/{attempted})")
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(layer) - set(units)
        missing = {k for k, u in units.items()
                   if k not in layer and u in TIME_UNITS}
        if unknown or missing:
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: "
                               f"{unknown}; times not measured: {missing}")
        values = {k: layer.get(k, 0.0) for k in units}
    else:
        values = {
            "setup_s": setup["session"] + setup["inputs"] + setup["prepare"]
            + setup["warmup"],
            "cpu_ms_per_item": 1000 * loop["cpu_s"] / items if items else 0.0,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"  {k:38} {m['value']:14.4f} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: {PKG} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    work = HERE / ".work"
    prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args, spec, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
