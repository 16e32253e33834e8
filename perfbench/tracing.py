"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent span and run id, plus process-tree
CPU (procstat) and the Spark jobs started inside it. Jobs are counted as
deltas of the DAG scheduler's job counter; their stage and task counts are
resolved from the status tracker after the measured window, so the timed
region pays one py4j call per span boundary and nothing else.

With tracing off, `span()` is a shared no-op context; the untraced run
therefore measures the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

from procstat import tree_cpu_s

_NULL = nullcontext()


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    cpu_s: float | None = None
    job_lo: int = 0
    job_hi: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    def span(self, name: str, cpu: bool = True):
        """Context manager yielding the open Span (None with tracing off);
        cpu=False skips the two /proc reads for sub-millisecond calls."""
        if not self.enabled:
            return _NULL
        return self._span(name, cpu)

    @contextmanager
    def _span(self, name: str, cpu: bool):
        sp = Span(sid=len(self.spans), name=name,
                  parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, start=0.0)
        sp.job_lo = self.jobs_started()
        cpu0 = tree_cpu_s() if cpu else None
        self.spans.append(sp)
        self._stack.append(sp.sid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.job_hi = self.jobs_started()
            if cpu:
                sp.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()

    # ---- after the measured window ---------------------------------------

    def resolve_jobs(self) -> None:
        """Fill jobs/stages/tasks per span from the status tracker. A stage
        shared by several jobs (a reused shuffle) counts once per span;
        skipped stages (no completed task) count as no stage."""
        st = self._sc.statusTracker()
        stage_tasks: dict[int, int] = {}
        job_stages: dict[int, list[int]] = {}
        for sp in self.spans:
            sp.jobs = sp.job_hi - sp.job_lo
            seen: set[int] = set()
            for j in range(sp.job_lo, sp.job_hi):
                if j not in job_stages:
                    info = st.getJobInfo(j)
                    job_stages[j] = list(info.stageIds) if info else []
                for s in job_stages[j]:
                    if s not in stage_tasks:
                        si = st.getStageInfo(s)
                        stage_tasks[s] = si.numCompletedTasks if si else 0
                    seen.add(s)
            done = [s for s in seen if stage_tasks[s] > 0]
            sp.stages = len(done)
            sp.tasks = sum(stage_tasks[s] for s in done)

    def self_times(self) -> dict[int, float]:
        """Span wall minus the wall of its direct children (children run
        sequentially on the driver thread, so their intervals are
        disjoint)."""
        child = {sp.sid: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.wall
        return {sp.sid: sp.wall - child[sp.sid] for sp in self.spans}

    def table(self) -> list[dict]:
        """One row per span name: calls, total and self wall, CPU, Spark
        jobs/stages/tasks."""
        selfs = self.self_times()
        rows: dict[str, dict] = {}
        for sp in self.spans:
            r = rows.setdefault(sp.name, {
                "span": sp.name, "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                "cpu_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0})
            r["calls"] += 1
            r["wall_s"] += sp.wall
            r["self_s"] += selfs[sp.sid]
            r["cpu_s"] += sp.cpu_s or 0.0
            r["jobs"] += sp.jobs
            r["stages"] += sp.stages
            r["tasks"] += sp.tasks
        return list(rows.values())

    def format_table(self) -> str:
        head = (f"{'span':34} {'calls':>5} {'wall_s':>8} {'self_s':>8} "
                f"{'cpu_s':>8} {'jobs':>5} {'stages':>6} {'tasks':>6}")
        lines = [head, "-" * len(head)]
        for r in self.table():
            lines.append(
                f"{r['span']:34} {r['calls']:5d} {r['wall_s']:8.3f} "
                f"{r['self_s']:8.3f} {r['cpu_s']:8.2f} {r['jobs']:5d} "
                f"{r['stages']:6d} {r['tasks']:6d}")
        return "\n".join(lines)

    def write(self, path, extra: dict) -> None:
        doc = {"run_id": self.run_id,
               "spans": [asdict(sp) for sp in self.spans],
               "table": self.table(), **extra}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
