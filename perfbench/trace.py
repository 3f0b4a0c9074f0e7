"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and run id (the pass it belongs
to). While tracing is on, each span also sets a Spark job group named
after itself, and every output a span hands on is materialized inside it
(``localCheckpoint``), so the Spark jobs that compute a layer's output run
inside that layer's span instead of inside whichever later call consumes
it. Job groups are thread-local and the engine's checkpoint runner submits
from its own pool threads, so a span's jobs are taken as the job-id range
submitted while it was open; stage counters come from Spark's status store
(which works with the UI disabled).

With tracing off every method is a no-op pass-through, so the untraced and
traced passes run the same benchmark code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def job_stages(sc, job_id: int) -> list[int]:
    info = sc.statusTracker().getJobInfo(job_id)
    return list(info.stageIds) if info else []


# counters reported per layer call
COUNTERS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "gc_s", "shuffle_mb")


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    parent: int | None
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.run_id = ""
        if enabled:
            self._sc = spark.sparkContext
            self._jsc = self._sc._jsc.sc()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, time.time(), parent)
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._sc.setJobGroup(f"{self.run_id}/{name}#{idx}", name)
        sp.job_lo = self._next_job()
        try:
            yield
        finally:
            sp.job_hi = self._next_job()
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                p = self.spans[parent]
                self._sc.setJobGroup(f"{self.run_id}/{p.name}#{parent}", p.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def mat(self, df):
        """Materialize ``df`` inside the current span; identity when
        tracing is off."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    @contextmanager
    def wrap(self, module, attr: str, name: str):
        """While tracing, replace ``module.attr`` by a wrapper that opens
        span ``name`` and materializes the result (the first element of a
        tuple result: the gate's second frame is materialized later, in its
        own span)."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if isinstance(out, tuple):
                    return (self.mat(out[0]), *out[1:])
                return self.mat(out)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    # -- Spark counters --------------------------------------------------

    def collect_counters(self, first: int = 0) -> None:
        """Fill ``counters`` of spans[first:] with self (child-exclusive)
        values read from the status store."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        jobs: dict[int, tuple] = {}
        stages: dict[int, dict] = {}

        def job(j: int) -> tuple:
            if j not in jobs:
                jd = store.job(j)
                jobs[j] = (jd.submissionTime().get().getTime() / 1e3,
                           jd.completionTime().get().getTime() / 1e3,
                           job_stages(self._sc, j))
            return jobs[j]

        def stage(s: int) -> dict:
            if s not in stages:
                sd = store.lastStageAttempt(s)
                stages[s] = {
                    "exec_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_mb": sd.shuffleWriteBytes() / 1e6,
                    "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                }
            return stages[s]

        for sp in self.spans[first:]:
            mine = set(range(sp.job_lo, sp.job_hi))
            child_wall = 0.0
            for c in sp.children:
                ch = self.spans[c]
                mine -= set(range(ch.job_lo, ch.job_hi))
                child_wall += ch.end - ch.start
            js = [job(j) for j in sorted(mine)]
            busy, last = 0.0, sp.start
            for lo, hi in sorted((max(t0, sp.start), min(t1, sp.end)) for t0, t1, _ in js):
                lo = max(lo, last)
                if hi > lo:
                    busy += hi - lo
                    last = hi
            # a stage shared by several jobs (reused shuffle) counts once
            own = [stage(s) for s in sorted({s for _, _, ss in js for s in ss})]
            wall = sp.end - sp.start - child_wall
            sp.counters = {
                "wall_s": wall,
                "driver_s": max(wall - busy, 0.0),
                "jobs": len(js),
                **{k: sum(st[k] for st in own)
                   for k in ("exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")},
            }

    def per_pass(self, run_id: str) -> dict[str, dict]:
        """name -> summed self counters of that pass's spans."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            if sp.run_id != run_id:
                continue
            acc = out.setdefault(sp.name, dict.fromkeys(sp.counters, 0.0))
            for k, v in sp.counters.items():
                acc[k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(sp)}) + "\n")
