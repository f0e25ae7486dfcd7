"""Spans around the program's entry points, with Spark's counters per call.

The program is traced from outside. ``instrument`` swaps a few module
attributes for wrappers that open a span (``get_spark``,
``Orchestrator.run_project`` and the stage callables it runs,
``curate_corpus_graph``, ``neardup_analysis`` and ``run_corpus``'s report
sink) and puts the originals back on exit. Every span runs its Spark jobs
under a job group of its own, and after the operation the tracer reads the
jobs and stages of each group from Spark's status store. Spans and their
counters stay in memory until the run ends, when ``dump`` writes them out.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import time
from collections.abc import Callable, Iterator

# layers, named after the modules whose entry points bound them
LAYERS = ("session", "run_pipeline", "run_corpus",
          "plans.orchestrator", "plans.acclist", "plans.starqc",
          "operators.matrix", "plans.sexcheck", "plans.session_json",
          "plans.corpus", "plans.neardup")
# orchestrator stage name → the layer its callable belongs to
STAGE_LAYERS = {"starqc": "plans.starqc", "pass": "plans.acclist",
                "matrix": "operators.matrix", "sex": "plans.sexcheck",
                "tracks": "plans.session_json"}
LAYER_METRICS = (("calls", "count"), ("failed", "count"), ("wall_s", "s"),
                 ("jobs", "count"), ("tasks", "count"), ("exec_run_s", "s"),
                 ("stage_wall_s", "s"), ("driver_gap_s", "s"),
                 ("shuffle_mb", "MB"), ("spill_mb", "MB"))
# Σ self time of an operation's spans may differ from the operation's
# wall time, measured around the call, by at most this share or 10 ms
SELF_TIME_TOLERANCE = 0.01
_MB = 1 << 20


@dataclasses.dataclass
class Span:
    layer: str
    op: int
    start: float
    end: float = 0.0
    parent: Span | None = None
    ok: bool = True
    group: str = ""
    counters: dict = dataclasses.field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = s.parent
        if p is not None:
            children.setdefault(id(p), []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [(s.end - s.start) - union_length(children.get(id(s), []))
            for s in spans]


class Tracer:
    """Records spans; with a SparkContext, gives each span a job group and
    reads the group's counters in ``collect``."""

    def __init__(self, sc=None,
                 clock: Callable[[], float] = time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    def begin_op(self) -> int:
        self.op += 1
        return self.op

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.layer)

    @contextlib.contextmanager
    def span(self, layer: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, self.op, 0.0, parent=parent,
                 group=f"perfbench-{self.op}-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = self.clock()
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line; ``parent`` is the
        parent's line number."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"name": s.layer, "op": s.op, "start": s.start,
                       "end": s.end, "ok": s.ok, "group": s.group,
                       "parent": index.get(id(s.parent)), **s.counters}
                f.write(json.dumps(rec) + "\n")

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def collect(self, op: int) -> None:
        """Attach Spark counters to every span of ``op``: jobs, tasks,
        executor run time, stage intervals, shuffle written and spill."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.op_spans(op):
            jobs = tracker.getJobIdsForGroup(s.group)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = {"jobs": len(jobs), "tasks": 0, "exec_run_s": 0.0,
                 "shuffle_mb": 0.0, "spill_mb": 0.0, "intervals": []}
            for sid in sorted(stage_ids):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numTasks()
                c["exec_run_s"] += sd.executorRunTime() / 1000.0
                c["shuffle_mb"] += sd.shuffleWriteBytes() / _MB
                c["spill_mb"] += sd.diskBytesSpilled() / _MB
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    c["intervals"].append((sub.get().getTime() / 1000.0,
                                           done.get().getTime() / 1000.0))
            s.counters = c


def self_time_error(spans: list[Span], op_wall: float) -> float:
    """|Σ self time − op wall| for one operation's spans."""
    return abs(sum(self_times(spans)) - op_wall)


def self_time_ok(spans: list[Span], op_wall: float) -> bool:
    return self_time_error(spans, op_wall) <= max(
        0.010, SELF_TIME_TOLERANCE * op_wall)


def layer_metrics(spans: list[Span], n_ops: int) -> dict[str, float]:
    """Per-layer totals over ``spans``, divided by ``n_ops``: the figures
    of an average operation. ``wall_s`` is self time; ``stage_wall_s`` is
    the union of the stage intervals of the layer's own job groups."""
    tot = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
    for s, self_s in zip(spans, self_times(spans)):
        p = f"{s.layer}."
        c = s.counters
        tot[p + "calls"] += 1
        tot[p + "failed"] += 0 if s.ok else 1
        tot[p + "wall_s"] += self_s
        for k in ("jobs", "tasks", "exec_run_s", "shuffle_mb", "spill_mb"):
            tot[p + k] += c.get(k, 0)
        tot[p + "stage_wall_s"] += union_length(c.get("intervals", []))
    for layer in LAYERS:
        p = f"{layer}."
        tot[p + "driver_gap_s"] = tot[p + "wall_s"] - tot[p + "stage_wall_s"]
    return {k: v / max(n_ops, 1) for k, v in tot.items()}


@contextlib.contextmanager
def instrument(tracer: Tracer) -> Iterator[None]:
    """Wrap the program's layer entry points in spans for the duration."""
    from rgd_rnaseq_workflows_spark import run_corpus, run_pipeline, session
    from rgd_rnaseq_workflows_spark.plans import corpus, neardup, orchestrator

    orch = orchestrator.Orchestrator
    run_project = orch.run_project

    def traced_run_project(self, run):
        with tracer.span("plans.orchestrator"):
            stages = [dataclasses.replace(
                st, fn=tracer.wrap(STAGE_LAYERS[st.name], st.fn))
                for st in run.stages]
            return run_project(self, dataclasses.replace(run, stages=stages))

    write_tsv = run_corpus.write_tsv

    def report_sink(df, path, *args, **kwargs):
        # the near-dup reports are materialized by these writes
        if path.rsplit("/", 1)[-1].startswith("neardup_"):
            with tracer.span("plans.neardup"):
                return write_tsv(df, path, *args, **kwargs)
        return write_tsv(df, path, *args, **kwargs)

    get_spark = tracer.wrap("session", session.get_spark)
    patches = [(session, "get_spark", get_spark),
               (run_pipeline, "get_spark", get_spark),
               (run_corpus, "get_spark", get_spark),
               (orch, "run_project", traced_run_project),
               (corpus, "curate_corpus_graph",
                tracer.wrap("plans.corpus", corpus.curate_corpus_graph)),
               (neardup, "neardup_analysis",
                tracer.wrap("plans.neardup", neardup.neardup_analysis)),
               (run_corpus, "write_tsv", report_sink)]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, fn in patches:
            setattr(obj, name, fn)
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)
