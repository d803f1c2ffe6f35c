"""Spans around calls into the package's layers, with the Spark counters of
the jobs each span launched.

A traced run replaces a layer's public function, in the module that calls
it, by a wrapper that opens a span, calls the original, and forces the
returned DataFrame at the layer boundary with ``localCheckpoint`` so that
the layer's work runs inside its own span. Each span sets a Spark job group
of its own; after the run the job and stage counters of every group are
read back from the status store. The Python-worker metrics of the
``ArrowEvalPython``/``MapInPandas`` nodes and the ``Exchange`` metrics come
from the executed plan of the DataFrame the span checkpointed.

Nothing here runs during untraced runs: the checkpoints change the plan
shape, which is why end-to-end numbers come from untraced runs only.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
import uuid
from dataclasses import asdict, dataclass, field

# SQL metric -> counter name on a span; values are summed over plan nodes
_PLAN_METRICS = {
    "pythonTotalTime": "python_s",
    "pythonBootTime": "python_boot_s",
    "pythonInitTime": "python_init_s",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.span_id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def _seq(s):
    """py4j view of a Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node):
    """Every physical node under ``node``, descending through adaptive
    query stages to the plan that actually ran."""
    todo = [node]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
            continue
        yield n
        todo.extend(_seq(n.children()))


def plan_counters(df) -> dict:
    """Python-worker and Exchange metrics of the plan ``df`` executed."""
    out: dict = {}
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics = n.metrics()
        cls = n.getClass().getSimpleName()
        for key, name in _PLAN_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                m = m.get()
                v = m.value()
                kind = m.metricType()
                if kind == "nsTiming":
                    v = v / 1e9
                elif kind == "timing":
                    v = v / 1e3
                out[name] = out.get(name, 0) + v
        if cls == "ShuffleExchangeExec":
            m = metrics.get("dataSize")
            if m.isDefined():
                out["plan_exchange_bytes"] = (
                    out.get("plan_exchange_bytes", 0) + m.get().value()
                )
    return out


class Tracer:
    """Spans of one traced run. ``span()`` nests; ``patch()`` wraps a
    layer's function for the duration of the run; ``finish()`` attaches
    the Spark counters once every job has been reported."""

    def __init__(self, sc, cores: int) -> None:
        self.sc = sc
        self.cores = cores
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        # checkpointed layer outputs by span name, for counts taken after
        # the traced total is closed
        self.outputs: dict[str, list] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            next(self._ids),
            parent.span_id if parent else None,
            self.run_id,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def layer(self, fn, name: str, checkpoint: bool = True):
        """``fn`` wrapped in a span that forces its DataFrame result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if checkpoint:
                    forced = out.localCheckpoint(eager=True)
                    s.counters.update(plan_counters(out))
                    out = forced
                    self.outputs.setdefault(name, []).append(out)
            return out

        return traced

    @contextlib.contextmanager
    def patch(self, targets):
        """Replace ``module.attr`` by its traced form for each
        ``(module, attr, span_name, checkpoint)`` in ``targets``; restore
        on exit."""
        saved = []
        try:
            for mod, attr, name, checkpoint in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.layer(orig, name, checkpoint))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    # ------------------------------------------------------------ counters

    def finish(self) -> None:
        """Wait for the listener bus, then attach each span's own job and
        stage counters (jobs of child spans are in the child's group). A
        stage listed by several jobs ran in the first of them; later jobs
        only skip it, so it is counted once, there."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_statuses = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = self.sc.statusTracker()
        jobs = []
        for s in self.spans:
            s.counters.update(
                jobs=0, stages=0, tasks=0, task_s=0.0, gc_s=0.0,
                shuffle_bytes=0, spill_bytes=0, output_bytes=0,
            )
            jobs += [(j, s) for j in tracker.getJobIdsForGroup(s.group)]
        seen: set[int] = set()
        for job_id, s in sorted(jobs, key=lambda js: js[0]):
            c = s.counters
            c["jobs"] += 1
            for stage_id in _seq(store.job(job_id).stageIds()):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                for st in _seq(
                    store.stageData(
                        stage_id, False, no_statuses, False, no_quantiles
                    )
                ):
                    if st.status().toString() != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["task_s"] += st.executorRunTime() / 1e3
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.diskBytesSpilled()
                    c["output_bytes"] += st.outputBytes()

    # ------------------------------------------------------------- queries

    def root(self) -> Span:
        return self.spans[0]

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent_id == s.span_id]

    def self_s(self, s: Span) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return s.dur - sum(c.dur for c in self.children(s))

    def nesting_errors(self) -> list[str]:
        """Ways the spans fail to form a sequential tree: a span that never
        closed, a child outside its parent, or siblings that overlap. When
        this is empty every self time is >= 0 and they sum to the root's."""
        errors = []
        for s in self.spans:
            if s.end <= s.start:
                errors.append(f"span {s.name}#{s.span_id} never closed")
            prev = None
            for c in sorted(self.children(s), key=lambda c: c.start):
                if c.start < s.start or c.end > s.end:
                    errors.append(f"span {c.name}#{c.span_id} outside {s.name}")
                if prev is not None and c.start < prev.end:
                    errors.append(f"spans {prev.name} and {c.name} overlap")
                prev = c
        return errors

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, spans, key: str) -> float:
        return sum(s.counters.get(key, 0) for s in spans)

    def self_total(self, spans) -> float:
        return sum(self.self_s(s) for s in spans)

    def self_share(self, spans) -> float:
        """The spans' self time as a share of the traced total."""
        return self.self_total(spans) / self.root().dur

    def python_share(self, spans) -> float:
        """The spans' Python-worker time as a share of all task time."""
        return self.total(spans, "python_s") / max(
            1e-9, self.total(self.spans, "task_s")
        )

    def python_bytes(self, spans) -> float:
        """Bytes sent to and received from the Python workers."""
        return self.total(spans, "python_bytes_sent") + self.total(
            spans, "python_bytes_received"
        )

    def sched_floor_s(self, wall: float, spans) -> float:
        """``wall`` minus the spans' task time spread over every core: what
        scheduling, driver work and idle cores cost."""
        return wall - self.total(spans, "task_s") / self.cores

    def as_dict(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                {**asdict(s), "self_s": self.self_s(s)} for s in self.spans
            ],
        }
