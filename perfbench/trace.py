"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side of the boundary: public
functions and methods of the package's modules are replaced, for the
traced run only, by wrappers that open a span around the call. Every span
owns one Spark job group, so each job is attributed to the innermost span
that submitted it. Job and stage figures come from the JVM status store
(``sc._jsc.sc().statusStore()``), which Spark keeps with the UI disabled.

Everything is held in memory and written out once, at the end of the run.
The interval arithmetic (union, coverage, self time) is plain Python and
unit-tested on its own.
"""

from __future__ import annotations

import inspect
import itertools
import json
import operator
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "graphsense_ethereum_etl_spark"

# Modules whose public functions are wrapped: the ingest layers plus every
# module a query can reach for its heavy lifting. The per-module metrics
# report the operator modules; the ingest layers have named metrics.
# ``operators.codecs`` runs only in Python workers and is timed there
# (``workerspans``).
OPERATOR_MODULES = (
    "operators.similarity",
    "operators.dedup",
    "operators.graph",
    "operators.corpus",
    "operators.joins",
    "operators.quality",
    "operators.multimodal",
    "operators.decontam",
    "functions.text",
    "plans",
    "versioned",
    "snapshots",
    "streaming.ann_ingest",
    "streaming.structured",
)
INGEST_MODULES = (
    "sources.generator",
    "operators.pipelines",
    "streaming.incremental",
)
# A sub-package layer covers its submodules (``plans`` = plans.hints,
# plans.checkpoint, plans.explain).
PACKAGE_LAYERS = ("plans",)


# ---------------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------------


def merge(intervals):
    """Sorted, non-overlapping union of ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals) -> float:
    return sum(e - s for s, e in merge(intervals))


def covered(window, intervals) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    ws, we = window
    return union_length(
        (max(s, ws), min(e, we)) for s, e in intervals if s < we and e > ws
    )


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    start: float
    end: float
    stages: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    failed_tasks: int = 0


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    tag: str | None = None
    jobs: list[Job] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class SpanTree:
    """Read-side view over finished spans: children, subtree jobs, self
    and driver time."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, ()))
        return out

    def tree_jobs(self, span: Span) -> list[Job]:
        return [j for s in self.subtree(span) for j in s.jobs]

    def self_s(self, span: Span) -> float:
        """Span wall minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.children.get(span.id, ())]
        return span.wall - covered((span.start, span.end), kids)

    def self_driver_s(self, span: Span) -> float:
        """Self time during which none of the span's own jobs ran."""
        busy = [(c.start, c.end) for c in self.children.get(span.id, ())]
        busy += [(j.start, j.end) for j in span.jobs]
        return span.wall - covered((span.start, span.end), busy)

    def tree_driver_s(self, span: Span) -> float:
        """Span wall minus the union of every job run inside it."""
        jobs = [(j.start, j.end) for j in self.tree_jobs(span)]
        return span.wall - covered((span.start, span.end), jobs)


def _layer_of(module_name: str) -> str:
    rel = module_name[len(PACKAGE) + 1 :]
    for pkg in PACKAGE_LAYERS:
        if rel == pkg or rel.startswith(pkg + "."):
            return pkg
    return rel


class _Wrapped:
    """Span-opening stand-in for a package function.

    It pickles as the function it wraps, so a closure shipped to a Python
    worker carries the plain function and never the tracer."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str, tag_fn):
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", name)
        self.__doc__ = getattr(fn, "__doc__", None)
        self._tracer, self._name, self._layer, self._tag_fn = tracer, name, layer, tag_fn

    def __call__(self, *args, **kwargs):
        tag = self._tag_fn(args) if self._tag_fn else None
        with self._tracer.span(self._name, self._layer, tag):
            return self.__wrapped__(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        if obj is None:
            return self
        return _Bound(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.__wrapped__,),)


class _Bound:
    def __init__(self, wrapped: _Wrapped, obj):
        self._w, self._obj = wrapped, obj

    def __call__(self, *args, **kwargs):
        return self._w(self._obj, *args, **kwargs)


class Tracer:
    """In-memory span recorder with one Spark job group per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._ids = itertools.count()  # unique across resets of ``spans``
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = "setup"

    # -- spans ------------------------------------------------------------

    def span(self, name: str, layer: str, tag: str | None = None):
        return _SpanCtx(self, name, layer, tag)

    def _open(self, name, layer, tag) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, layer, parent, self.op, 0.0, tag=tag)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.time()
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._pending.append(s)

    def collect(self) -> None:
        """Attach job and stage figures to every span closed since the last
        call. Waits for the listener bus first, so the status store has
        seen every job end."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self._pending:
            for jid in tracker.getJobIdsForGroup(s.group):
                s.jobs.append(self._job(jid))
        self._pending = []

    def _job(self, jid: int) -> Job:
        jd = self._store.job(jid)
        start = jd.submissionTime().get().getTime() / 1e3
        end_opt = jd.completionTime()
        end = end_opt.get().getTime() / 1e3 if end_opt.isDefined() else start
        job = Job(jid, start, end)
        for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (shuffle reuse): no attempt
                continue
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            job.stages += 1
            job.executor_s += st.executorRunTime() / 1e3
            job.gc_s += st.jvmGcTime() / 1e3
            job.shuffle_mb += st.shuffleWriteBytes() / 1e6
            job.spill_mb += st.diskBytesSpilled() / 1e6
            job.output_mb += st.outputBytes() / 1e6
            job.failed_tasks += st.numFailedTasks()
        return job

    # -- wrappers ---------------------------------------------------------

    def wrap_modules(self, rel_modules, tag_fns=None) -> None:
        """Wrap every public function, and every public method of every
        class, defined in ``rel_modules`` (package-relative names), and
        re-point every reference the package's loaded modules hold."""
        import importlib
        import pkgutil

        tag_fns = tag_fns or {}
        targets = []
        for rel in rel_modules:
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            mods = [mod]
            if hasattr(mod, "__path__"):
                mods += [
                    importlib.import_module(f"{mod.__name__}.{m.name}")
                    for m in pkgutil.iter_modules(mod.__path__)
                ]
            targets.extend(mods)
        replaced: dict[int, _Wrapped] = {}
        for mod in targets:
            layer = _layer_of(mod.__name__)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    name = f"{layer}.{attr}"
                    w = _Wrapped(self, obj, name, layer, tag_fns.get(name))
                    replaced[id(obj)] = w
                    self.patch(mod, attr, w)
                elif inspect.isclass(obj):
                    for m_name, m in list(vars(obj).items()):
                        if m_name.startswith("_") or not inspect.isfunction(m):
                            continue
                        name = f"{layer}.{attr}.{m_name}"
                        self.patch(
                            obj, m_name,
                            _Wrapped(self, m, name, layer, tag_fns.get(name)),
                        )
        # ``from .x import f`` copies: re-point them at the wrappers too
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None and vars(mod)[attr] is w.__wrapped__:
                    self.patch(mod, attr, w)

    def patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches = []

    # -- output -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "op": s.op, "tag": s.tag,
                    "start": s.start, "end": s.end,
                    "jobs": [vars(j) for j in s.jobs],
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer, name, layer, tag):
        self.t, self.args = tracer, (name, layer, tag)

    def __enter__(self) -> Span:
        self.s = self.t._open(*self.args)
        return self.s

    def __exit__(self, *exc) -> None:
        self.t._close(self.s)
