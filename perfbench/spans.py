"""Spans around calls into the engine's layers, and the per-layer split.

A span records name, start, end, parent span and run id.  Every span sets
a Spark job group, so the jobs it launches (read back from Spark's status
store, which works with the UI disabled) are charged to it.  Jobs that
carry no span's group - streaming micro-batches run under the query's own
group - go to the innermost span open when they were submitted.

``Tracer.instrument`` wraps the public functions and methods of the layer
modules, so nested calls (``merge_versioned`` calling
``versioned.transact``) get child spans.  It is only used in traced runs
and ``Tracer.restore`` puts the originals back.

A span's name is ``<layer>.<module>.<function>`` or, for spans the
benchmark opens itself, ``<layer>.<what>``; the layer is the first
component.  Spans are kept in memory; ``Tracer.dump`` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ENGINE = "medallion_data_warehouse_on_azure_with_databricks_pyspark_spark"
LAYERS = ("session", "streaming", "sources", "plans", "operators", "workload")
PACKAGES = ("streaming", "sources", "plans", "operators")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    run: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int
    failed_tasks: int
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    cpu_ns: int


class Tracer:
    """Span recorder for one run.  Disabled spans cost one attribute test."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self._stack: list[Span] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self._claimed: set[int] = set()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = Span(f"{self.run_id}:{self._next}", name,
                   parent.id if parent else None, time.time(), run=self.run_id)
        self._next += 1
        self._stack.append(rec)
        self.sc._jsc.setJobGroup(rec.id, name, False)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc._jsc.setJobGroup(parent.id, parent.name, False)

    # -- wrapping the layer modules --------------------------------------------

    def _wrap(self, owner, attr: str, fn, name: str) -> None:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def instrument(self) -> None:
        """Wrap every public function and method defined in the session
        module and the streaming/sources/plans/operators packages."""
        modules = [importlib.import_module(f"{ENGINE}.session")]
        for pkg_name in PACKAGES:
            pkg = importlib.import_module(f"{ENGINE}.{pkg_name}")
            for info in pkgutil.iter_modules(pkg.__path__):
                modules.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
        for mod in modules:
            short = mod.__name__[len(ENGINE) + 1:]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    self._wrap(mod, attr, obj, f"{short}.{attr}")
                elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._wrap(obj, m, fn, f"{short}.{attr}.{m}")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- Spark status store ----------------------------------------------------

    def harvest(self) -> None:
        """Copy finished jobs and stages out of the status store (it keeps
        only the newest ~1000 of each, so call this after every pass)."""
        gw = self.sc._gateway
        conv = gw.jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        new = []
        for j in conv.asJava(store.jobsList(None)):
            jid = j.jobId()
            if jid in self.jobs or not j.completionTime().isDefined():
                continue
            group = j.jobGroup()
            new.append(Job(
                jid, group.get() if group.isDefined() else None,
                j.submissionTime().get().getTime() / 1000.0,
                j.completionTime().get().getTime() / 1000.0,
                list(conv.asJava(j.stageIds())),
            ))
        # a shuffle stage reused by a later job belongs to the job that ran it
        for job in sorted(new, key=lambda j: j.id):
            job.stages = [s for s in job.stages if s not in self._claimed]
            self._claimed.update(job.stages)
            self.jobs[job.id] = job
        empty = gw.new_array(gw.jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, empty, None)):
            key = (s.stageId(), s.attemptId())
            if key in self.stages or s.status().toString() in ("ACTIVE", "PENDING", "SKIPPED"):
                continue
            self.stages[key] = Stage(
                s.numCompleteTasks() + s.numFailedTasks(), s.numFailedTasks(),
                s.inputBytes(), s.outputBytes(), s.shuffleWriteBytes(),
                s.executorCpuTime(),
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "run": self.run_id,
                "spans": [asdict(s) for s in self.spans],
                "jobs": [asdict(j) for j in self.jobs.values()],
            }, fh)


# ---------------------------------------------------------------------------
# Per-layer metrics from spans + jobs + stages
# ---------------------------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _subtract(base: tuple[float, float], holes) -> list[tuple[float, float]]:
    out, cur = [], base[0]
    for a, b in _union(holes):
        if a > cur:
            out.append((cur, min(a, base[1])))
        cur = max(cur, b)
    if cur < base[1]:
        out.append((cur, base[1]))
    return [(a, b) for a, b in out if b > a]


def _intersect(xs, ys) -> float:
    total, i, j = 0.0, 0, 0
    xs, ys = _union(xs), _union(ys)
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        total += max(0.0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def charge_jobs(spans: list[Span], jobs: list[Job]) -> dict[str, list[Job]]:
    """span id -> the jobs charged to it: by job group, else to the
    innermost span open at the job's submission."""
    by_id = {s.id: s for s in spans}
    out: dict[str, list[Job]] = {}
    for job in jobs:
        sid = job.group if job.group in by_id else None
        if sid is None:
            open_ = [s for s in spans if s.start <= job.start <= s.end]
            if not open_:
                continue
            sid = max(open_, key=lambda s: s.start).id
        out.setdefault(sid, []).append(job)
    return out


def _stages_by_id(stages: dict[tuple[int, int], Stage]) -> dict[int, list[Stage]]:
    """Every attempt of each stage, by stage id."""
    out: dict[int, list[Stage]] = {}
    for (sid, _attempt), st in stages.items():
        out.setdefault(sid, []).append(st)
    return out


LAYER_METRICS = (
    ("calls", "count"), ("busy_s", "s"), ("exec_s", "s"), ("driver_gap_s", "s"),
    ("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("output_mb", "MB"),
    ("executor_cpu_s", "s"),
)


def self_intervals(spans: list[Span]) -> dict[str, list[tuple[float, float]]]:
    kids: dict[str | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    return {
        s.id: _subtract((s.start, s.end), [(c.start, c.end) for c in kids.get(s.id, [])])
        for s in spans
    }


def layer_metrics(spans: list[Span], jobs: list[Job],
                  stages: dict[tuple[int, int], Stage]) -> dict[str, float]:
    """The eleven per-layer metrics for every layer, keyed ``<layer>.<m>``."""
    own = self_intervals(spans)
    charged = charge_jobs(spans, jobs)
    by_stage = _stages_by_id(stages)
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
    for s in spans:
        if s.layer not in LAYERS:
            continue
        pre, mine = s.layer + ".", charged.get(s.id, [])
        busy = _length(own[s.id])
        exec_ = _intersect(own[s.id], [(j.start, j.end) for j in mine])
        out[pre + "calls"] += 1
        out[pre + "busy_s"] += busy
        out[pre + "exec_s"] += exec_
        out[pre + "driver_gap_s"] += busy - exec_
        out[pre + "jobs"] += len(mine)
        for st in (st for job in mine for sid in job.stages for st in by_stage.get(sid, ())):
            out[pre + "tasks"] += st.tasks
            out[pre + "failed_tasks"] += st.failed_tasks
            out[pre + "shuffle_write_mb"] += st.shuffle_write_bytes / MB
            out[pre + "input_mb"] += st.input_bytes / MB
            out[pre + "output_mb"] += st.output_bytes / MB
            out[pre + "executor_cpu_s"] += st.cpu_ns / 1e9
    return out


def busy_of(spans: list[Span], prefix: str) -> float:
    """Summed self time of the spans whose name starts with ``prefix``."""
    own = self_intervals(spans)
    return sum(_length(own[s.id]) for s in spans if s.name.startswith(prefix))


def duration_of(spans: list[Span], name: str) -> float:
    """Summed inclusive time of the spans named exactly ``name``."""
    return sum(s.end - s.start for s in spans if s.name == name)


def coverage(spans: list[Span], windows: list[tuple[float, float]]) -> float:
    """Share of the ``windows`` (the traced passes) covered by spans."""
    total = _length(windows)
    return _intersect(windows, [(s.start, s.end) for s in spans]) / total if total else 0.0


def input_bytes_of(spans: list[Span], jobs: list[Job],
                   stages: dict[tuple[int, int], Stage], prefix: str) -> float:
    """Input bytes read by jobs charged to spans named ``prefix...`` or
    their descendants."""
    by_id = {s.id: s for s in spans}

    def under(s: Span) -> bool:
        while s is not None:
            if s.name.startswith(prefix):
                return True
            s = by_id.get(s.parent)
        return False

    by_stage = _stages_by_id(stages)
    return float(sum(
        st.input_bytes
        for sid, mine in charge_jobs(spans, jobs).items() if under(by_id[sid])
        for job in mine for stage in job.stages for st in by_stage.get(stage, ())
    ))
