"""Spans around the program's public layer entry points, and the Spark
work each span triggered.

The benchmark wraps the calls into each layer from its own files; the
program is not edited. Each wrapper records a span (name, layer,
start, end, parent) and sets a Spark job group for the duration of the
call, restoring the caller's group on return. After a traced op the
benchmark folds every job group's jobs and stages out of the Spark
status store, so each span also knows the executor time, bytes and
spill of the jobs it started.

Spark is lazy: a layer's self time is driver-side wall time inside its
call, and executor work is charged to the span whose call ran the
action. A fact join, for example, executes inside ``write_sink`` and
is charged to ``io``, not ``patterns``.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import threading
import time
from dataclasses import dataclass, field

LAYERS = (
    "plans", "operators", "patterns", "validation", "io",
    "state", "semantics", "catalog", "llm",
)
GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"pipebench-{self.sid}"


class Tracer:
    """Records spans; ``sc`` is anything with get/setLocalProperty (a
    SparkContext, or a fake in the self-tests)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.root: Span | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # a pool thread starts with an empty stack: its parent is the op
        parent = stack[-1] if stack else self.root
        with self._lock:
            s = Span(next(self._ids), layer, name, parent.sid if parent else None, 0.0)
            self.spans.append(s)
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        self.sc.setLocalProperty(DESC_KEY, f"{layer}:{name}")
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])

    @contextlib.contextmanager
    def op(self, index: int):
        """Root span of one op: jobs outside every layer span land here."""
        self.spans = []
        with self.span("op", f"op{index}") as root:
            self.root = root
            try:
                yield root
            finally:
                self.root = None

    # -- wrapping the program's entry points -------------------------------

    def wrap(self, owner, attr: str, layer, label=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``layer`` is a layer name or a function of the call's arguments;
        ``label`` maps the arguments to the span name."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            lay = layer(args, kwargs) if callable(layer) else layer
            name = label(args, kwargs) if label else attr
            with tracer.span(lay, name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def installed(self):
        install_program_wrappers(self)
        try:
            yield self
        finally:
            self.unwrap_all()


def _operator_layer(args, kwargs) -> str:
    registry, name = args[0], args[1]
    module = getattr(registry.get(name), "__module__", "") or ""
    return "llm" if module.startswith("odibi_spark.llm") else "operators"


def install_program_wrappers(tracer: Tracer) -> None:
    """Wrap the public calls into each layer. A function imported by
    name into another module is wrapped at each binding the program
    calls through."""
    m = importlib.import_module
    node = m("odibi_spark.plans.node")
    pipeline = m("odibi_spark.plans.pipeline")
    registry = m("odibi_spark.registry")
    context = m("odibi_spark.context")
    io = m("odibi_spark.io")
    validation = m("odibi_spark.validation")
    hwm = m("odibi_spark.state.hwm")
    query = m("odibi_spark.semantics.query")
    catalog = m("odibi_spark.catalog")
    guard = m("odibi_spark.patterns.derived_guard")

    w = tracer.wrap
    w(node.NodeExecutor, "execute", "plans",
      lambda a, k: f"node:{a[0].config.name}")
    w(pipeline, "load_pipeline_yaml", "plans")
    w(registry.FunctionRegistry, "apply", _operator_layer, lambda a, k: a[1])
    w(context.EngineContext, "sql", "operators")
    for owner in (io, node):
        w(owner, "read_source", "io")
        w(owner, "write_sink", "io", lambda a, k: f"write_sink:{k.get('mode', 'overwrite')}")
    for mod, fn in (
        ("fact", "build_fact"), ("dimension", "build_dimension"),
        ("scd2", "scd2_apply"), ("date_dimension", "build_date_dimension"),
        ("merge", "merge_apply"), ("aggregation", "aggregate_incremental"),
    ):
        w(m(f"odibi_spark.patterns.{mod}"), fn, "patterns")
    for owner in (validation, node):
        w(owner, "run_validation", "validation")
    for cls in (hwm.JsonStateBackend, hwm.ParquetStateBackend):
        w(cls, "get", "state")
        w(cls, "set", "state")
    w(hwm, "incremental_filter", "state")
    w(hwm, "capture_hwm", "state")
    w(query.SemanticQuery, "to_sql", "semantics")
    w(query.SemanticQuery, "execute", "semantics")
    for fn in ("record_run", "record_table", "record_metrics",
               "update_daily_stats", "sync_table"):
        w(catalog.Catalog, fn, "catalog")
    w(guard.DerivedGuard, "apply_once", "catalog")


# -- folding Spark's status store ------------------------------------------

@dataclass
class StageStats:
    tasks: int = 0
    executor_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, o: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class JobStats:
    start: float
    end: float
    stages: StageStats


def fold_jobs(sc, spans: list[Span]) -> dict[int, JobStats]:
    """Attach job ids to each span; return per-job timing and stage
    totals for every job the spans started."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_stages: dict[int, list[int]] = {}
    for s in spans:
        s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
        for j in s.jobs:
            info = tracker.getJobInfo(j)
            job_stages[j] = list(info.stageIds) if info else []
    wanted = {st for sts in job_stages.values() for st in sts}
    stages: dict[int, StageStats] = {}
    if wanted:
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            d = it.next()
            sid = d.stageId()
            if sid not in wanted:
                continue
            st = stages.setdefault(sid, StageStats())
            st.add(StageStats(
                tasks=d.numCompleteTasks(),
                executor_s=d.executorRunTime() / 1e3,
                executor_cpu_s=d.executorCpuTime() / 1e9,
                input_records=d.inputRecords(),
                output_bytes=d.outputBytes(),
                output_records=d.outputRecords(),
                shuffle_bytes=d.shuffleReadBytes() + d.shuffleWriteBytes(),
                spill_bytes=d.memoryBytesSpilled() + d.diskBytesSpilled(),
            ))
    jobs: dict[int, JobStats] = {}
    for j, sts in job_stages.items():
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        total = StageStats()
        for st in sts:
            if st in stages:
                total.add(stages[st])
        jobs[j] = JobStats(
            start=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
            end=done.get().getTime() / 1e3 if done.isDefined() else 0.0,
            stages=total,
        )
    return jobs


# -- span arithmetic ---------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of it that its
    children cover. Children running in parallel threads overlap, so
    their cover is the union of their intervals, clipped to the parent."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, ()) if c.end > s.start and c.start < s.end
        )
        out[s.sid] = max(0.0, (s.end - s.start) - cover)
    return out


def layer_idle(node_spans: list[Span], layers: list[list[str]], max_workers: int) -> float:
    """Idle worker time in parallel DAG layers: for each layer, the pool's
    worker-seconds (workers x layer wall) minus the node time spent."""
    by_name = {s.name.split(":", 1)[1]: s for s in node_spans}
    idle = 0.0
    for layer in layers:
        ss = [by_name[n] for n in layer if n in by_name]
        if not ss:
            continue
        wall = max(s.end for s in ss) - min(s.start for s in ss)
        workers = min(max_workers, len(layer))
        idle += workers * wall - sum(s.end - s.start for s in ss)
    return max(0.0, idle)
