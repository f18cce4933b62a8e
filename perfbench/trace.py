"""Spans, counts and Spark counters for the traced benchmark run.

The tracer wraps the public entry points of each ``cloudfloe_spark`` layer
from the benchmark's side (module or class attributes are swapped for
timing wrappers and restored by :meth:`Tracer.uninstall`), so the program
itself is unchanged. Spans record name, start, end, parent span and the op
they belong to; they stay in memory until the run ends. Each op also runs
under its own Spark job group, so the Spark counters of an op are read back
from the status store after the run.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import threading
import time
from dataclasses import dataclass

from perfbench.stats import median

# Payload key the traced HTTP client uses to hand its op id to the server
# thread; the request models ignore unknown keys.
OP_KEY = "benchOp"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str], float] = {}
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def current_op(self) -> "str | None":
        return getattr(self._tls, "op", None)

    @contextlib.contextmanager
    def op(self, op_id: "str | None"):
        """Spans and counts opened in this thread belong to ``op_id``."""
        prev = (getattr(self._tls, "op", None), getattr(self._tls, "stack", []))
        self._tls.op, self._tls.stack = op_id, []
        try:
            yield
        finally:
            self._tls.op, self._tls.stack = prev

    @contextlib.contextmanager
    def span(self, name: str):
        op = self.current_op()
        if op is None:
            yield
            return
        stack = self._tls.stack
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), 0.0, stack[-1] if stack else -1, op)
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        op = self.current_op()
        if op is None:
            return
        with self._lock:
            self.counts[(op, name)] = self.counts.get((op, name), 0) + n

    # -- wrapping ------------------------------------------------------------

    def replace(self, owner, attr: str, make) -> None:
        """Set ``owner.attr`` to ``make(current)`` until :meth:`uninstall`."""
        orig = inspect.getattr_static(owner, attr)
        if isinstance(orig, (staticmethod, classmethod)):
            raise TypeError(f"cannot wrap descriptor {owner!r}.{attr}")
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(getattr(owner, attr))))

    def wrap(self, owner, attr: str, name: str, count: "str | None" = None) -> None:
        """Record a span named ``name`` (and bump counter ``count``) around
        every call of ``owner.attr``."""

        def make(fn):
            def wrapper(*args, **kwargs):
                if count is not None:
                    self.count(count)
                with self.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        self.replace(owner, attr, make)

    def wrap_module_functions(
        self, module, prefix: str, skip: "tuple[str, ...]" = ()
    ) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and attr not in skip
                and inspect.isfunction(fn)
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- span arithmetic ------------------------------------------------------------


def self_times(spans: "list[Span]") -> "list[float]":
    """Each span's duration minus the durations of its direct children."""
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent >= 0:
            out[s.parent] -= s.end - s.start
    return out


def _in_group(name: str, group: "tuple[str, ...]") -> bool:
    return any(name == g or (g.endswith(".") and name.startswith(g)) for g in group)


def per_op(spans: "list[Span]", group: "tuple[str, ...]", kind: str) -> "dict[str, float]":
    """Seconds per op spent in the spans named by ``group`` (an entry
    ending in '.' matches a name prefix). ``kind='self'`` sums self times;
    ``kind='total'`` sums the durations of the outermost group spans, so a
    group span nested in another is not counted twice."""
    selfs = self_times(spans) if kind == "self" else None
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if not _in_group(s.name, group):
            continue
        if kind == "self":
            v = selfs[i]
        else:
            p = s.parent
            while p >= 0 and not _in_group(spans[p].name, group):
                p = spans[p].parent
            if p >= 0:
                continue
            v = s.end - s.start
        out[s.op] = out.get(s.op, 0.0) + v
    return out


# -- layer metrics ------------------------------------------------------------------

# per-layer time metric → (span names, self or total). Reported as the
# median over the ops that entered the layer, in milliseconds.
LAYER_TIMES: "dict[str, tuple[tuple[str, ...], str]]" = {
    "api.handler_self_ms": (("api.handler",), "self"),
    "engine.session_ms": (("engine.request_session",), "total"),
    "engine.run_query_self_ms": (("engine.run_query",), "self"),
    "validation.shape_ms": (("validation.shape",), "total"),
    "validation.limit_ms": (("validation.limit",), "total"),
    "validation.plan_guard_ms": (("validation.plan_guard",), "total"),
    "file_reads.resolve_ms": (("file_reads.resolve",), "total"),
    "iceberg_local.resolve_ms": (("iceberg_local.",), "total"),
    "iceberg_meta.self_ms": (("iceberg_meta.",), "self"),
    "convert.transpile_ms": (("convert.",), "total"),
    "maintenance.delete_where_ms": (("maintenance.delete_where",), "total"),
    "maintenance.compact_ms": (("maintenance.compact",), "total"),
    "iceberg_fixture.commit_ms": (("iceberg_fixture.",), "total"),
    "queries.build_ms": (("queries.build",), "total"),
    "queries.exec_ms": (("queries.exec",), "total"),
    "queries.exec_count_ms": (("queries.exec_count",), "total"),
}
# per-layer counts → mean per op over all ops of the window
LAYER_COUNTS = (
    "iceberg_meta.metadata_loads",
    "iceberg_meta.manifest_reads",
    "iceberg_meta.live_delete_files",
    "queries.build_jobs",
)


def layer_metrics(tracer: Tracer, ops: "list[str]") -> "dict[str, float]":
    spans = [s for s in tracer.spans if s.op in set(ops)]
    out: dict[str, float] = {}
    for metric, (group, kind) in LAYER_TIMES.items():
        vals = per_op(spans, group, kind)
        out[metric] = median([v * 1000 for v in vals.values()])
    http = per_op(spans, ("api.http",), "total")
    handler = per_op(spans, ("api.handler",), "total")
    out["api.http_ms"] = median(
        [(http[o] - handler.get(o, 0.0)) * 1000 for o in http]
    )
    n = max(1, len(ops))
    for metric in LAYER_COUNTS:
        out[metric] = sum(tracer.counts.get((o, metric), 0) for o in ops) / n
    return out


# -- Spark counters -------------------------------------------------------------------


@contextlib.contextmanager
def job_group(sc, group: "str | None"):
    """Run the block's Spark jobs under job group ``group`` (this thread)."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_ms",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)


def spark_counters(sc, group: str) -> "dict[str, float]":
    """Jobs, stages, tasks, job wall time and stage I/O of one job group,
    from the status tracker and the application status store (both work
    with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    for jid in tracker.getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["spark.job_ms"] += done.get().getTime() - sub.get().getTime()
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def spark_metrics(sc, groups: "dict[str, list[str]]") -> "dict[str, float]":
    """Per-op Spark counters (an op may own several job groups): the
    median job time and the mean of every count, over all ops."""
    per = []
    for gs in groups.values():
        tot = dict.fromkeys(SPARK_KEYS, 0.0)
        for g in gs:
            for k, v in spark_counters(sc, g).items():
                tot[k] += v
        per.append(tot)
    n = max(1, len(per))
    out = {k: sum(p[k] for p in per) / n for k in SPARK_KEYS}
    out["spark.job_ms"] = median([p["spark.job_ms"] for p in per])
    return out
