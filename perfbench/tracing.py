"""Span tracer for the traced run, installed from outside the package.

``Tracer.install`` wraps the package entry points listed in
``TRACED`` by replacing the module or class attribute; ``uninstall``
puts the originals back. Each span:

- runs its calls under a job group of its own (the parent's group is
  restored on exit), so Spark jobs bill to exactly one span;
- reads that group's jobs, stages and tasks from ``statusTracker()``
  when it ends (Spark keeps a bounded number of finished jobs, so they
  are read then, not at the end of the run);
- counts py4j ``send_command`` calls made while it is open.

Spans stay in memory; ``write`` dumps them as JSON lines at the end.
The tracer's own py4j calls and wall time are counted separately
(``overhead_calls``/``overhead_s``) and kept out of the spans' counts;
so are the py4j calls the benchmark makes inside ``unbilled()`` (its
canary samples between a cycle's queries).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

# (span name, module, attribute path) — every call into these is a span
TRACED = (
    ("ingest.process_batch", "webhookdb_spark.streaming.ingest", "IngestPipeline.process_batch"),
    ("spec.shape", "webhookdb_spark.spec", "ReplicatorSpec.shape"),
    ("upsert.merge_upsert", "webhookdb_spark.operators.upsert", "merge_upsert"),
    ("storage.overwrite_buckets", "webhookdb_spark.storage", "ManagedTable.overwrite_buckets"),
    ("cdc.changes_since", "webhookdb_spark.operators.upsert", "changes_since"),
    ("cdc.latest_change_per_key", "webhookdb_spark.operators.upsert", "latest_change_per_key"),
    ("cdc.trim_changes", "webhookdb_spark.operators.upsert", "trim_changes"),
    ("matview.run", "webhookdb_spark.operators.matview", "IncrementalAggMaintainer.run"),
    ("sync.run_sync_changes", "webhookdb_spark.sinks.sync_target", "DatabaseSyncTarget.run_sync_changes"),
    ("query.run_readonly_sql", "webhookdb_spark.plans.query_surface", "run_readonly_sql"),
    ("query.spark_sql", "pyspark.sql.session", "SparkSession.sql"),
)


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)
    # filled by finish(): wall minus the part covered by child spans
    self_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class _Py4jCounter:
    """Counts ``GatewayClient.send_command`` calls process-wide."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        self._orig = orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, *a, **kw):
            counter.calls += 1
            return orig(client, *a, **kw)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


class Tracer:
    def __init__(self, spark, clock=time.perf_counter) -> None:
        self.sc = spark.sparkContext
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._patched: list[tuple[object, str, object]] = []
        self.py4j = _Py4jCounter()
        self.overhead_calls = 0
        self.overhead_s = 0.0
        self.unbilled_calls = 0  # made inside unbilled(): no span's
        # hooks run with the span just opened / closed: fn(span, args,
        # result) — the workloads attach outside-in counters here
        self.on_end: dict[str, list] = {}
        self.on_start: dict[str, list] = {}

    # -- install ----------------------------------------------------------
    def install(self) -> None:
        self.py4j.install()
        for name, module, path in TRACED:
            owner, attr = _resolve(module, path)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.py4j.uninstall()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name, args)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.close(span, args, result)

        return traced

    # -- spans ------------------------------------------------------------
    def _group(self, span: Span) -> str:
        return f"perfbench-{span.id}"

    def _bookkeeping(self, fn):
        """Run tracer-side work, billing its py4j calls and time to the
        tracer rather than to the open spans."""
        t0, c0 = self.clock(), self.py4j.calls
        try:
            return fn()
        finally:
            self.overhead_calls += self.py4j.calls - c0
            self.overhead_s += self.clock() - t0

    def open(self, name: str, args=()) -> Span:
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        span = Span(
            id=len(self.spans), name=name, op=self._op,
            parent=None if parent is None else parent.id, start=0.0,
        )
        self.spans.append(span)
        self._stack.append(span)
        self._bookkeeping(lambda: self.sc.setJobGroup(self._group(span), name))
        for hook in self.on_start.get(name, ()):
            self._bookkeeping(lambda h=hook: h(span, args))
        span.attrs["_py4j0"] = self.py4j.calls
        span.attrs["_oh0"] = self.overhead_calls + self.unbilled_calls
        span.start = self.clock()
        return span

    def close(self, span: Span, args=(), result=None) -> None:
        span.end = self.clock()
        span.py4j = (self.py4j.calls - span.attrs.pop("_py4j0")) - (
            self.overhead_calls + self.unbilled_calls - span.attrs.pop("_oh0"))
        self._stack.pop()

        def account():
            st = self.sc.statusTracker()
            for jid in st.getJobIdsForGroup(self._group(span)):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                span.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        span.stages += 1
                        span.tasks += si.numTasks
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self._group(parent), parent.name)
            for hook in self.on_end.get(span.name, ()):
                hook(span, args, result)

        self._bookkeeping(account)

    @contextlib.contextmanager
    def unbilled(self):
        """Keep the block's py4j calls out of every open span (the
        benchmark's own work inside an op, such as a canary sample)."""
        c0 = self.py4j.calls
        try:
            yield
        finally:
            self.unbilled_calls += self.py4j.calls - c0

    @contextlib.contextmanager
    def op_span(self, name: str):
        """A benchmark-level root span (one op) around a block."""
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    # -- results ----------------------------------------------------------
    def finish(self) -> list[Span]:
        """Compute self times: a span's wall minus its children's walls
        (children are sequential: one client thread)."""
        child_wall: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
        for s in self.spans:
            s.self_s = s.wall - child_wall.get(s.id, 0.0)
        return self.spans

    def inclusive(self, span: Span, attr: str) -> int:
        """Sum of ``attr`` over a span and all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total, todo = 0, [span]
        while todo:
            s = todo.pop()
            total += getattr(s, attr)
            todo.extend(kids.get(s.id, ()))
        return total

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["wall"] = s.wall
                f.write(json.dumps(d, default=str) + "\n")
