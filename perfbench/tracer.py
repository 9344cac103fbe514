"""Outside-in tracer: spans around calls into the program's layers.

Nothing in the program is edited.  ``install()`` puts an import hook in
front of the normal path finder; as each traced program module finishes
executing, its public layer functions are replaced by timing wrappers, so
every later ``from … import`` binding (and every call through the module's
globals) goes through them.  The wrappers keep the wrapped function's
``__module__``/``__qualname__``, so a function shipped to Python workers is
still pickled by reference and resolves there to the plain original.

Each wrapper records a span (name, start, end, parent, operation id) in
memory and, while it runs, sets a Spark job group naming the span.  Spark
jobs, stages and tasks are attributed to spans afterwards from the event
log (``parse_event_log``): by job group first, and for jobs started on
threads the program owns (streaming micro-batches, thread pools) by the
serial operation whose span was open when the job was submitted.

Tracing is switched per thread (``Tracer.enabled``) so a traced run can
alternate traced and untraced operations and measure its own overhead.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "etl_pipeline2_0_spark"

# module (relative to the package) → public functions traced as that layer.
# ``None`` traces every public function the module defines.
LAYERS: dict[str, list[str] | None] = {
    "session": ["get_spark"],
    "sources.documents": ["read_documents", "documents_from_strings"],
    "sources.tables": ["load_table"],
    "operators.partitioning": ["ensure_min_parallelism"],
    "operators.detect": ["detect_blocks"],
    "operators.extract": ["extract_records"],
    "operators.schema_report": ["infer_schema_report"],
    "operators.normalize": ["normalize_union", "sorted_output"],
    "pipeline": ["run_batch"],
    "sinks.load": ["load_outputs"],
    "api": ["process_payload"],
    "server": ["create_server"],
    "streaming.windows": ["stream_sessionize"],
}
FUNCTIONS_PREFIX = "functions."  # every public function of functions.* is "functions"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: str | None
    group: str | None
    end: float = 0.0
    jobs: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # counts the caller records


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    # -- per-thread state ------------------------------------------------
    @property
    def enabled(self) -> bool:
        return getattr(self._tls, "enabled", False)

    def set_thread(self, enabled: bool, op: str | None = None) -> None:
        self._tls.enabled = enabled
        self._tls.op = op
        self._tls.stack = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    # -- spans -----------------------------------------------------------
    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            # A call into a layer from within the same layer is one span.
            if not self.enabled or (stack and stack[-1].layer == layer):
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        """Write every span, with its attributed job ids, as JSON."""
        rows = [dict(s.__dict__, jobs=[j.id[1] for j in s.jobs]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        sid = next(t._ids)
        parent = stack[-1] if stack else None
        # Only spans set job groups here, so the group to restore is the
        # enclosing span's (none outside every span).
        self.prev_group = parent.group if parent else None
        group = f"bench-span-{sid}"
        self.span = Span(
            id=sid, name=self.name, layer=self.layer, start=time.time(),
            parent=parent.id if parent else None,
            op=getattr(t._tls, "op", None), group=group,
        )
        stack.append(self.span)
        _set_group(group)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.t._stack().pop()
        _set_group(self.prev_group)
        with self.t._lock:
            self.t.spans.append(self.span)


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _set_group(group) -> None:
    sc = _spark_context()
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", group)


# -- import hook -----------------------------------------------------------

def _targets(layer: str, module) -> list[str]:
    names = LAYERS.get(layer)
    if names is not None:
        return names
    return [
        n for n, obj in vars(module).items()
        if not n.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
        and not hasattr(obj, "evalType")  # a pandas/Python UDF object
    ]


def _layer_of(fullname: str) -> str | None:
    if not fullname.startswith(PKG + "."):
        return None
    rel = fullname[len(PKG) + 1:]
    if rel in LAYERS:
        return rel
    if rel.startswith(FUNCTIONS_PREFIX):
        return "functions"
    return None


class _Loader(importlib.abc.Loader):
    def __init__(self, tracer: Tracer, inner, layer: str) -> None:
        self.tracer, self.inner, self.layer = tracer, inner, layer

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module) -> None:
        self.inner.exec_module(module)
        for name in _targets(self.layer, module):
            fn = getattr(module, name)
            if name == "create_server":
                setattr(module, name, _wrap_create_server(self.tracer, fn))
            else:
                setattr(module, name, self.tracer.wrap(fn, self.layer))


class _Finder(importlib.abc.MetaPathFinder):
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def find_spec(self, fullname, path, target=None):
        layer = _layer_of(fullname)
        if layer is None:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is not None and spec.loader is not None:
            spec.loader = _Loader(self.tracer, spec.loader, layer)
        return spec


def install() -> Tracer:
    """Trace the program's layers; call before importing the program."""
    if any(m == PKG or m.startswith(PKG + ".") for m in sys.modules):
        raise RuntimeError("the program was imported before the tracer")
    tracer = Tracer()
    sys.meta_path.insert(0, _Finder(tracer))
    return tracer


def _wrap_create_server(tracer: Tracer, create_server):
    """The server layer: one root span per POST, named by the request id
    the load generator sends; its ``X-Bench-Trace`` header says whether
    this request is traced."""

    @functools.wraps(create_server)
    def traced_create_server(*args, **kwargs):
        srv = create_server(*args, **kwargs)
        base = srv.RequestHandlerClass

        class TracedHandler(base):
            def do_POST(self):
                on = self.headers.get("X-Bench-Trace") == "1"
                tracer.set_thread(on, op=self.headers.get("X-Bench-Request"))
                if not on:
                    return base.do_POST(self)
                with tracer.span("server.do_POST", "server"):
                    return base.do_POST(self)

        srv.RequestHandlerClass = TracedHandler
        return srv

    return traced_create_server


# -- event log --------------------------------------------------------------

@dataclass
class Job:
    id: tuple
    group: str | None
    submitted: float
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(log_dir: str) -> list[Job]:
    """Every job of every application logged under ``log_dir`` with its
    stages that ran, task counts, shuffle-write and spill bytes."""
    jobs: list[Job] = []
    for fname in sorted(os.listdir(log_dir)):
        app = fname
        by_stage: dict[int, Job] = {}
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        id=(app, ev["Job ID"]),
                        group=props.get("spark.jobGroup.id"),
                        submitted=ev["Submission Time"] / 1000.0,
                    )
                    for sid in ev.get("Stage IDs", []):
                        by_stage.setdefault(sid, job)
                    jobs.append(job)
                elif kind == "SparkListenerTaskEnd":
                    job = by_stage.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    job.stages.add(ev["Stage ID"])
                    job.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        job.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def attribute_jobs(spans: list[Span], jobs: list[Job], serial: bool) -> list[Job]:
    """Attach each job to the span that set its group.  Jobs started on
    other threads go, when ``serial``, to the innermost span open at their
    submission (only one operation is open at a time).  Returns the jobs
    left unattributed."""
    by_group = {s.group: s for s in spans}
    ordered = sorted(spans, key=lambda s: (s.start, -s.end))
    rest = []
    for job in jobs:
        span = by_group.get(job.group)
        if span is None and serial:
            open_ = [s for s in ordered if s.start <= job.submitted <= s.end]
            span = min(open_, key=lambda s: s.end - s.start) if open_ else None
        if span is None:
            rest.append(job)
        else:
            span.jobs.append(job)
    return rest
