"""Statistics and the per-layer breakdown computed from traced spans."""

from __future__ import annotations

import statistics
from collections import defaultdict


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, None) with fewer than eleven samples."""
    v = sorted(values)
    if len(v) < 11:
        return None, None
    k = len(v) - 11
    return v[k], round(100.0 * (k + 1) / len(v), 1)


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


class OpTrace:
    """The spans of one traced operation, as a tree with jobs attached."""

    def __init__(self, spans: list) -> None:
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            if s.parent in self.by_id:
                self.children[s.parent].append(s)

    def _ancestors(self, s):
        while s.parent in self.by_id:
            s = self.by_id[s.parent]
            yield s

    def jobs(self, s) -> list:
        out = list(s.jobs)
        for c in self.children[s.id]:
            out += self.jobs(c)
        return out

    def top(self, layer: str, name: str | None = None) -> list:
        """Outermost spans of ``layer`` (optionally one function of it)."""
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
            and not any(a.layer == layer for a in self._ancestors(s))
        ]

    def wall(self, layer: str, name: str | None = None) -> float:
        return sum(s.end - s.start for s in self.top(layer, name))

    def count(self, layer: str, what: str, name: str | None = None) -> int:
        jobs = [j for s in self.top(layer, name) for j in self.jobs(s)]
        if what == "jobs":
            return len(jobs)
        return sum(getattr(j, what) for j in jobs)

    def extra(self, key: str) -> float:
        return sum(s.extra.get(key, 0) for s in self.spans)

    def all_jobs(self) -> list:
        return [j for s in self.spans for j in s.jobs]


def layer_metrics(ops: list[OpTrace], queries: list[str], client_latency: dict[str, float]) -> dict[str, float]:
    """Per-operation layer figures, each the median over ``ops``."""
    per_op: dict[str, list[float]] = defaultdict(list)
    per_op["server.overhead_s"] = []  # requests only

    def put(name: str, value: float) -> None:
        per_op[name].append(value)

    for op in ops:
        for layer in ("sources.documents", "operators.detect", "operators.normalize"):
            put(f"{layer}.wall_s", op.wall(layer))
        for layer in ("sources.tables", "operators.partitioning", "operators.extract", "functions"):
            put(f"{layer}.wall_s", op.wall(layer))
            put(f"{layer}.jobs", op.count(layer, "jobs"))
        sr = "operators.schema_report"
        put(f"{sr}.wall_s", op.wall(sr))
        put(f"{sr}.jobs", op.count(sr, "jobs"))
        put(f"{sr}.tasks", op.count(sr, "tasks"))
        rb = "pipeline.run_batch"
        put(f"{rb}.wall_s", op.wall("pipeline", rb))
        put(f"{rb}.jobs", op.count("pipeline", "jobs", rb))
        put(f"{rb}.tasks", op.count("pipeline", "tasks", rb))
        put("sinks.load.wall_s", op.wall("sinks.load"))
        put("sinks.load.jobs", op.count("sinks.load", "jobs"))
        put("sinks.load.bytes_out", op.extra("bytes_out"))
        pp = op.top("api")
        put("api.process_payload.wall_s", op.wall("api"))
        put("api.process_payload.jobs", op.count("api", "jobs"))
        inner = sum(
            c.end - c.start for s in pp for c in op.children[s.id] if c.layer == "pipeline"
        )
        put("api.after_run_batch_s", op.wall("api") - inner)
        for s in op.top("server"):
            if s.op in client_latency:
                put("server.overhead_s", client_latency[s.op] - op.wall("api"))
        put("plans.build_s", op.wall("plans"))
        put("plans.build_jobs", op.count("plans", "jobs"))
        put("plans.action_s", op.wall("plans.action"))
        put("plans.action_jobs", op.count("plans.action", "jobs"))
        put("plans.action_tasks", op.count("plans.action", "tasks"))
        for q in queries:
            put(f"plans.{q}.build_s", op.wall("plans", f"plans.{q}.build"))
            put(f"plans.{q}.action_s", op.wall("plans.action", f"plans.{q}.action"))
        put("streaming.windows.wall_s", op.wall("streaming.windows"))
        put("streaming.windows.batches", op.extra("batches"))
        jobs = op.all_jobs()
        put("spark.jobs", len(jobs))
        put("spark.stages", sum(len(j.stages) for j in jobs))
        for what in ("tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes"):
            put(f"spark.{what}", sum(getattr(j, what) for j in jobs))
    return {name: median(vals) for name, vals in per_op.items()}
