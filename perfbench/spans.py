"""Span recorder for the traced benchmark run.

It wraps the public entry points of each package layer from outside the
package, so the run keeps the one orchestration in
``pipeline.run_transform``. A span holds name, start, end, parent and run
id; spans stay in memory until the run ends.

A span may open a *phase*: while it is open, Spark jobs are submitted
under the job group of that phase, so the event log can be split by phase.
A span opened inside a phase with ``sub`` set uses the group
``<phase>/<sub>``.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

_GROUP = "spark.jobGroup.id"
_EXCHANGE = re.compile(r"^[\s:+\-]*(?:\w*Exchange)\b", re.M)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into the recorder's spans, -1 for a root span
    run_id: str
    group: str


class SpanRecorder:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        # counts recorded at the wrapped boundaries
        self.plan_s = 0.0
        self.exchanges = 0

    @contextmanager
    def span(self, name: str, phase: str | None = None, sub: str | None = None):
        group = self._groups[-1] if self._groups else ""
        if phase is not None:
            group = phase
        elif sub is not None and group:
            group = f"{group}/{sub}"
        prev = self.sc.getLocalProperty(_GROUP)
        if group:
            self.sc.setLocalProperty(_GROUP, group)
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else -1,
                               self.run_id, group))
        self._stack.append(idx)
        self._groups.append(group)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._groups.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def wrap(self, owner, attr: str, name: str, phase: str | None = None,
             sub: str | None = None, after=None) -> None:
        """Replace ``owner.attr`` by a function that runs it inside a span;
        ``after(result)`` runs inside the same span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name, phase=phase, sub=sub):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def force_plan(self, df) -> None:
        """Analyse, optimise and physically plan ``df`` (no execution) and
        count the exchanges in its physical plan."""
        with self.span("compiler.plan"):
            t = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.plan_s += time.perf_counter() - t
        self.exchanges += len(_EXCHANGE.findall(plan))

    def total(self, prefix: str) -> float:
        """Summed duration of the spans named ``prefix`` or ``prefix.*``."""
        return sum(s.end - s.start for s in self.spans
                   if s.name == prefix or s.name.startswith(prefix + "."))

    def top_level_total(self) -> float:
        return sum(s.end - s.start for s in self.spans if s.parent == -1)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def as_records(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def install_etl(rec: SpanRecorder) -> None:
    """Wrap the ETL layer entry points that ``run_transform`` calls."""
    from carrot_transform_spark import pipeline
    from carrot_transform_spark.metrics.rollup import MetricsCollector
    from carrot_transform_spark.plans import compiler
    from carrot_transform_spark.plans.compiler import CarrotPlanner
    from carrot_transform_spark.sinks.tsv import TsvDirSink

    rec.wrap(pipeline, "load_schemas", "rules.load_schemas", phase="rules")
    rec.wrap(pipeline, "load_rules", "rules.load_rules", phase="rules")
    rec.wrap(pipeline, "make_source", "sources.make_source", phase="sources")
    rec.wrap(CarrotPlanner, "person_map", "compiler.person_map", phase="person_map")
    rec.wrap(CarrotPlanner, "target_records", "compiler.target_records", phase="compile",
             after=rec.force_plan)
    rec.wrap(compiler, "with_dense_ids", "ids.with_dense_ids", sub="ids")
    rec.wrap(MetricsCollector, "add_output_records", "metrics.add_output_records", phase="metrics")
    rec.wrap(CarrotPlanner, "flush_metrics", "metrics.flush_metrics", phase="metrics")
    rec.wrap(MetricsCollector, "summary_rows", "metrics.summary_rows", phase="metrics")
    rec.wrap(TsvDirSink, "write", "sinks.write", phase="write")
    rec.wrap(TsvDirSink, "write_rows", "sinks.write_rows", phase="write")


def install_queries(rec: SpanRecorder, registry: dict, names: dict[str, str]) -> None:
    """Wrap each benchmarked registry entry's ``spark_fn`` (its plan build)."""
    for short, name in names.items():
        rec.wrap(registry[name], "spark_fn", f"queries.{short}.build")
