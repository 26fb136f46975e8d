"""Per-layer metrics of one traced sample, from its spans and event log.

Layers are the package's modules: ``rules`` (rules.loader,
rules.validation, omop.ddl), ``sources`` (sources.registry), ``compiler``
(plans.compiler with operators.ids and functions.dates inside it),
``metrics`` (metrics.rollup plus CarrotPlanner.flush_metrics), ``sinks``
(sinks.tsv) and ``queries`` (the analytics registry).

Every metric is reported on every workload; one that does not apply to a
workload reads 0 there (for example ``queries.*`` on the ETL workloads).
"""

from __future__ import annotations

from pathlib import Path

from eventlog import EXEC_FIELDS, EventLog

ETL_PHASES = ("person_map", "compile", "metrics", "write")
QUERY_PHASES = ("q1", "q9", "q18", "omop")

_EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "job_wall_s": "s",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
}

# (name, unit, better) in report order
PER_LAYER: list[tuple[str, str, str]] = [
    ("rules.load_s", "s", "lower"),
    ("sources.open_s", "s", "lower"),
    ("sources.read_bytes", "bytes", "lower"),
    ("sources.read_rows", "count", "lower"),
    ("sources.scan_ratio", "ratio", "lower"),
    ("compiler.build_s", "s", "lower"),
    ("compiler.plan_s", "s", "lower"),
    ("compiler.eager_jobs", "count", "lower"),
    ("compiler.exchanges", "count", "lower"),
    ("ids.s", "s", "lower"),
    ("ids.jobs", "count", "lower"),
    ("metrics.s", "s", "lower"),
    ("metrics.jobs", "count", "lower"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.jobs", "count", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    *[(f"driver.{p}.s", "s", "lower") for p in ETL_PHASES],
    *[(f"queries.{q}.{k}", "s", "lower") for q in QUERY_PHASES for k in ("build_s", "exec_s", "agg_s")],
    *[(f"exec.{p}.{f}", _EXEC_UNITS[f], "lower") for p in ETL_PHASES + QUERY_PHASES for f in EXEC_FIELDS],
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
]


def _dir_bytes(path: str | Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _phase_span_s(rec, phase: str) -> float:
    return sum(s.end - s.start for s in rec.spans if s.parent == -1 and s.group == phase)


def layer_metrics(spec: dict, rec, log: EventLog, result: dict) -> dict[str, float]:
    m: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    phases = QUERY_PHASES if spec["workload"] == "analytics_sf1" else ETL_PHASES
    for p in phases:
        for f, v in log.phase(p).items():
            m[f"exec.{p}.{f}"] = v
    read_bytes = read_rows = 0
    for p in phases:
        b, r = log.input_totals(p)
        read_bytes += b
        read_rows += r
    m["sources.read_bytes"] = read_bytes
    m["sources.read_rows"] = read_rows
    m["sources.scan_ratio"] = read_bytes / _dir_bytes(spec["inputs"])
    m["trace.coverage"] = rec.top_level_total() / result["wall_s"]

    if spec["workload"] == "analytics_sf1":
        for q in QUERY_PHASES:
            m[f"queries.{q}.build_s"] = rec.total(f"queries.{q}.build")
            m[f"queries.{q}.exec_s"] = result["queries"][q]["exec_s"]
            m[f"queries.{q}.agg_s"] = log.operator_metric(q, "HashAggregate", "time in aggregation build")
        return m

    for p in ETL_PHASES:
        m[f"driver.{p}.s"] = _phase_span_s(rec, p) - m[f"exec.{p}.job_wall_s"]
    m["rules.load_s"] = rec.total("rules")
    m["sources.open_s"] = rec.total("sources")
    m["compiler.plan_s"] = rec.plan_s
    m["compiler.build_s"] = m["driver.compile.s"] - rec.plan_s
    m["compiler.eager_jobs"] = m["exec.compile.jobs"]
    m["compiler.exchanges"] = rec.exchanges
    m["ids.s"] = rec.total("ids")
    m["ids.jobs"] = sum(1 for g, _, _ in log.jobs.values() if g.endswith("/ids"))
    m["metrics.s"] = rec.total("metrics")
    m["metrics.jobs"] = m["exec.metrics.jobs"]
    m["sinks.write_s"] = rec.total("sinks")
    m["sinks.jobs"] = m["exec.write.jobs"]
    m["sinks.bytes_written"] = _dir_bytes(spec["out_dir"])
    return m
