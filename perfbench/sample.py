"""One benchmark sample: a fresh driver process, shaped like a CLI run.

    python3 perfbench/sample.py <spec.json> <spawn-monotonic-time>

The spec (written by run.py) names the workload, its inputs and where to
write the result JSON. The process imports the package and starts a Spark
session the way the CLI does, runs the workload once, and reports:

- ``setup_s``: process spawn until the Spark session is ready;
- ``wall_s``: the timed work (ETL: the whole ``run_transform`` call, from
  the first call into the rules layer until the last output file is
  closed; analytics: after an untimed pass that checks every query against
  its DuckDB oracle and ``warm_passes`` more untimed passes, the median over
  ``passes`` of the four queries' build plus materialise times);
- ``cpu_s``: Python plus JVM CPU seconds spent during ``wall_s``;
- ``peak_rss_mb``: Python plus JVM resident high-water mark (VmHWM).

With ``trace`` set in the spec, the sample also enables the Spark event
log, records spans around each layer's entry points (spans.py) and adds
the per-layer metrics of layers.py to the result.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_TICKS = os.sysconf("SC_CLK_TCK")

# analytics_sf1 queries: short name -> registry name
QUERIES = {
    "q1": "q1_pricing_summary",
    "q9": "q9_product_profit",
    "q18": "q18_large_volume_customer",
    "omop": "omop_observation_events",
}


def proc_cpu_s(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS  # utime + stime


def proc_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def calib_spark_s(spark) -> float:
    """Fixed-work Spark probe (bench.py's calib_spark job on a quarter of
    its rows): median of three after one untimed run."""
    import pyspark.sql.functions as F

    def once() -> float:
        t = time.perf_counter()
        (
            spark.range(0, 2_000_000, 1, 8)
            .select((F.xxhash64("id") % 997).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.sum(F.col("k") * F.col("n")))
            .collect()
        )
        return time.perf_counter() - t

    once()
    return sorted(once() for _ in range(3))[1]


def run_etl(spark, spec: dict, rec, registry) -> dict:
    from carrot_transform_spark.pipeline import run_transform

    run_transform(
        spark,
        rules_file=spec["rules"],
        inputs=spec["inputs"],
        output_dir=spec["out_dir"],
        person_table=spec["person_table"],
    )
    return {}


def run_analytics_untimed(spark, spec: dict, registry) -> dict:
    """The warm-up pass: every query checked against its DuckDB oracle."""
    import duckdb

    from tests.oracle_compare import compare_query

    con = duckdb.connect()
    for t in spec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{spec['sf_dir']}/{t}.parquet')")
    checks = {}
    for short, name in QUERIES.items():
        qd = registry[name]
        r = compare_query(spark, con, name, qd.spark_fn, qd.oracle, spec["sf_dir"])
        checks[short] = {"ok": r.ok, "rows": r.spark_rows, "oracle_rows": r.oracle_rows,
                         "detail": r.detail[:400]}
    con.close()
    return checks


def run_analytics(spark, spec: dict, rec, registry) -> dict:
    """Build and materialise every query, ``passes`` times; ``wall_s`` is
    the median pass. A traced sample makes one pass, whose per-query times
    the layer metrics report."""
    from contextlib import nullcontext

    passes = []
    for _ in range(spec["passes"]):
        times = {}
        for short, name in QUERIES.items():
            with rec.span(f"queries.{short}", phase=short) if rec else nullcontext():
                t = time.perf_counter()
                df = registry[name].spark_fn(spark, spec["sf_dir"])
                tb = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                te = time.perf_counter()
            times[short] = {"build_s": tb - t, "exec_s": te - tb}
        passes.append(times)
    walls = [sum(q["build_s"] + q["exec_s"] for q in p.values()) for p in passes]
    return {"queries": passes[-1], "wall_s": statistics.median(walls), "pass_walls": walls}


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    t_spawn = float(sys.argv[2])
    sys.path.insert(0, spec["root"])

    import pyspark

    # the package is imported before the session starts, as the CLI does
    analytics = spec["workload"] == "analytics_sf1"
    registry = None
    if analytics:
        from carrot_transform_spark.queries import all_queries

        registry = all_queries()
    else:
        import carrot_transform_spark.pipeline  # noqa: F401
    from carrot_transform_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": spec["local_dir"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp_dir']} -XX:-UsePerfData",
    }
    if spec["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="carrot-bench", master=f"local[{spec['cores']}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup_s = time.monotonic() - t_spawn
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    pids = (os.getpid(), jvm_pid)

    result: dict = {"setup_s": setup_s, "spark_version": pyspark.__version__}
    if analytics:
        result["checks"] = run_analytics_untimed(spark, spec, registry)
        # the first timed passes after a cold start still run JIT-cold code
        # (each ~10% faster than the last), so warm up further, untimed
        run_analytics(spark, dict(spec, passes=spec["warm_passes"]), None, registry)

    rec = None
    if spec["trace"]:
        from spans import SpanRecorder, install_etl, install_queries

        rec = SpanRecorder(spark, run_id=spec["run_id"])
        if analytics:
            install_queries(rec, registry, QUERIES)
        else:
            install_etl(rec)

    cpu0 = sum(proc_cpu_s(p) for p in pids)
    t = time.perf_counter()
    result.update((run_analytics if analytics else run_etl)(spark, spec, rec, registry))
    result.setdefault("wall_s", time.perf_counter() - t)
    result["cpu_s"] = (sum(proc_cpu_s(p) for p in pids) - cpu0) / (spec["passes"] if analytics else 1)
    if rec is not None:
        rec.restore()
    result["peak_rss_mb"] = sum(proc_hwm_mb(p) for p in pids)
    if spec["calib"]:
        result["calib_spark_s"] = calib_spark_s(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    if rec is not None:
        import eventlog
        import layers

        log = eventlog.read(Path(spec["eventlog_dir"]) / app_id)
        result["layers"] = layers.layer_metrics(spec, rec, log, result)
        result["spans"] = rec.as_records()
        result["span_self_s"] = rec.self_times()
    Path(spec["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
    # the session is stopped and the result written; skip the interpreter's
    # and the JVM's orderly shutdown (the runner kills the process group)
    sys.stdout.flush()
    os._exit(0)
