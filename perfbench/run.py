#!/usr/bin/env python3
"""End-to-end benchmark of the carrot-transform-spark ETL and analytics.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 30 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``etl_bulk``: a person file plus one large events file under two mapped
  fields;
- ``etl_wide``: many small files with a dozen mapped fields each, spread over
  three OMOP tables;
- ``analytics_sf1``: q1, q9, q18 and omop_observation_events over a fixed
  star-schema input, each fully materialised with the ``noop`` writer.

The loop is closed: one client starts a fresh driver process
(sample.py), waits for it, and starts the next until ``--seconds`` have
passed (at least one sample). Each sample is a CLI-shaped run on
``local[nproc]``. Each sample's ``setup_s`` is its own driver start;
every metric is the median over the run's samples.

With ``--trace 0`` the result holds the end-to-end metrics. With
``--trace 1`` samples alternate untraced and traced; the result holds the
per-layer metrics of the traced samples (layers.py) and the tracing
overhead, traced minus untraced ``wall_s``.

Every sample's outputs are checked: ETL row counts against the counts the
generator derives from its inputs, the summary's per-table output counts
against the written rows, and an order-insensitive digest of every output
file against the other samples and against the digest recorded for the
(workload, seed) in digests.json; analytics results against each query's
DuckDB oracle. A sample that fails a check counts in ``failed``, and its
figures stay out of the medians.

Readable lines go first; the last line of standard output is the JSON
result. Host context (core count, a fixed-work Spark probe, load averages,
Spark version, source digest) is printed beside the metrics, not as one.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
from layers import PER_LAYER  # noqa: E402

WORKLOADS = ("etl_bulk", "etl_wide", "analytics_sf1")
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("records_per_s", "1/s"),
    ("cpu_s", "s"),
)
# timed passes per analytics sample (a traced sample makes one), after
# WARM_PASSES untimed ones
PASSES = 3
WARM_PASSES = 2
# a run ends within this many seconds of its start, whatever its samples do
RUN_DEADLINE_S = 170
# the analytics input is rebuilt whenever its generator changes
ANALYTICS_DATA = BENCH / ".data" / (
    "analytics-" + hashlib.sha256((BENCH / "gen.py").read_bytes()).hexdigest()[:12])
DIGESTS = BENCH / "digests.json"
# OMOP tables are the records; person_ids and the summary are bookkeeping
_NOT_RECORDS = ("person_ids", "summary_mapstream")


def file_digest(path: Path) -> str:
    """Order-insensitive digest: line count plus the sum of per-line hashes."""
    total = 0
    n = 0
    with path.open("rb") as fh:
        for line in fh:
            total += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "big")
            n += 1
    return f"{n}:{total % (1 << 64):016x}"


def _data_rows(path: Path) -> int:
    with path.open("rb") as fh:
        return sum(1 for _ in fh) - 1


def check_etl(out: Path, expected: dict[str, int]) -> tuple[list[str], int, dict[str, str]]:
    """(problems, OMOP records written, digest per output file)."""
    problems = []
    rows = {p.stem: _data_rows(p) for p in sorted(out.glob("*.tsv"))}
    for table, n in expected.items():
        if rows.get(table) != n:
            problems.append(f"{table}: {rows.get(table)} rows, expected {n}")
    summary = out / "summary_mapstream.tsv"
    if summary.exists():
        for line in summary.read_text(encoding="utf-8").splitlines()[1:]:
            c = line.split("\t")
            if c[1:3] == ["all", "all"] and c[4] == "all" and c[3] in rows:
                if int(c[10]) != rows[c[3]]:
                    problems.append(f"summary says {c[10]} {c[3]} rows, file has {rows[c[3]]}")
    else:
        problems.append("summary_mapstream.tsv missing")
    records = sum(n for t, n in rows.items() if t not in _NOT_RECORDS)
    return problems, records, {p.name: file_digest(p) for p in sorted(out.glob("*.tsv"))}


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "carrot_transform_spark").rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None  # a plain source tree
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return out.stdout.strip() or None


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of a sample's process group (its JVM, once the
    driver has exited) and wait until the group is gone."""
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_sample(spec: dict, work: Path, i: int, timeout_s: float) -> dict | None:
    spec_path = work / f"spec{i}.json"
    spec_path.write_text(json.dumps(spec))
    log_path = work / f"sample{i}.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=spec["local_dir"], TMPDIR=spec["tmp_dir"])
    with log_path.open("w") as log:
        t = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(BENCH / "sample.py"), str(spec_path), repr(t)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            code = proc.wait()
        finally:
            # the driver stops its session before it exits, so what is left
            # of the JVM has no work to finish
            _stop_group(proc.pid)
        elapsed = time.monotonic() - t
    result = Path(spec["result"])
    if code != 0 or not result.exists():
        tail = log_path.read_text(errors="replace").splitlines()[-15:]
        print(f"sample {i} failed (exit {code}):\n  " + "\n  ".join(tail), file=sys.stderr)
        return None
    out = json.loads(result.read_text())
    out["process_s"] = elapsed
    return out


def ensure_analytics_data() -> Path:
    if not (ANALYTICS_DATA / "_SUCCESS").exists():
        for old in ANALYTICS_DATA.parent.glob("analytics-*"):
            shutil.rmtree(old)
        tmp = ANALYTICS_DATA.with_name(ANALYTICS_DATA.name + ".tmp")
        gen.gen_analytics(tmp)
        (tmp / "_SUCCESS").write_text("")
        tmp.rename(ANALYTICS_DATA)
    return ANALYTICS_DATA


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "carrot_transform_spark" / "pipeline.py").is_file():
        print(f"carrot_transform_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_DEADLINE_S
    load_start = (os.getloadavg(), steal_s())
    cores = len(os.sched_getaffinity(0))
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return bench(args, work, cores, load_start, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: Path, cores: int, load_start, deadline: float) -> int:
    analytics = args.workload == "analytics_sf1"
    expected: dict[str, int] = {}
    base = {
        "workload": args.workload, "root": str(ROOT), "cores": cores,
        "local_dir": str(work / "local"), "tmp_dir": str(work / "tmp"),
        "warm_passes": WARM_PASSES,
    }
    (work / "local").mkdir()
    (work / "tmp").mkdir()
    if analytics:
        sf_dir = str(ensure_analytics_data())
        base.update(sf_dir=sf_dir, inputs=sf_dir, tables=list(gen.AN_TABLES))
    else:
        inputs, rules = work / "inputs", work / "rules.json"
        expected = gen.GENERATORS[args.workload](args.seed, inputs, rules)
        base.update(inputs=str(inputs), rules=str(rules), person_table="persons")

    recorded = json.loads(DIGESTS.read_text()).get(args.workload, {}).get(str(args.seed)) \
        if DIGESTS.exists() else None
    samples: list[dict] = []
    child_s: list[float] = []
    digests: list[dict[str, str]] = []
    failed = 0
    attempted = 0

    def child(traced: bool) -> None:
        nonlocal attempted, failed
        i = attempted
        attempted += 1
        spec = dict(base, trace=traced, calib=not samples,
                    passes=1 if traced else PASSES, run_id=f"{args.workload}-{args.seed}-{i}",
                    result=str(work / f"result{i}.json"), eventlog_dir=str(work / f"events{i}"),
                    out_dir=str(work / f"out{i}"))
        if traced:
            Path(spec["eventlog_dir"]).mkdir()
        res = run_sample(spec, work, i, timeout_s=max(1.0, deadline - time.monotonic()))
        if res is None:
            failed += 1
            return
        child_s.append(res["process_s"])
        if analytics:
            problems = [f"{q}: {c['detail'] or 'oracle mismatch'}"
                        for q, c in res["checks"].items() if not c["ok"]]
            res["records"] = sum(c["rows"] for c in res["checks"].values())
        else:
            problems, res["records"], dg = check_etl(Path(spec["out_dir"]), expected)
            if digests and dg != digests[0]:
                problems.append("output digest differs from the run's first sample")
            if recorded is not None and dg != recorded:
                problems.append("output digest differs from the digest recorded for this seed")
            digests.append(dg)
            shutil.rmtree(spec["out_dir"], ignore_errors=True)
        res["traced"] = traced
        res["ok"] = not problems
        if problems:
            failed += 1
            print(f"sample {i} output check failed:\n  " + "\n  ".join(problems), file=sys.stderr)
        samples.append(res)

    t_start = time.monotonic()
    n = 0
    while (n < (2 if args.trace else 1) or time.monotonic() - t_start < args.seconds) \
            and time.monotonic() < deadline:
        # traced runs alternate untraced and traced samples
        child(traced=bool(args.trace) and n % 2 == 1)
        n += 1

    if not samples:
        print("no sample completed", file=sys.stderr)
        return 1

    # figures come only from samples that passed every check; when none did,
    # from all of them, and the result says it is not correct
    measured = [s for s in samples if s["ok"]] or samples
    plain = [s for s in measured if not s["traced"]]
    traced = [s for s in measured if s["traced"]]
    metrics: dict[str, dict] = {}
    if args.trace:
        for name, unit, _ in PER_LAYER:
            vals = [s["layers"][name] for s in traced if "layers" in s]
            metrics[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
        if plain and traced:
            metrics["trace.overhead_s"]["value"] = (
                statistics.median([s["wall_s"] for s in traced])
                - statistics.median([s["wall_s"] for s in plain]))
        # the spans stay in memory until the run ends; keep the last traced
        # run's spans per (workload, seed) beside the working directories
        if traced:
            (work.parent / f"spans-{args.workload}-{args.seed}.json").write_text(
                json.dumps([s["spans"] for s in traced]))
    else:
        for name, unit in END_TO_END:
            if name == "records_per_s":
                vals = [s["records"] / s["wall_s"] for s in plain]
            else:
                vals = [s[name] for s in plain]
            metrics[name] = {"value": statistics.median(vals), "unit": unit}

    calib = next((s["calib_spark_s"] for s in samples if "calib_spark_s" in s), None)
    context = {
        "nproc": cores,
        "calib_spark_s": calib,
        "load_start": load_start[0],
        "load_end": os.getloadavg(),
        "steal_s": steal_s() - load_start[1],
        "spark_version": samples[0]["spark_version"],
        "commit": git_commit(),
        "source_digest": source_digest(),
        "samples": len(samples),
        # too noisy run to run to gate on (JVM heap growth); shown for reading
        "peak_rss_mb": [round(s["peak_rss_mb"], 1) for s in samples],
        "digest_recorded": recorded is not None if not analytics else None,
    }
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {attempted} driver runs "
          f"({len(samples)} samples), {failed} failed; wall_s per sample: "
          + ", ".join(f"{s['wall_s']:.3f}" for s in samples)
          + "; driver process seconds: " + ", ".join(f"{t:.1f}" for t in child_s)
          + "".join(f"; pass walls: {', '.join(f'{w:.3f}' for w in s['pass_walls'])}"
                    for s in samples if "pass_walls" in s))
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:16.4f} {m['unit']}")
    if traced:
        print("span self time, s (first traced sample): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(traced[0]["span_self_s"].items())))
    print("context " + json.dumps(context))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
