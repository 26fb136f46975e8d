#!/usr/bin/env python3
"""Record the output digests of the ETL workloads for a range of seeds.

    python3 perfbench/record_digests.py etl_bulk 0 32

Runs each seed's inputs through ``run_transform`` in one Spark session,
checks the row counts the generator expects, and stores every output
file's digest in digests.json, which run.py then holds each sample to.
Only record from a commit whose outputs are known to be right.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
from run import DIGESTS, check_etl  # noqa: E402


def main() -> int:
    workload, first, last = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    from carrot_transform_spark.pipeline import run_transform
    from carrot_transform_spark.session import get_spark

    spark = get_spark(app_name="carrot-bench-digests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    table = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    work = Path(tempfile.mkdtemp(prefix="digests-", dir=BENCH / ".work"))
    try:
        for seed in range(first, last):
            inputs, rules, out = work / f"in{seed}", work / f"rules{seed}.json", work / f"out{seed}"
            expected = gen.GENERATORS[workload](seed, inputs, rules)
            run_transform(spark, rules_file=rules, inputs=str(inputs), output_dir=str(out),
                          person_table="persons")
            problems, _, digests = check_etl(out, expected)
            if problems:
                print(f"seed {seed}: {problems}", file=sys.stderr)
                return 1
            table.setdefault(workload, {})[str(seed)] = digests
            DIGESTS.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
            print(f"seed {seed} recorded", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
