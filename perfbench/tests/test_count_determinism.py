"""Two traced runs at one seed report identical counts.

Job, stage and exchange counts and the bytes the sink writes are counts
the program makes, so a later change may claim them only if they repeat
exactly. Each case starts two full traced benchmark runs (a few minutes in
all on 4 cores):

    python3 -m pytest perfbench/tests/test_count_determinism.py
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parent.parent / "run.py"


def counts(workload: str, seed: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, check=True, timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    return {
        name: m["value"] for name, m in result["metrics"].items()
        if name.endswith(("jobs", ".stages")) or name in ("compiler.exchanges", "sinks.bytes_written")
    }


@pytest.mark.parametrize("workload", ["etl_bulk", "etl_wide"])
def test_traced_counts_repeat(workload):
    first = counts(workload, seed=5)
    assert first["sinks.jobs"] > 0 and first["compiler.exchanges"] > 0
    assert counts(workload, seed=5) == first
