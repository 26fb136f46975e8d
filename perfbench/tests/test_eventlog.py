"""eventlog.py on a log recorded from a tiny job (fixtures/tiny_job.eventlog).

The job ran on local[2] with AQE on and 4 shuffle partitions:

- group ``tiny``: ``range(0, 1000, 1, 2).groupBy(id % 3).count().collect()``;
- group ``tiny/sub``: a 200-row CSV read with header, then ``count()``;
- no group: ``range(10).collect()``.

The fixture keeps only the events and fields the reader uses.
"""

from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "tiny_job.eventlog"


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FIXTURE)


def test_jobs_group_by_job_group_prefix(log):
    assert log.phase("tiny")["jobs"] == 5  # its own 2 plus the 3 of tiny/sub
    assert log.phase("tiny/sub")["jobs"] == 3
    assert log.phase("")["jobs"] == 6  # the empty prefix takes every job
    assert log.phase("ti")["jobs"] == 0  # a prefix matches whole path parts only


def test_stages_tasks_and_shuffle(log):
    tiny = log.phase("tiny")
    assert (tiny["stages"], tiny["tasks"]) == (5, 6)
    assert tiny["shuffle_write_bytes"] == tiny["shuffle_read_bytes"] > 0
    assert tiny["spill_bytes"] == 0
    assert 0 < tiny["executor_cpu_s"] <= tiny["executor_run_s"]
    assert tiny["job_wall_s"] <= sum(e - s for g, s, e in log.jobs.values() if g.startswith("tiny")) / 1e3


def test_input_totals(log):
    # the CSV count reads its 200 rows plus the header line read at inference
    assert log.input_totals("tiny/sub") == (2188, 201)


def test_sql_metrics_join_plan_ids_to_task_updates(log):
    # groupBy over 2 partitions x 3 keys: 6 partial rows + 3 final rows;
    # the CSV count: 1 partial + 1 final
    assert log.operator_metric("tiny", "HashAggregate", "number of output rows") == 11
    assert log.operator_metric("tiny/sub", "HashAggregate", "number of output rows") == 2
    # header inference scans one line as text, the count scans 200 CSV rows
    assert log.operator_metric("tiny/sub", "Scan text", "number of output rows") == 1
    assert log.operator_metric("tiny/sub", "Scan csv", "number of output rows") == 200
    build = log.operator_metric("tiny", "HashAggregate", "time in aggregation build")
    assert build >= 0.0


def test_union_seconds_merges_overlaps():
    assert eventlog.union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog.union_seconds([(0, 1000), (100, 200)]) == 1.0
    assert eventlog.union_seconds([]) == 0.0
