"""spans.SpanRecorder with a stand-in for the SparkContext's local properties."""

import types

import spans


class FakeContext:
    def __init__(self):
        self.props = {}
        self.seen = []

    def getLocalProperty(self, key):  # noqa: N802 - mirrors SparkContext
        return self.props.get(key)

    def setLocalProperty(self, key, value):  # noqa: N802
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def recorder():
    sc = FakeContext()
    return spans.SpanRecorder(types.SimpleNamespace(sparkContext=sc), run_id="r1"), sc


def test_phase_and_sub_groups_are_set_and_restored():
    rec, sc = recorder()
    seen = []
    with rec.span("compiler.target_records", phase="compile"):
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        with rec.span("ids.with_dense_ids", sub="ids"):
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
    assert seen == ["compile", "compile/ids", "compile"]
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_spans_record_parent_and_run_id_and_self_time():
    rec, _ = recorder()
    with rec.span("metrics.flush_metrics", phase="metrics"):
        with rec.span("ids.with_dense_ids", sub="ids"):
            pass
    outer, inner = rec.spans
    assert (outer.parent, inner.parent) == (-1, 0)
    assert {outer.run_id, inner.run_id} == {"r1"}
    assert inner.group == "metrics/ids"
    self_t = rec.self_times()
    outer_d = outer.end - outer.start
    inner_d = inner.end - inner.start
    assert abs(self_t["metrics.flush_metrics"] - (outer_d - inner_d)) < 1e-9
    assert rec.total("metrics") == outer_d
    assert rec.top_level_total() == outer_d


def test_wrap_and_restore():
    rec, sc = recorder()
    holder = types.SimpleNamespace(fn=lambda x: (x, sc.getLocalProperty("spark.jobGroup.id")))
    orig = holder.fn
    got = []
    rec.wrap(holder, "fn", "sinks.write", phase="write", after=got.append)
    assert holder.fn(3) == (3, "write")
    assert got == [(3, "write")]
    assert [s.name for s in rec.spans] == ["sinks.write"]
    rec.restore()
    assert holder.fn is orig
