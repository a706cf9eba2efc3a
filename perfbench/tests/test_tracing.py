import pytest

from run import tail
from tracing import Span, Tracer, parse_metric, self_time


@pytest.mark.parametrize("text, want", [
    ("1.3 s", 1.3),
    ("624 ms", 0.624),
    ("29.7 KiB", 29.7 * 1024),
    ("Some(60)", 60.0),
    ("Some(1,679)", 1679.0),
    ("Some(136.4 KiB)", 136.4 * 1024),
    ("Some(2.0 MiB)", 2.0 * 2**20),
    ("59.0 B", 59.0),
    ("1.5 m", 90.0),
    ("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 3.0: task 5))", 2.0),
    ("Some(total (min, med, max (stageId: taskId))\n12.5 KiB (1.0 KiB, 4.0 KiB, 7.5 KiB (stage 1.0: task 2)))",
     12.5 * 1024),
])
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [None, "None", "", "n/a"])
def test_parse_metric_missing(text):
    assert parse_metric(text) is None


def span(start, end, parent=None):
    return Span("r", 0, parent, "x", start, end)


def test_self_time_subtracts_union_of_children():
    parent = span(0.0, 10.0)
    kids = [span(1.0, 3.0), span(2.0, 5.0), span(8.0, 12.0)]  # overlap, and one past the end
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_self_time_without_children_is_duration():
    assert self_time(span(2.0, 4.5), []) == pytest.approx(2.5)


def test_self_time_ignores_children_outside():
    assert self_time(span(5.0, 6.0), [span(0.0, 1.0), span(7.0, 9.0)]) == pytest.approx(1.0)


def test_tracer_records_parent_and_self_time():
    t = Tracer("run1")
    unit = t.start("unit")
    op = t.start("op", unit)
    t.end(op)
    t.end(unit)
    recs = t.records()
    assert [r["parent"] for r in recs] == [None, unit.span_id]
    assert all(r["run_id"] == "run1" for r in recs)
    assert recs[0]["self_s"] == pytest.approx(unit.duration - op.duration)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(30)]
    assert tail(xs) == (19.0, pytest.approx(100 * 20 / 30), 10)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
