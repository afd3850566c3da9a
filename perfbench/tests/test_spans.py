"""Self time, interval union and job attribution arithmetic."""

import pytest

from spans import Tracer, innermost, job_metrics, self_times, union_length


def span(i, start, end, parent=None, name="x", op="op2"):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start, "end": end}


def test_union_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10)


def test_self_time_subtracts_the_union_of_children():
    spans = [span(1, 0, 10), span(2, 1, 4, 1), span(3, 3, 6, 1), span(4, 2, 3, 2), span(5, 8, 12, 1)]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 5 - 2)  # children cover [1,6) and [8,10)
    assert own[2] == pytest.approx(3 - 1)
    assert own[4] == pytest.approx(1)
    assert own[5] == pytest.approx(4)


def test_self_times_of_a_nested_trace_add_up_to_its_root():
    spans = [span(1, 0, 10), span(2, 1, 4, 1), span(3, 2, 3, 2), span(4, 5, 9, 1)]
    assert sum(self_times(spans).values()) == pytest.approx(10)


def test_job_goes_to_the_innermost_open_span():
    spans = [span(1, 0, 10, name="a"), span(2, 2, 5, 1, name="b"), span(3, 6, 7, None, name="c")]
    got = [s and s["name"] for s in innermost(spans, [1, 3, 5.5, 6.5, 11])]
    assert got == ["a", "b", "a", "c", None]


def test_job_metrics_union_not_sum():
    task = {"dur": 1.0, "failed": False, "run": 1.0, "cpu": 0.5, "gc": 0.0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "in_bytes": 0, "out_bytes": 0}
    stages = [{"start": 0, "end": 2, "tasks": [task, task | {"dur": 3.0}, task]}]
    jobs = [{"submit": 0, "end": 2, "stages": stages, "skipped": 1},
            {"submit": 1, "end": 3, "stages": [], "skipped": 0}]
    m = job_metrics(jobs, wall=5)
    assert m["jobs.union_s"] == pytest.approx(3)
    assert m["jobs.driver_only_s"] == pytest.approx(2)
    assert m["jobs.task_skew"] == pytest.approx(3)
    assert m["jobs.skipped_stage_ratio"] == pytest.approx(0.5)


def test_tracer_nests_spans_and_tags_the_operation():
    t = Tracer()
    t.op = "op2"
    with t.span("outer"):
        f = t.wrap(lambda: 1, "inner")
        assert f() == 1
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == "op2"
