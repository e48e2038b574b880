"""Span arithmetic and job attribution, on hand-built spans and logs."""

import pytest

import spans


def _span(sid, parent, start, end, name=None):
    return {"id": sid, "name": name or sid, "parent": parent, "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert spans.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    tree = [
        _span("root", None, 0.0, 10.0),
        _span("a", "root", 1.0, 4.0),
        _span("a1", "a", 1.5, 2.5),
        _span("b", "root", 5.0, 9.0),
        _span("b1", "b", 5.0, 9.0),
    ]
    st = spans.self_times(tree)
    assert st["root"] == pytest.approx(10 - 3 - 4)
    assert st["a"] == pytest.approx(3 - 1)
    assert st["a1"] == pytest.approx(1)
    assert st["b"] == pytest.approx(0)
    assert st["b1"] == pytest.approx(4)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10)


def test_tracer_nesting_and_wrap_restore():
    class Layer:
        @staticmethod
        def work(x):
            return x + 1

    tr = spans.Tracer()
    tr.wrap(Layer, "work", "layer.work")
    with tr.span("outer"):
        assert Layer.work(1) == 2
    tr.unwrap_all()
    assert Layer.work(1) == 2
    assert [s["name"] for s in tr.spans] == ["outer", "layer.work"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert len(tr.spans) == 2  # the restored function records nothing
    assert tr.overhead_s > 0


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("x") as rec:
        assert rec is None
    assert tr.spans == []
    assert tr.overhead_s == 0


def test_attribute_by_group_then_by_time():
    tree = [_span("s0", None, 0.0, 10.0), _span("s1", "s0", 2.0, 6.0)]
    log = {
        "jobs": {
            0: {"id": 0, "group": "s0", "start": 3.0, "end": 4.0, "stage_ids": [0], "ok": True},
            1: {"id": 1, "group": None, "start": 3.5, "end": 5.0, "stage_ids": [1], "ok": True},
            2: {"id": 2, "group": None, "start": 7.0, "end": 8.0, "stage_ids": [2], "ok": True},
        },
        "stages": {
            (0, 0): {"submitted": 3.0, "tasks": 1},
            (1, 0): {"submitted": 3.5, "tasks": 2},
            (2, 0): {"submitted": 7.0, "tasks": 1},
        },
        "tasks": [
            {"stage": 0, "attempt": 0, "launch": 3.25, "finish": 4.0, "failed": False,
             "cpu_s": 1.0, "gc_s": 0.0, "shuffle_write": 2e6, "spill": 0},
            {"stage": 1, "attempt": 0, "launch": 3.5, "finish": 4.0, "failed": False,
             "cpu_s": 0.5, "gc_s": 0.1, "shuffle_write": 0, "spill": 1e6},
            {"stage": 1, "attempt": 0, "launch": 4.0, "finish": 5.0, "failed": True,
             "cpu_s": 0.5, "gc_s": 0.0, "shuffle_write": 0, "spill": 0},
            {"stage": 2, "attempt": 0, "launch": 7.0, "finish": 8.0, "failed": False,
             "cpu_s": 0.25, "gc_s": 0.0, "shuffle_write": 0, "spill": 0},
        ],
    }
    per = spans.attribute(log, tree)
    # job 0: its group; job 1: innermost open span s1; job 2: only s0 open
    assert per["s0"]["jobs"] == 2 and per["s1"]["jobs"] == 1
    assert per["s1"]["tasks"] == 2 and per["s1"]["failed_tasks"] == 1
    assert per["s1"]["task_wait_s"] == pytest.approx(0.5)
    assert per["s1"]["spill_mb"] == pytest.approx(1.0)
    assert per["s0"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert per["s0"]["cpu_s"] == pytest.approx(1.25)
    tot = spans.rollup(per, spans.subtree(tree, "s0"))
    assert tot["jobs"] == 3 and tot["tasks"] == 4
    assert spans.covered(spans.job_intervals(log), 0, 10) == pytest.approx(3.0)
