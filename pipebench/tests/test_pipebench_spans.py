"""Span self-time arithmetic and job-group handling, without Spark."""

import threading
from concurrent.futures import ThreadPoolExecutor

import spans as sp


class FakeSC:
    """Per-thread local properties, as a SparkContext keeps them."""

    def __init__(self):
        self._local = threading.local()

    def _props(self):
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value


def span(sid, parent, start, end, layer="io"):
    return sp.Span(sid, layer, f"s{sid}", parent, start, end)


def test_union_length_merges_overlaps():
    assert sp.union_length([]) == 0
    assert sp.union_length([(0, 1), (2, 3)]) == 2
    assert sp.union_length([(0, 4), (1, 2), (3, 6)]) == 6


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span(1, None, 0.0, 10.0, "op"),
        span(2, 1, 1.0, 4.0),   # parallel children overlap on [3, 4]
        span(3, 1, 3.0, 6.0),
        span(4, 2, 2.0, 3.0),
        span(5, 1, 9.5, 11.0),  # runs past the parent: clipped
    ]
    got = sp.self_times(spans)
    assert got[1] == 10.0 - 5.0 - 0.5
    assert got[2] == 2.0
    assert got[3] == 3.0
    assert got[4] == 1.0
    assert got[5] == 1.5


def test_layer_idle_counts_idle_worker_seconds():
    nodes = [
        sp.Span(1, "plans", "node:a", None, 0.0, 4.0),
        sp.Span(2, "plans", "node:b", None, 0.0, 1.0),
        sp.Span(3, "plans", "node:c", None, 4.0, 5.0),
    ]
    # layer 1: two workers for 4 s, 5 s busy -> 3 s idle; layer 2 serial
    assert sp.layer_idle(nodes, [["a", "b"], ["c"]], max_workers=4) == 3.0


def test_nested_spans_set_and_restore_the_job_group():
    sc = FakeSC()
    t = sp.Tracer(sc)
    sc.setLocalProperty(sp.GROUP_KEY, "caller")
    with t.op(0) as root:
        assert sc.getLocalProperty(sp.GROUP_KEY) == root.group
        with t.span("io", "outer") as outer:
            assert sc.getLocalProperty(sp.GROUP_KEY) == outer.group
            with t.span("patterns", "inner") as inner:
                assert sc.getLocalProperty(sp.GROUP_KEY) == inner.group
                assert inner.parent == outer.sid
            assert sc.getLocalProperty(sp.GROUP_KEY) == outer.group
        assert sc.getLocalProperty(sp.GROUP_KEY) == root.group
    assert sc.getLocalProperty(sp.GROUP_KEY) == "caller"


def test_spans_restore_the_group_after_an_exception():
    sc = FakeSC()
    t = sp.Tracer(sc)
    try:
        with t.span("io", "boom"):
            raise RuntimeError
    except RuntimeError:
        pass
    assert sc.getLocalProperty(sp.GROUP_KEY) is None


def test_threaded_spans_parent_on_the_op_and_leave_threads_clean():
    sc = FakeSC()
    t = sp.Tracer(sc)
    seen = {}

    def work(k):
        with t.span("plans", f"node{k}") as s:
            seen[k] = sc.getLocalProperty(sp.GROUP_KEY) == s.group
        return sc.getLocalProperty(sp.GROUP_KEY)

    with t.op(0) as root:
        with ThreadPoolExecutor(max_workers=4) as pool:
            after = list(pool.map(work, range(16)))
    assert all(seen.values()) and len(seen) == 16
    assert after == [None] * 16  # reused pool threads carry no stale group
    kids = [s for s in t.spans if s.layer == "plans"]
    assert {s.parent for s in kids} == {root.sid}
    assert len({s.sid for s in t.spans}) == len(t.spans)


def test_wrap_records_spans_and_unwrap_restores():
    class Target:
        def work(self, x):
            return x * 2

    sc = FakeSC()
    t = sp.Tracer(sc)
    orig = Target.work
    t.wrap(Target, "work", "operators", lambda a, k: f"work:{a[1]}")
    with t.op(0):
        assert Target().work(21) == 42
    assert [s.name for s in t.spans if s.layer == "operators"] == ["work:21"]
    t.unwrap_all()
    assert Target.work is orig
