"""Span recording, self time and the percentile math."""

import threading

import pytest

import spans as tr


def test_percentile_and_median():
    xs = [5, 1, 4, 2, 3]
    assert tr.percentile(xs, 0) == 1
    assert tr.percentile(xs, 100) == 5
    assert tr.median(xs) == 3
    assert tr.percentile([1, 2, 3, 4], 50) == 2.5
    assert tr.percentile(range(1, 101), 95) == pytest.approx(95.05)
    with pytest.raises(ValueError):
        tr.percentile([], 50)


def test_geomean():
    assert tr.geomean([1, 100]) == pytest.approx(10)


def test_union_length():
    assert tr.union_length([]) == 0
    assert tr.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tr.union_length([(0, 10), (2, 3)]) == 10


def _span(i, parent, start, end):
    return tr.Span(i, parent, "r", f"s{i}", start, end)


def test_self_time_subtracts_children_union():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 1, 3.0, 6.0),
             _span(4, 2, 1.5, 2.0)]
    st = tr.self_times(spans)
    assert st[1] == pytest.approx(5.0)  # 10 - union(1..6)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    # self times of a tree add up to its root's duration when children nest
    assert st[1] + st[2] + st[4] + (6.0 - 4.0) == pytest.approx(10.0)


def test_tracer_records_only_under_a_root():
    t = tr.Tracer()
    with t.span("orphan"):
        pass
    assert t.spans == []
    with t.root("req-1", "root") as root:
        with t.span("child") as child:
            with t.span("grandchild"):
                pass
    names = [(s.name, s.parent, s.root) for s in t.spans]
    assert names == [("root", None, "req-1"), ("child", root.id, "req-1"),
                     ("grandchild", child.id, "req-1")]
    assert all(s.end >= s.start for s in t.spans)


def test_tracer_threads_do_not_share_roots():
    t = tr.Tracer()
    barrier = threading.Barrier(2)

    def work(rid):
        with t.root(rid, "root"):
            barrier.wait()
            with t.span("child"):
                pass

    threads = [threading.Thread(target=work, args=(f"r{i}",)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    roots = {s.id: s.root for s in t.spans if s.parent is None}
    for s in t.spans:
        if s.parent is not None:
            assert roots[s.parent] == s.root


def test_wrap_times_the_call():
    class Box:
        def f(self, x):
            return x + 1

    t = tr.Tracer()
    tr.wrap(t, Box, "f", "box.f")
    with t.root("r", "root"):
        assert Box().f(1) == 2
    assert [s.name for s in t.spans] == ["root", "box.f"]
