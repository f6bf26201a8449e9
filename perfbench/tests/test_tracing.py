"""Span bookkeeping and the self-time arithmetic."""

import threading

import pytest

from perfbench.tracing import Span, Tracer, covered, self_time


def _span(i, start, end, parent=None):
    return Span(i, "x", None, start, end, parent, None, "main")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(1, 2), (1, 2)], 0, 10) == pytest.approx(1)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_direct_children():
    parent = _span(1, 0.0, 10.0)
    spans = [
        parent,
        _span(2, 1.0, 4.0, parent=1),   # two overlapping children (two threads)
        _span(3, 3.0, 6.0, parent=1),
        _span(4, 2.0, 9.0, parent=2),   # grandchild: not subtracted from parent
        _span(5, 8.0, 9.0, parent=None),
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 5.0)
    # the grandchild is clipped to its parent [1, 4]: 2 of 3 s covered
    assert self_time(spans[1], spans) == pytest.approx(1.0)


def test_self_time_of_a_leaf_is_its_duration():
    leaf = _span(1, 2.0, 2.5)
    assert self_time(leaf, [leaf]) == pytest.approx(0.5)


def test_spans_nest_per_thread_and_pool_threads_attach_to_the_round():
    tr = Tracer()
    with tr.round(3) as rid:
        with tr.span("outer") as oid:
            with tr.span("inner"):
                pass

        def pool_job():
            with tr.span("pooled"):
                pass

        th = threading.Thread(target=pool_job)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == oid
    assert by_name["outer"].parent == rid
    assert by_name["pooled"].parent == rid
    assert {s.round for s in tr.spans} == {3}
    assert by_name["crawl_loop.run_iteration"].parent is None
    r = by_name["crawl_loop.run_iteration"]
    assert all(r.start <= s.start <= s.end <= r.end for s in tr.spans)
