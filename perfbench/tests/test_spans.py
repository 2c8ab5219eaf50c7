"""Self-time arithmetic over spans, including parallel sinks that overlap."""

import pytest

import spans


def test_union_merges_overlaps_and_keeps_gaps():
    assert spans.union([(2, 3), (0, 1), (0.5, 1.5)]) == [(0, 1.5), (2, 3)]
    assert spans.length([(0, 2), (1, 3), (5, 6)]) == 4


def test_parallel_sinks_count_once():
    # four sinks on four threads, all running at once: the layer was busy
    # for the union of their spans, not for the sum
    sinks = [(10.0, 11.0), (10.1, 11.3), (10.2, 10.9), (10.0, 11.2)]
    assert spans.self_time(sinks, []) == pytest.approx(1.3)


def test_children_subtract_only_where_they_overlap_the_layer():
    sinks = [(0.0, 2.0), (1.0, 3.0)]  # union 3.0
    stats = [(0.5, 1.5), (2.5, 4.0)]  # 1.0 + 0.5 inside the sinks, 0.5 outside
    assert spans.self_time(sinks, stats) == pytest.approx(1.5)


def test_tracer_records_named_spans_across_threads():
    import threading

    t = spans.Tracer()

    def work():
        with t.span("sink"):
            pass

    threads = [threading.Thread(target=work) for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    assert len(t.named("sink")) == 8
    assert all(s <= e for s, e in t.named("sink"))
