import pytest

from spans import Span, Tracer, outermost, self_times


def test_self_time_is_duration_minus_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),   # overlaps a: union 1..6
        Span("c", 2.0, 3.0, parent=1),
        Span("d", 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_outermost_counts_recursion_once():
    spans = [
        Span("op", 0, 10),
        Span("compile", 1, 5, parent=0),
        Span("compile", 2, 3, parent=1),
        Span("compile", 6, 7, parent=0),
    ]
    assert outermost(spans, "compile") == [1, 3]


def test_tracer_nests_and_shares_operation_id():
    t = Tracer()
    with t.operation(7, "read"):
        with t.span("x"):
            with t.span("y"):
                pass
    root, x, y = t.spans
    assert (root.parent, x.parent, y.parent) == (None, 0, 1)
    assert {s.op for s in t.spans} == {7}
    assert root.end >= x.end >= y.end


def test_span_on_another_thread_hangs_off_the_operation_root():
    import threading

    t = Tracer()
    with t.operation(1, "read"):
        th = threading.Thread(target=lambda: t.span("server").__enter__())
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    assert t.spans[1].parent == 0 and t.spans[1].op == 1
