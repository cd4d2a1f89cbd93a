import spans


def _span(i, start, end, parent=None):
    return spans.Span(i, f"s{i}", start, parent, "r", end=end)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert spans.self_time(parent, kids) == 7.0


def test_self_time_counts_overlap_once_and_clips():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0),
            _span(3, 9.0, 12.0, 0)]
    # covered: [1,5] + [9,10] = 5
    assert spans.self_time(parent, kids) == 5.0


def test_tracer_nesting_and_tail_spans():
    t = spans.Tracer("r")
    with t.span("pass") as root:
        t.begin("a", tail=True)
        t.begin("b", tail=True)      # ends the open tail sibling "a"
    a, b = (next(s for s in t.spans if s.name == n) for n in "ab")
    assert a.parent == root.id and b.parent == root.id
    assert a.end is not None and b.end is not None
    assert a.end <= b.start and b.end <= root.end
    assert set(t.self_times()) == {"pass", "a", "b"}


def test_wrap_records_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer("r")
    restore = t.wrap(Owner, "f", "f")
    assert Owner.f(1) == 2
    restore()
    assert Owner.f(2) == 3
    assert [s.name for s in t.spans] == ["f"]
