"""Self time is a span's duration minus the part its children cover."""

import pytest

from spans import CallCounter, Span, prefix_self_times, self_times, union_length


def _span(i, parent, start, end):
    return Span(span_id=i, name=f"s{i}", trace_id=1, parent=parent, start=start, end=end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert union_length([(5, 6), (0, 10)]) == 10.0


def test_self_times_on_a_span_tree():
    #  0 [0, 10]
    #  ├── 1 [1, 4]
    #  │   └── 3 [2, 3]
    #  ├── 2 [3, 6]       overlaps 1 by one second
    #  └── 4 [9, 12]      runs past its parent: clipped to [9, 10]
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),
        _span(3, 1, 2.0, 3.0),
        _span(4, 0, 9.0, 12.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))  # children cover [1, 6] and [9, 10]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)
    # Self times of a tree without overlaps add up to the root's duration.
    tree = [_span(0, None, 0, 8), _span(1, 0, 0, 3), _span(2, 0, 3, 8), _span(3, 2, 4, 5)]
    assert sum(self_times(tree).values()) == pytest.approx(8)


def test_call_counter_counts_calls_hits_and_restores():
    class Plan:
        pass

    class Owner:
        cache = {}

        @staticmethod
        def read(key):
            return Owner.cache.setdefault(key, Plan())

    with CallCounter(Owner, "read", track_hits=True) as counter:
        Owner.read("a")
        Owner.read("a")
        Owner.read("b")
        Owner.read(Plan())  # a fresh key every call: never a hit
    assert (counter.calls, counter.hits) == (4, 1)
    Owner.read("c")
    assert counter.calls == 4  # restored on exit


def test_call_counter_keeps_no_returned_object_alive():
    import gc
    import weakref

    class Plan:
        pass

    class Owner:
        @staticmethod
        def make():
            return Plan()

    with CallCounter(Owner, "make", track_hits=True) as counter:
        ref = weakref.ref(Owner.make())
        gc.collect()
        assert ref() is None
        Owner.make()  # may reuse the dead object's id: still not a hit
    assert (counter.calls, counter.hits) == (2, 0)


def test_prefix_self_times_take_each_prefix_minimum():
    passes = [
        {"scan": 1.0, "filter": 1.5, "merge": 2.5},
        {"scan": 1.2, "filter": 1.4, "merge": 2.9},  # a loaded pass
        {"scan": 1.1, "filter": 1.6, "merge": 2.6},
    ]
    own, problems = prefix_self_times(passes, ["scan", "filter", "merge"])
    assert own == pytest.approx({"scan": 1.0, "filter": 0.4, "merge": 1.1})
    assert problems == []
    # Self times of the layers add up to the last prefix.
    assert sum(own.values()) == pytest.approx(2.5)


def test_prefix_self_times_flag_prefixes_that_do_not_nest():
    # "filter" is cheaper than "scan" by far more than the passes vary.
    passes = [{"scan": 2.0, "filter": 1.0}, {"scan": 2.1, "filter": 1.1}]
    own, problems = prefix_self_times(passes, ["scan", "filter"])
    assert own["filter"] == pytest.approx(-1.0)
    assert len(problems) == 1 and problems[0].startswith("filter")
    # A negative self time within the pass-to-pass range is noise.
    passes = [{"scan": 1.0, "filter": 0.95}, {"scan": 1.3, "filter": 1.2}]
    own, problems = prefix_self_times(passes, ["scan", "filter"])
    assert own["filter"] == pytest.approx(-0.05)
    assert problems == []
