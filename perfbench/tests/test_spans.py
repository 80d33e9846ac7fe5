import pytest

from spans import Span, self_time, union_length


def test_union_merges_overlaps_and_clips_to_the_window():
    assert union_length([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7.0)
    assert union_length([], 0, 10) == 0.0
    assert union_length([(-5, -1), (11, 20)], 0, 10) == 0.0
    assert union_length([(2, 3), (2, 3)], 0, 10) == pytest.approx(1.0)


def test_self_time_subtracts_overlapping_children_once():
    parent = Span("exec.force", 0.0, 10.0)
    parent.children = [Span("job.1", 1.0, 4.0), Span("job.2", 3.0, 6.0), Span("job.3", 8.0, 12.0)]
    # covered: [1, 6] and [8, 10] -> 7 s; self = 3 s
    assert self_time(parent) == pytest.approx(3.0)


def test_self_time_of_nested_children_counts_only_direct_children():
    child = Span("sources.read_table", 1.0, 3.0, children=[Span("job.1", 1.5, 2.5)])
    parent = Span("catalog.build", 0.0, 5.0, children=[child])
    assert self_time(parent) == pytest.approx(3.0)
    assert self_time(child) == pytest.approx(1.0)


def test_self_time_without_children_is_the_duration():
    assert self_time(Span("catalyst.plan", 2.0, 2.5)) == pytest.approx(0.5)


def test_to_dict_carries_entry_id_and_self_time():
    span = Span("entry", 0.0, 2.0, entry_id=7, children=[Span("catalog.build", 0.0, 1.5, entry_id=7)])
    d = span.to_dict()
    assert d["entry_id"] == 7 and d["children"][0]["entry_id"] == 7
    assert d["self_s"] == pytest.approx(0.5)
