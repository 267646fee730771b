import math

from loadbench.spans import Span, Tracer, covered, reduce_by_name, self_times


def _tree():
    # root [0, 10]
    #   a [1, 4]          nested child b [2, 3] inside a
    #   c [3, 6]          overlaps a on [3, 4]
    #   d [5, 12]         runs past the root's end
    return [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 2.0, 3.0, 1, 1),
        Span("c", 3.0, 6.0, 0, 1),
        Span("d", 5.0, 12.0, 0, 1),
    ]


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (5, 12)], 0, 10) == 9
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_times_nested_and_overlapping():
    st = self_times(_tree())
    # root: 10 minus the union [1, 10] of its children
    assert st == [1.0, 2.0, 1.0, 3.0, 7.0]


def test_self_times_of_a_tree_sum_to_root_duration_when_children_stay_inside():
    spans = [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 2.0, 3.0, 1, 1),
        Span("c", 5.0, 9.0, 0, 1),
    ]
    assert math.isclose(sum(self_times(spans)), 10.0)


def test_reduce_by_name_groups_repeated_spans():
    spans = _tree() + [Span("a", 20.0, 21.5, None, 2)]
    red = reduce_by_name(spans)
    assert red["a"] == {"count": 2, "total_s": 4.5, "self_s": 3.5}
    assert red["root"]["self_s"] == 1.0


def test_tracer_records_parents_and_is_inert_when_disabled(tmp_path):
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    tr.write(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 2

    off = Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == [] and off.bookkeeping_s == 0.0
