import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, SpanLog, self_seconds, union_seconds  # noqa: E402


def test_union_of_overlapping_and_nested_intervals():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7), (4, 4)]) == 4.0
    assert union_seconds([(3, 4), (0, 1)]) == 2.0


def test_self_time_with_overlapping_children():
    # round 0..10; sinks on threads overlap (2..5, 4..6); a deferred sink
    # from this round outlives it (9..14); one child is disjoint
    children = [(2, 5), (4, 6), (9, 14), (7, 8)]
    assert self_seconds((0, 10), children) == 10 - (4 + 1 + 1)
    assert self_seconds((0, 10), []) == 10
    # a child entirely outside the parent covers nothing of it
    assert self_seconds((0, 10), [(11, 12)]) == 10


def test_span_round_from_tag():
    assert Span("x", 0, 1, "r12:extract-write").round == 12
    assert Span("x", 0, 1, "r3:w_seen").round == 3
    assert Span("x", 0, 1, "export").round is None
    assert Span("x", 0, 1, "").round is None


def test_spanlog_records_on_error():
    log = SpanLog()
    with pytest.raises(ValueError):
        with log.span("append:text", "r1:extract-write", job=0) as s:
            s.attrs["bytes"] = 5
            raise ValueError("boom")
    (got,) = log.named("append:text")
    assert got.end >= got.start and got.attrs == {"job": 0, "bytes": 5}
