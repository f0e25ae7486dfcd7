"""bench.py's compact stdout line: pinned headline names are never
evicted, only the slowest-first fill is trimmed."""

from __future__ import annotations

import json

from bench import compact_line

HEAD = {"metric": "total_query_wall_seconds", "value": 1.0, "unit": "sec"}


def _timings(n):
    return {f"query_name_{i:03d}": 1.0 + i / 7.0 for i in range(n)}


def test_pinned_first_then_slowest_fill_within_budget():
    t = _timings(60)
    pinned = ["query_name_000", "query_name_001", "not_a_query"]
    line = compact_line(HEAD, t, pinned, budget=400)
    names = list(line["queries"])
    assert names[:2] == pinned[:2]
    assert "not_a_query" not in names
    # the fill is slowest-first and stops at the budget
    assert names[2:] == sorted(t, key=lambda n: -t[n])[:len(names) - 2]
    assert len(names) > 2
    assert len(json.dumps(line)) <= 400
    assert line["queries"]["query_name_001"] == round(t["query_name_001"], 3)


def test_pinned_overflow_shortens_precision_not_names():
    t = _timings(60)
    pinned = sorted(t)[:8]
    full = len(json.dumps(dict(HEAD, queries={n: round(t[n], 3)
                                              for n in pinned})))
    line = compact_line(HEAD, t, pinned, budget=full - 10)
    assert list(line["queries"]) == pinned          # no fill, no eviction
    assert len(json.dumps(line)) <= full - 10
    assert all(len(repr(v).split(".")[1]) <= 2
               for v in line["queries"].values())


def test_pinned_kept_even_when_they_cannot_fit():
    t = _timings(10)
    line = compact_line(HEAD, t, sorted(t), budget=50)
    assert sorted(line["queries"]) == sorted(t)
    assert line["metric"] == HEAD["metric"]
