"""The A/B summary of ``tools/ab.py``: a pure function of the runs'
JSON results, tested without Spark."""

from __future__ import annotations

from tools import ab

SPEC = [
    {"name": "peak_rss_mb", "better": "lower", "bound": 0.1},
    {"name": "rate", "better": "higher", "bound": 0.25},
]


def _result(rss, rate, failed=0):
    return {"failed": failed, "metrics": {"peak_rss_mb": {"value": rss}, "rate": {"value": rate}}}


def _metric(summary, name):
    return next(m for m in summary["metrics"] if m["name"] == name)


def test_gain_rule_needs_nine_tenths_of_pairs_and_a_gap_beyond_parent_iqr():
    parent = [1500, 1510, 1520, 1505, 1515, 1490, 1525, 1500, 1510, 1520]
    change = [1280, 1270, 1290, 1285, 1275, 1280, 1290, 1270, 1600, 1280]
    s = ab.summarise([(_result(p, 1.0), _result(c, 1.0)) for p, c in zip(parent, change)], SPEC)
    rss = _metric(s, "peak_rss_mb")
    assert rss["wins"] == 9
    assert rss["parent"][1] == 1510 and rss["change"][1] == 1280
    assert rss["gain"] and rss["within_bound"]
    # every pair tied: no wins for either side, no gain
    rate = _metric(s, "rate")
    assert rate["wins"] == 0 and not rate["gain"] and rate["rel"] == 0


def test_eight_wins_of_ten_is_no_gain():
    pairs = [(_result(100, 1), _result(90 if i < 8 else 110, 1)) for i in range(10)]
    rss = _metric(ab.summarise(pairs, SPEC), "peak_rss_mb")
    assert rss["wins"] == 8 and not rss["gain"]


def test_gap_inside_parent_iqr_is_no_gain():
    parent = [100, 80, 120, 90, 110]
    pairs = [(_result(p, 1), _result(p - 5, 1)) for p in parent]
    rss = _metric(ab.summarise(pairs, SPEC), "peak_rss_mb")
    assert rss["wins"] == 5
    assert rss["parent"] == (90, 100, 110)
    assert not rss["gain"]


def test_higher_is_better_and_bound():
    pairs = [(_result(1, 10), _result(1, 12)) for _ in range(3)]
    rate = _metric(ab.summarise(pairs, SPEC), "rate")
    assert rate["wins"] == 3 and rate["gain"] and rate["within_bound"]
    worse = [(_result(1, 10), _result(1, 7)) for _ in range(3)]
    rate = _metric(ab.summarise(worse, SPEC), "rate")
    assert rate["wins"] == 0 and not rate["gain"] and not rate["within_bound"]


def test_failed_runs_and_queries_are_counted_and_lose_their_pair():
    pairs = [(_result(100, 1, failed=2), None), (_result(100, 1), _result(90, 1))]
    s = ab.summarise(pairs, SPEC)
    assert s["runs_failed"] == {"parent": 0, "change": 1}
    assert s["queries_failed"] == {"parent": 2, "change": 0}
    rss = _metric(s, "peak_rss_mb")
    assert rss["wins"] == 1 and not rss["gain"]
    lines = ab.format_summary(s)
    assert lines[0].startswith("2 pairs; runs failed: parent 0, change 1")
    assert "change won 1/2, gain rule does not hold" in lines[1]
