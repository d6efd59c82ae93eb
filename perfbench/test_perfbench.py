"""Tests of the benchmark's own code: percentile support, spreads, ratios, span
self time, the top-k check, and seeding.  No Spark.

    python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import queries as Q  # noqa: E402
from corpus_gen import conv_rows  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from stats import (highest_supported_percentile,  # noqa: E402
                   quartile_spread, ratio)


@pytest.mark.parametrize("n,want", [
    (9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_percentile_needs_ten_samples_beyond(n, want):
    assert highest_supported_percentile(n) == want


def test_quartile_spread_is_iqr_over_median():
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9]) == pytest.approx(1.0)
    assert quartile_spread([2.0] * 10) == 0.0


def test_ratio_of_nothing_is_zero():
    assert ratio(3, 2) == 1.5
    assert ratio(3, 0) == 0.0


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent=parent)


def test_self_time_subtracts_child_coverage_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),   # overlaps span 1
        _span(3, 8.0, 12.0, parent=0),  # clipped to the parent's end
        _span(4, 1.5, 2.0, parent=1),   # grandchild: only its parent's
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own[1] == pytest.approx(2.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    tr.record("y", 0.0, 1.0)
    assert tr.spans == []


@pytest.fixture
def tiny_oracle():
    from tests.oracle import PyIndex

    rows = [
        {"conv_id": "c1", "turn_idx": 0, "text": "alpha beta"},
        {"conv_id": "c1", "turn_idx": 1, "text": "alpha beta"},
        {"conv_id": "c2", "turn_idx": 0, "text": "alpha alpha gamma"},
        {"conv_id": "c3", "turn_idx": 0, "text": "gamma delta"},
    ]
    return PyIndex(rows, key_fn=lambda r: (r["conv_id"], r["turn_idx"]),
                   fields={"text": "standard"})


def _hits(oracle, node, size):
    ranked = oracle.search(node, size=size)
    return [{"id": f"{k[0]}:{k[1]}", "score": s} for k, s in ranked]


def test_check_hits_accepts_the_oracle_top_k(tiny_oracle):
    node = Q.to_node(tiny_oracle, {"shape": "term",
                                   "q": {"field": "text", "term": "alpha"}})
    hits = _hits(tiny_oracle, node, 10)
    assert len(hits) == 3
    assert Q.check_hits(tiny_oracle, node, hits, 3, 10) is None


def test_check_hits_rejects_wrong_results(tiny_oracle):
    node = Q.to_node(tiny_oracle, {"shape": "term",
                                   "q": {"field": "text", "term": "alpha"}})
    hits = _hits(tiny_oracle, node, 10)
    assert Q.check_hits(tiny_oracle, node, hits, 4, 10)  # total
    assert Q.check_hits(tiny_oracle, node, hits[::-1], 3, 10)  # order
    bad = [dict(h) for h in hits]
    bad[0]["score"] *= 1 + 1e-6
    assert Q.check_hits(tiny_oracle, node, bad, 3, 10)  # score
    assert Q.check_hits(tiny_oracle, node, hits[:2], 3, 10)  # too few
    other = hits[:2] + [{"id": "c3:0", "score": hits[2]["score"]}]
    assert Q.check_hits(tiny_oracle, node, other, 3, 10)  # non-match


def test_check_hits_allows_any_tied_doc_at_the_cut_off(tiny_oracle):
    # c1:0 and c1:1 have the same text, so they tie for first place
    node = Q.to_node(tiny_oracle, {"shape": "term",
                                   "q": {"field": "text", "term": "alpha"}})
    hits = _hits(tiny_oracle, node, 3)
    assert [h["id"] for h in hits[:2]] == ["c1:0", "c1:1"]
    assert hits[0]["score"] == hits[1]["score"]
    assert Q.check_hits(tiny_oracle, node, [hits[1]], 3, 1) is None
    assert Q.check_hits(tiny_oracle, node, [hits[1], hits[0]], 3, 2) is None
    assert Q.check_hits(tiny_oracle, node, [hits[2]], 3, 1)


def test_seed_changes_every_row_and_is_repeatable():
    vocab = np.array([f"w{i:04d}" for i in range(50)], dtype=object)
    convs = np.arange(5, dtype=np.int64)
    a = conv_rows(1, convs, vocab)
    assert a.equals(conv_rows(1, convs, vocab))
    b = conv_rows(2, convs, vocab)
    n = min(len(a), len(b))
    assert (a["text"][:n].values != b["text"][:n].values).mean() > 0.9


def test_queries_follow_the_seed():
    from tests.oracle import PyIndex

    vocab = np.array([f"w{i:04d}" for i in range(300)], dtype=object)
    rows = conv_rows(3, np.arange(60, dtype=np.int64), vocab)
    orc = PyIndex(rows.to_dict("records"),
                  key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
                  fields={"text": "standard"})
    a = Q.make_queries(orc, 7, 16)
    assert a == Q.make_queries(orc, 7, 16)
    b = Q.make_queries(orc, 8, 16)
    assert [q["shape"] for q in a] == [q["shape"] for q in b]
    assert [q["q"] for q in a] != [q["q"] for q in b]
    assert [(q["cls"], q["shape"]) for q in a[:8]] == list(Q.PASS)
