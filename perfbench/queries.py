"""Seeded query mix, its translation to the reference oracle, and the
top-k check.

Queries are picked from the generated corpus through the oracle's own
postings (``tests/oracle.py`` ``PyIndex``), never from the engine:

* ``tail``: term, match (OR), phrase and query string (must / should /
  must_not) over low-df terms (``marker_*`` and the rarest ``wNNNN``);
  results are a handful of docs, so planning and job scheduling dominate.
* ``head``: match (AND) over the highest-df terms, ``prefix`` and
  ``fuzzy`` queries that expand to a hundred or more terms, and a
  block-max WAND top-k over high-df terms; chunk decode, scoring and
  top-k dominate.

Each query is a dict ``{"cls", "shape", "q"}`` where ``q`` is the
engine's query dict, or for the ``blockmax`` shape the list of terms
handed to ``pruned_disjunction_topk``.
"""

from __future__ import annotations

import math
import random
import re

import numpy as np

from bleve_spark.analysis.analyzers import get_analyzer

from tests import oracle as O

FIELD = "text"
ANALYZER = "standard"
REL_TOL = 1e-9
# terms safe to place in a query string unquoted
_PLAIN = re.compile(r"^[a-z][a-z0-9_]*$")

# One pass of the closed loop: (class, shape) in a fixed order, so every
# seed runs the same mix and only the terms change.  The query string
# shape is a boolean must / should / must_not.
PASS = (("tail", "term"), ("head", "match_and"),
        ("tail", "match_or"), ("head", "prefix"),
        ("tail", "phrase"), ("head", "fuzzy"),
        ("tail", "query_string"), ("head", "blockmax"))


def row_index(oracle) -> dict:
    """Doc key -> position in ``oracle.rows``."""
    return {k: i for i, k in enumerate(oracle.keys)}


def make_queries(oracle, seed: int, n: int) -> list[dict]:
    """``n`` queries cycling through :data:`PASS`, terms drawn from the
    seed."""
    rng = random.Random(seed)
    post = oracle.postings[FIELD]
    row_of = row_index(oracle)
    an = get_analyzer(ANALYZER)
    plain = [t for t in post if _PLAIN.match(t)]
    by_df = sorted(plain, key=lambda t: (len(post[t]), t))
    markers = [t for t in by_df if t.startswith("marker_")]
    rare = [t for t in by_df if t.startswith("w")][:30]
    head = [t for t in by_df if not t.startswith("marker_")][-20:]
    wterms = sorted(t for t in plain if re.match(r"^w\d{4}$", t))

    def phrase_ending_in_marker() -> str:
        """'<term> <marker>' as it occurs in some document."""
        for m in rng.sample(markers, len(markers)):
            key = rng.choice(sorted(post[m]))
            pairs = an.analyze_terms(oracle.rows[row_of[key]][FIELD])
            by_pos = {p: t for t, p in pairs}
            prev = [by_pos[p - 1] for t, p in pairs
                    if t == m and _PLAIN.match(by_pos.get(p - 1, ""))]
            if prev:
                return f"{rng.choice(prev)} {m}"
        raise ValueError("no marker follows a plain term")

    def make(shape: str):
        if shape == "term":
            return {"field": FIELD, "term": rng.choice(markers)}
        if shape == "match_or":
            return {"field": FIELD, "match": " ".join(rng.sample(markers, 2))}
        if shape == "phrase":
            return {"field": FIELD, "match_phrase": phrase_ending_in_marker()}
        if shape == "query_string":
            a, b = rng.sample(markers, 2)
            return {"query": f"+{FIELD}:{a} {FIELD}:{b}^2 "
                             f"-{FIELD}:{rng.choice(rare)}"}
        if shape == "match_and":
            return {"field": FIELD, "match": " ".join(rng.sample(head, 2)),
                    "operator": "and"}
        if shape == "prefix":
            return {"field": FIELD, "prefix": rng.choice(wterms)[:3]}
        if shape == "fuzzy":
            return {"field": FIELD, "term": rng.choice(wterms),
                    "fuzziness": 2}
        if shape == "blockmax":
            return rng.sample(head, 4)
        raise ValueError(shape)

    out = []
    for i in range(n):
        cls, shape = PASS[i % len(PASS)]
        out.append({"cls": cls, "shape": shape, "q": make(shape)})
    return out


# ---------------------------------------------------------------- oracle --

def _terms_node(terms, min_=0):
    return O.disj([O.term(FIELD, t) for t in terms], min=min_)


def to_node(oracle, query: dict) -> dict:
    """The oracle node equivalent to one generated query (the same
    translations ``tests/test_engine.py`` pins against the engine)."""
    q = query["q"]
    if query["shape"] == "blockmax":
        return _terms_node(q, min_=1)
    if "query" in q:
        must, should, must_not = _parse_query_string(q["query"])
        return {"type": "bool",
                "must": O.conj([O.disj([O.term(FIELD, must)], min=1)]),
                "should": O.disj([O.disj(
                    [O.term(FIELD, should, boost=2.0)], min=1)], min=0),
                "must_not": O.disj([O.disj(
                    [O.term(FIELD, must_not)], min=1)], min=0)}
    if "prefix" in q:
        return _terms_node(oracle.expand_prefix(FIELD, q["prefix"]))
    if "fuzziness" in q:
        cands = oracle.expand_fuzzy(FIELD, q["term"], q["fuzziness"])
        return O.disj([O.term(FIELD, t, boost_mult=1.0 / (d + 1.0))
                       for t, d in cands], min=0)
    if "term" in q:
        return O.term(FIELD, q["term"])
    pairs = get_analyzer(ANALYZER).analyze_terms(
        q.get("match") or q.get("match_phrase"))
    if "match_phrase" in q:
        return {"type": "phrase", "field": FIELD, "boost": 1.0,
                "slots": [(p, [t]) for t, p in pairs]}
    terms = [t for t, _ in pairs]
    if q.get("operator") == "and":
        return O.conj([O.term(FIELD, t) for t in terms])
    return _terms_node(terms, min_=1)


def _parse_query_string(s: str) -> tuple[str, str, str]:
    m = re.fullmatch(
        rf"\+{FIELD}:(\S+) {FIELD}:(\S+)\^2 -{FIELD}:(\S+)", s)
    if not m:
        raise ValueError(f"unexpected query string: {s}")
    return m.group(1), m.group(2), m.group(3)


def node_terms(node: dict) -> list[str]:
    """Every term an oracle node reads (its expanded leaves)."""
    t = node["type"]
    if t == "term":
        return [node["term"]]
    if t == "phrase":
        return [x for _, alts in node["slots"] for x in alts]
    if t in ("conj", "disj"):
        return [x for c in node["children"] for x in node_terms(c)]
    if t == "bool":
        return [x for k in ("must", "should", "must_not", "filter")
                if node.get(k) for x in node_terms(node[k])]
    return []


def postings_examined(oracle, node: dict) -> int:
    post = oracle.postings[FIELD]
    return sum(len(post.get(t, ())) for t in node_terms(node))


def _root_qn(oracle, node) -> float:
    if node["type"] in ("conj", "disj", "bool", "phrase"):
        w = oracle.weight(node)
        return 1.0 / math.sqrt(w) if w > 0 else 1.0
    return 1.0


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def check_hits(oracle, node: dict, hits: list[dict], total: int | None,
               size: int) -> str | None:
    """None when ``hits`` is a correct top-``size`` for ``node``, else the
    first mismatch.  Ids and scores must match the oracle (scores to
    1e-9 relative).  Two hits may swap places only where the oracle's
    scores are equal to that tolerance, and at the cut-off any doc tied
    with the last oracle hit may fill the last places."""
    scores = oracle.eval(node, _root_qn(oracle, node))
    if total is not None and total != len(scores):
        return f"total_hits {total} != oracle {len(scores)}"
    ranked = sorted(scores.items(),
                    key=lambda kv: (-kv[1], oracle.doc_order[kv[0]]))
    want = ranked[:size]
    if len(hits) != len(want):
        return f"{len(hits)} hits != oracle {len(want)}"
    seen = set()
    for i, h in enumerate(hits):
        conv, turn = h["id"].rsplit(":", 1)
        key = (conv, int(turn))
        if key in seen:
            return f"duplicate hit {h['id']}"
        seen.add(key)
        if key not in scores:
            return f"hit {h['id']} does not match the query"
        if not _close(h["score"], scores[key]):
            return f"hit {h['id']} score {h['score']} != {scores[key]}"
        if not _close(h["score"], want[i][1]):
            return f"rank {i}: score {h['score']} != oracle {want[i][1]}"
    if want:
        cut = want[-1][1]
        missing = [k for k, s in want
                   if k not in seen and not _close(s, cut)]
        if missing:
            return f"oracle hit {missing[0]} missing"
    return None


# ------------------------------------------------------------ write cycle --

def replace_rows(oracle, row_of: dict, rows: list[dict],
                 seg_cards: list[int]) -> None:
    """Apply an update batch (existing keys, new text) to the oracle, and
    set the field cardinality the way a segmented store reports it: the
    sum over segments of each segment's distinct terms, deleted docs'
    terms included until a merge reclaims them (``seg_cards``)."""
    an = get_analyzer(ANALYZER)
    post = oracle.postings[FIELD]
    for new in rows:
        key = (new["conv_id"], int(new["turn_idx"]))
        i = row_of[key]
        old = oracle.rows[i]
        for t in {t for t, _ in an.analyze_terms(old[FIELD])}:
            post[t].pop(key, None)
            if not post[t]:
                del post[t]
        pairs = an.analyze_terms(new[FIELD])
        if pairs:
            norm = np.float32(1.0 / math.sqrt(len(pairs)))
            agg: dict[str, list[int]] = {}
            for t, p in pairs:
                agg.setdefault(t, []).append(p)
            for t, ps in agg.items():
                post.setdefault(t, {})[key] = (len(ps), ps, float(norm))
        oracle.rows[i] = {**old, FIELD: new[FIELD]}
    card = sum(seg_cards)
    oracle.field_card[FIELD] = card
    oracle.avg_doc_len[FIELD] = math.ceil(card / oracle.doc_count)


def distinct_terms(texts) -> int:
    an = get_analyzer(ANALYZER)
    return len({t for s in texts for t, _ in an.analyze_terms(s)})
