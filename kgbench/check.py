"""Correctness checks on the program's outputs, pure Python.

Each check returns a verdict the workloads count toward ``failed``: a
build whose triples differ from the ground truth in any family (the
truth is exact by construction, so one missing or extra triple fails —
stricter than the P ≥ 0.95, R ≥ 0.95 acceptance line), an html→text
sample that is not byte-identical, a KG query whose bindings differ from
a recompute over the ground truth, or a search whose top-k misses the
queried concept.
"""

from __future__ import annotations

import re
from collections import deque
from dataclasses import dataclass

_TAG_RE = re.compile(r"<[^>]*>")


@dataclass
class PrecisionRecall:
    precision: float
    recall: float
    tp: int
    emitted: int
    expected: int

    @property
    def ok(self) -> bool:
        # the truth is exact by construction: any missing or extra triple
        # is a defect, however small its effect on P/R
        return self.tp == self.emitted == self.expected


def precision_recall(emitted: set, expected: set) -> PrecisionRecall:
    tp = len(emitted & expected)
    # an empty side is perfect only when the other side is empty too
    p = tp / len(emitted) if emitted else (1.0 if not expected else 0.0)
    r = tp / len(expected) if expected else (1.0 if not emitted else 0.0)
    return PrecisionRecall(p, r, tp, len(emitted), len(expected))


def per_family(emitted: dict[str, set], expected: dict[str, set]) -> dict[str, PrecisionRecall]:
    """P/R per predicate family; a family missing on one side counts as
    empty there."""
    fams = sorted(set(emitted) | set(expected))
    return {
        f: precision_recall(emitted.get(f, set()), expected.get(f, set()))
        for f in fams
    }


def group_triples(rows) -> dict[str, set]:
    """(subj, pred, obj) rows → {pred: {(subj, obj)}}."""
    out: dict[str, set] = {}
    for s, p, o in rows:
        out.setdefault(p, set()).add((s, o))
    return out


def html_matches_text(html: bytes, text: str) -> bool:
    """The BASELINE per-row invariant: tag-strip of html == text."""
    return _TAG_RE.sub("", html.decode("utf-8")) == text


def texts_identical(got: dict[str, str], expected: dict[str, str]) -> bool:
    """Every expected url extracted, each byte-identical to its text."""
    return got.keys() == expected.keys() and all(
        got[u] is not None and got[u].encode("utf-8") == t.encode("utf-8")
        for u, t in expected.items()
    )


def bgp_children_docs(parent: str, child_of: dict[str, str],
                      docs: dict[str, frozenset]) -> set[tuple[str, str]]:
    """Recompute of [(?c subclass_of P), (?doc HAS_CONCEPT ?c)] →
    {(c, doc)}."""
    kids = {c for c, p in child_of.items() if p == parent}
    return {(c, u) for u, cs in docs.items() for c in cs & kids}


def bgp_docs_with_both(a: str, b: str, docs: dict[str, frozenset]) -> set[str]:
    """Recompute of [(?doc HAS_CONCEPT A), (?doc HAS_CONCEPT B)]."""
    return {u for u, cs in docs.items() if a in cs and b in cs}


def reach_2hop(seed: str, docs: dict[str, frozenset]) -> dict[str, int]:
    """Recompute of bounded_reachability over HAS_CONCEPT edges in both
    directions (concept↔doc), 2 hops: node → minimal hop count, seed
    excluded."""
    by_concept: dict[str, set] = {}
    for u, cs in docs.items():
        for c in cs:
            by_concept.setdefault(c, set()).add(u)
    seen = {seed: 0}
    q = deque([seed])
    while q:
        n = q.popleft()
        h = seen[n]
        if h == 2:
            continue
        nxt = by_concept.get(n, ()) if h % 2 == 0 else docs.get(n, ())
        for m in nxt:
            if m not in seen:
                seen[m] = h + 1
                q.append(m)
    del seen[seed]
    return seen


def search_hit(results: list[str], expected: str) -> bool:
    return expected in results
