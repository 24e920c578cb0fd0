"""Pure-Python answers the benchmark checks the engine against.

The tokenizer here is a spec, not a copy of the engine's: generated
text holds only ASCII letters, spaces and ``.,!?``, all of which are
engine split characters, so lowercasing and splitting on non-alphanumerics
gives the engine's token stream. Only the stopword list is shared, as
data."""

from __future__ import annotations

import math
import re
from collections import Counter

SCORE_TOL = 2e-6  # engine scores are rounded to 6 decimals
_SPLIT = re.compile(r"[^a-z0-9]+")


def terms(text: str, stopwords: frozenset | set) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t and t not in stopwords]


class Index:
    """term -> {docno: tf} over doc ids 1..N, with tf-idf top-k."""

    def __init__(self, texts: list[str], stopwords, first_id: int = 1):
        self.stopwords = stopwords
        self.n_docs = len(texts)
        self.postings: dict[str, dict[int, int]] = {}
        for docno, text in enumerate(texts, start=first_id):
            for t, tf in Counter(terms(text, stopwords)).items():
                self.postings.setdefault(t, {})[docno] = tf

    def n_postings(self) -> int:
        return sum(len(p) for p in self.postings.values())

    def scores(self, query: str) -> dict[int, float]:
        """``sum((1 + ln tf) * log10(N / df))`` over the query's terms."""
        out: dict[int, float] = {}
        for t in set(terms(query, self.stopwords)):
            post = self.postings.get(t)
            if not post:
                continue
            idf = math.log10(self.n_docs / len(post))
            for d, tf in post.items():
                out[d] = out.get(d, 0.0) + (1 + math.log(tf)) * idf
        return out

    def wildcard(self, pattern: str) -> set[str]:
        pre, _, suf = pattern.partition("*")
        return {
            t for t in self.postings
            if t.startswith(pre) and t.endswith(suf) and len(t) >= len(pre) + len(suf)
        }


def ranked_ok(rows: list[tuple[int, float, int]], scores: dict[int, float], k: int = 10) -> bool:
    """Is ``rows`` ((docno, score, rank) tuples) a correct top-k under the
    score-desc, docno-asc order? Docnos whose scores tie within rounding
    may swap; every returned score must match the oracle's and the
    score sequence must equal the oracle top-k's."""
    want = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:k]
    got = sorted(rows, key=lambda r: r[2])
    if [r[2] for r in got] != list(range(1, len(want) + 1)):
        return False
    if len({r[0] for r in got}) != len(got):
        return False
    for (docno, score, _), (_, want_score) in zip(got, want):
        if docno not in scores or abs(scores[docno] - score) > SCORE_TOL:
            return False
        if abs(score - want_score) > SCORE_TOL:
            return False
    return True


def pairs_ok(got: list[tuple[int, int, float]], want: list[tuple[int, int, float]]) -> bool:
    """Near-dup pair sets equal, Jaccard within rounding."""
    g = {(a, b): j for a, b, j in got}
    w = {(a, b): j for a, b, j in want}
    return g.keys() == w.keys() and all(abs(g[p] - w[p]) <= SCORE_TOL for p in w)
