"""Pure-Python references the benchmark checks the program's outputs against."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

_WS = re.compile(r"\s+")


def normalized(text: str) -> str:
    """Lowercase, whitespace runs collapsed to one space, trimmed."""
    return _WS.sub(" ", text).strip().lower()


def tokens(text: str) -> list[str]:
    """The words of the normalized text."""
    return [t for t in normalized(text).split(" ") if t]


def passes_gate(text: str) -> bool:
    """The curation DAG's quality gate, in the Gopher rules' integer form:
    at least 20 words, mean word length in [3, 10], ``#`` plus ``...``
    at most a tenth of the words, at least 80 % of the words alphabetic."""
    toks = tokens(text)
    n, chars = len(toks), sum(len(t) for t in toks)
    symbols = text.count("#") + len(re.findall(r"\.\.\.", text))
    alpha = sum(bool(re.search("[a-z]", t)) for t in toks)
    return (n >= 20 and 3 * n <= chars <= 10 * n and 10 * symbols <= n
            and 10 * alpha >= 8 * n)


def md5_uniform(doc_id: int) -> float:
    """The first 32 bits of md5(str(id)) as a fraction of 2^32."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) / 4294967296.0


def word_ngrams(text: str, n: int) -> set[str]:
    toks = normalized(text).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


class BM25:
    """Exhaustive BM25 over the live documents (Robertson-Sparck Jones idf,
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``), scores rounded to 6 places,
    ordered by score descending then doc id."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, Counter] = {}
        self.postings: dict[str, set[int]] = {}
        self.sum_dl = 0

    def add(self, doc_id: int, text: str) -> None:
        counts = Counter(tokens(text))
        if not counts:
            return
        self.tf[doc_id] = counts
        self.sum_dl += sum(counts.values())
        for t in counts:
            self.postings.setdefault(t, set()).add(doc_id)

    def delete(self, doc_id: int) -> None:
        counts = self.tf.pop(doc_id, None)
        if counts is None:
            return
        self.sum_dl -= sum(counts.values())
        for t in counts:
            self.postings[t].discard(doc_id)

    def search(self, terms: list[str], top_k: int) -> list[tuple[int, float]]:
        n = len(self.tf)
        avgdl = self.sum_dl / n
        scores: dict[int, float] = {}
        for term in sorted({t.lower() for t in terms}):
            docs = self.postings.get(term, ())
            df = len(docs)
            if not df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d in docs:
                tf = self.tf[d][term]
                dl = sum(self.tf[d].values())
                norm = tf * (self.k1 + 1) / (tf + self.k1 * (1 - self.b + self.b * dl / avgdl))
                scores[d] = scores.get(d, 0.0) + idf * norm
        ranked = sorted(((round(s, 6), d) for d, s in scores.items()),
                        key=lambda x: (-x[0], x[1]))
        return [(d, s) for s, d in ranked[:top_k]]


def check_topk(got: list[tuple[int, float]], ref: BM25, terms: list[str],
               top_k: int, tol: float = 2e-6) -> str | None:
    """None when ``got`` is a correct top-k: the score list equals the
    reference's within ``tol`` and every returned document carries its
    reference score. Documents tied within ``tol`` may swap places."""
    want = ref.search(terms, len(ref.tf))
    by_doc = dict(want)
    if len(got) != min(top_k, len(want)):
        return f"{len(got)} hits, expected {min(top_k, len(want))}"
    for (d, s), (_, ws) in zip(got, want):
        if abs(s - ws) > tol:
            return f"score {s} != reference {ws}"
        if d not in by_doc or abs(by_doc[d] - s) > tol:
            return f"doc {d} scored {s}, reference {by_doc.get(d)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate documents in the top-k"
    return None
