"""Pure-Python models the benchmark checks the engine's answers against.

``FindModel`` is the reference index: normalize and trigrams come from the
engine's own Python twins (``normalize_py``/``trigrams_py``), and ranking is
matches DESC, weight ASC, ref ASC. ``find_idf`` uses the integer idf of
``operators.find.find_idf``'s docstring.
"""

from __future__ import annotations

import heapq
import math
from collections import Counter, defaultdict

from blurrily_spark.functions.tokenizer import normalize_py, trigrams_py

LIMIT = 10
IDF_SCALE = 1_000_000


class FindModel:
    def __init__(self):
        self._docs: dict[int, tuple[list[int], int]] = {}   # ref -> (trigrams, weight)
        self._postings: dict[int, set[int]] = defaultdict(set)

    def put(self, ref: int, text: str, weight: int = 0) -> None:
        """First put of a ref wins; weight <= 0 means normalized length."""
        if ref in self._docs:
            return
        norm = normalize_py(text)
        tg = trigrams_py(norm)
        self._docs[ref] = (tg, weight if weight > 0 else len(norm))
        for t in tg:
            self._postings[t].add(ref)

    def delete(self, ref: int) -> None:
        tg, _ = self._docs.pop(ref, ((), 0))
        for t in tg:
            self._postings[t].discard(ref)

    def stats(self) -> dict[str, int]:
        return {
            "references": len(self._docs),
            "trigrams": sum(len(tg) for tg, _ in self._docs.values()),
        }

    def _query(self, needle: str) -> list[int]:
        return trigrams_py(normalize_py(needle))

    def find(self, needle: str, limit: int = LIMIT) -> list[tuple[int, int, int]]:
        """[(ref, matches, weight)] in rank order."""
        matches = Counter()
        for t in self._query(needle):
            matches.update(self._postings.get(t, ()))
        top = heapq.nsmallest(
            limit, matches.items(), key=lambda rm: (-rm[1], self._docs[rm[0]][1], rm[0])
        )
        return [(r, m, self._docs[r][1]) for r, m in top]

    def find_idf(self, needle: str, k: int = LIMIT) -> list[tuple[int, int, int, int]]:
        """[(ref, matches, idf_score, weight)] in rank order."""
        n = len(self._docs)
        matches, score = Counter(), Counter()
        for t in self._query(needle):
            refs = self._postings.get(t, ())
            if not refs:
                continue
            df = len(refs)
            w = math.floor((n - df + 0.5) / (df + 0.5) * float(IDF_SCALE) + 0.5)
            for r in refs:
                matches[r] += 1
                score[r] += w
        top = heapq.nsmallest(
            k, score.items(), key=lambda rs: (-rs[1], self._docs[rs[0]][1], rs[0])
        )
        return [(r, matches[r], s, self._docs[r][1]) for r, s in top]


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering ``item -> cluster`` against the planted
    ``item -> entity``: pairs in one predicted cluster vs pairs in one
    planted entity, counted from cluster sizes."""
    def pairs(sizes):
        return sum(s * (s - 1) // 2 for s in sizes)

    both = pairs(Counter((pred[i], truth[i]) for i in truth).values())
    p = pairs(Counter(pred[i] for i in truth).values())
    t = pairs(Counter(truth.values()).values())
    if both == 0:
        return 0.0
    precision, recall = both / p, both / t
    return 2 * precision * recall / (precision + recall)


def duplicate_spans(docs: list[tuple[int, str]], w: int = 8) -> dict[int, tuple[int, int]]:
    """``id -> (n_windows, n_dup_windows)`` for ``dedup.duplicate_spans``
    with stride 1 and min_docs 2: w-word windows of the normalized text,
    a window is duplicated when two or more documents contain it."""
    windows = {}
    holders = defaultdict(set)
    for doc_id, text in docs:
        words = normalize_py(text).split(" ")
        wins = [
            " ".join(words[i : i + w]) for i in range(max(len(words) - w, 0) + 1)
        ]
        windows[doc_id] = wins
        for win in wins:
            holders[win].add(doc_id)
    return {
        doc_id: (len(wins), sum(len(holders[x]) >= 2 for x in wins))
        for doc_id, wins in windows.items()
    }


def check_clustering(rows: list[tuple[int, int]]) -> str | None:
    """Structural check of ``(item, label)`` rows where the label is the
    smallest item of its cluster. Returns an error message or None."""
    label = dict(rows)
    if len(label) != len(rows):
        return "an item appears more than once"
    for item, lab in label.items():
        if lab > item or label.get(lab) != lab:
            return f"item {item} has label {lab}, not its cluster's smallest item"
    return None
