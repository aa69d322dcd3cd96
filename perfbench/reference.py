"""Pure-Python and NumPy references the benchmark checks results against.

They restate the documented semantics of each operator independently of
Spark: BM25 with Lucene idf and the 6/4-digit floor rounding, exact
cosine top-k, word 3-gram Jaccard and the id-ordered semantic prune.
"""

from __future__ import annotations

import math
import re

import numpy as np

K1, B = 1.2, 0.75
SCORE_TOL = 2e-4  # BM25 scores are rounded to 4 digits
COS_TOL = 1e-6


def pround(x: float, d: int) -> float:
    return math.floor(x * 10**d + 0.5) / 10**d


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.lower().strip(" ")) if t]


class Bm25Ref:
    """BM25 over {doc_id: text}, scored exactly as the persistent layout."""

    def __init__(self, docs: dict[int, str]) -> None:
        self.tf: dict[int, dict[str, int]] = {}
        for d, text in docs.items():
            counts: dict[str, int] = {}
            for t in tokens(text):
                counts[t] = counts.get(t, 0) + 1
            if counts:
                self.tf[d] = counts
        self.dl = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / max(1, self.n)

    def search(self, queries: list[tuple[str, str]], k: int) -> dict[str, list[tuple[int, float]]]:
        qterms = {qid: list(dict.fromkeys(text.lower().split())) for qid, text in queries}
        all_terms = {t for ts in qterms.values() for t in ts}
        df = {t: sum(1 for c in self.tf.values() if t in c) for t in all_terms}
        out = {}
        for qid, terms in qterms.items():
            scores = {}
            for d, counts in self.tf.items():
                parts = []
                for t in terms:
                    tf = counts.get(t)
                    if tf:
                        idf = math.log(1.0 + (self.n - df[t] + 0.5) / (df[t] + 0.5))
                        norm = tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
                        parts.append(pround(idf * (tf * (K1 + 1.0) / norm), 6))
                if parts:
                    scores[d] = pround(sum(parts), 4)
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
            out[qid] = ranked[:k]
        return out


def topk_matches(got: list[tuple[int, float]], ref: list[tuple[int, float]],
                 ref_all: dict[int, float], tol: float) -> bool:
    """A ranked list matches when its scores equal the reference's and each
    returned id really has that score, so ties may resolve either way."""
    if len(got) != len(ref):
        return False
    for (gid, gs), (_rid, rs) in zip(got, ref):
        if abs(gs - rs) > tol or gid not in ref_all or abs(ref_all[gid] - gs) > tol:
            return False
    return len({g for g, _ in got}) == len(got)


def bm25_all_scores(ref: Bm25Ref, qid: str, text: str) -> dict[int, float]:
    return dict(ref.search([(qid, text)], k=10**9)[qid])


def cosine_topk(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int
                ) -> tuple[list[tuple[int, float]], dict[int, float]]:
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    m, i, n = mat[keep], ids[keep], norms[keep]
    qn = np.linalg.norm(q)
    scores = (m @ q) / (n * qn)
    order = np.lexsort((i, -scores))[:k]
    return ([(int(i[j]), float(scores[j])) for j in order],
            {int(a): float(b) for a, b in zip(i, scores)})


def shingles(text: str, n: int = 3) -> set:
    toks = re.split(r"\s+", text.lower().strip(" "))
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def semdedup_pruned(mat: np.ndarray, ids: np.ndarray, tau: float) -> tuple[set, set]:
    """(pruned, borderline): a vector is pruned iff a smaller id has cosine
    >= tau with it; ids within float tolerance of tau are borderline."""
    order = np.argsort(ids)
    m = mat[order]
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    pruned, border = set(), set()
    for j in range(1, len(order)):
        best = float(np.max(sims[j, :j]))
        if best >= tau:
            pruned.add(int(ids[order[j]]))
        if abs(best - tau) < 1e-6:
            border.add(int(ids[order[j]]))
    return pruned, border


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None, None
    s = sorted(values)
    return s[n - 11], math.floor(100 * (n - 10) / n)
