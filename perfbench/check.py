"""Reference answers computed without Spark, and the comparisons.

The service embeds with the deterministic mock embedder, so the exact
answer to any /search or /query request follows from the generated points:
a brute-force L2 top-k in numpy. The distance is folded over the dimensions
in the same order as the engine's SQL ``aggregate`` (float32 embedding cast
to double, sequential sum, square root), so equal inputs give bit-equal
distances and ties break by point id exactly as the engine breaks them.
"""

from __future__ import annotations

import numpy as np

from vectordb_cloud_spark.functions.embedding import mock_vector

SCORE_TOL = 1e-9


class VectorCache:
    """Text -> float64 copy of the mock embedding (float32 values)."""

    def __init__(self, dim: int = 64):
        self.dim = dim
        self._memo: dict[str, np.ndarray] = {}

    def __call__(self, text: str) -> np.ndarray:
        v = self._memo.get(text)
        if v is None:
            v = np.asarray(mock_vector(text, self.dim), dtype=np.float64)
            self._memo[text] = v
        return v

    def matrix(self, texts: list[str]) -> np.ndarray:
        if not texts:
            return np.zeros((0, self.dim))
        return np.stack([self(t) for t in texts])


def l2_fold(points: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise L2 distance with a left-to-right sum over dimensions."""
    acc = np.zeros(points.shape[0], dtype=np.float64)
    for j in range(points.shape[1]):
        d = points[:, j] - q[j]
        acc = acc + d * d
    return np.sqrt(acc)


def topk(ids: np.ndarray, points: np.ndarray, q: np.ndarray,
         k: int) -> tuple[list[int], list[float]]:
    """Exact top-k ascending by (distance, id)."""
    if len(ids) == 0:
        return [], []
    dist = l2_fold(points, q)
    order = np.lexsort((ids, dist))[:k]
    return [int(ids[i]) for i in order], [float(dist[i]) for i in order]


def compare_topk(got_ids: list[int], got_scores: list[float],
                 want_ids: list[int], want_scores: list[float]) -> str | None:
    """None when equal; otherwise a one-line reason."""
    if list(got_ids) != list(want_ids):
        return f"ids {list(got_ids)} != expected {list(want_ids)}"
    for g, w in zip(got_scores, want_scores):
        if abs(float(g) - w) > SCORE_TOL:
            return f"score {g!r} != expected {w!r}"
    return None


def valid_approx(got_ids: list[int], got_scores: list[float], ids: np.ndarray,
                 points: np.ndarray, q: np.ndarray, k: int) -> str | None:
    """An approximate top-k is valid when it returns min(k, live) distinct
    live points, each with its exact distance, ascending by (distance, id)."""
    if len(got_ids) != min(k, len(ids)) or len(set(got_ids)) != len(got_ids):
        return f"{len(got_ids)} distinct ids, expected {min(k, len(ids))}"
    pos = {int(i): j for j, i in enumerate(ids)}
    if any(int(i) not in pos for i in got_ids):
        return "an id outside the tenant's live points"
    dist = l2_fold(points[[pos[int(i)] for i in got_ids]], q)
    for g, w in zip(got_scores, dist):
        if abs(float(g) - w) > SCORE_TOL:
            return f"score {g!r} != exact distance {w!r}"
    keys = list(zip(got_scores, got_ids))
    if keys != sorted(keys):
        return "hits are not ordered by (distance, id)"
    return None


def recall(got_ids: list[int], want_ids: list[int]) -> float:
    if not want_ids:
        return 1.0
    return len(set(got_ids) & set(want_ids)) / len(want_ids)


def _match(cond: dict, row: dict) -> bool:
    val = row[cond["key"]]
    m = cond["match"]
    if "value" in m:
        return val == m["value"]
    if "any" in m:
        return val in m["any"]
    raise ValueError(f"unsupported match {m!r}")


def filter_matches(doc: dict | None, row: dict) -> bool:
    """The filter forms the generator emits: ``must`` and ``must_not`` lists
    of keyword ``match`` conditions."""
    if not doc:
        return True
    if not all(_match(c, row) for c in doc.get("must", [])):
        return False
    return not any(_match(c, row) for c in doc.get("must_not", []))


def classify(cats: str, title: str, vecs: VectorCache) -> str:
    """The L2-nearest category; ties go to the smaller category string."""
    names = cats.split("\\n")
    dist = l2_fold(vecs.matrix(names), vecs(title))
    return min(zip(dist.tolist(), names))[1]
