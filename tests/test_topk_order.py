"""The coordinator's partition top-k (local_exec.top_k_order) against the
full sort it replaces: ``np.lexsort((ids, -scores))[:k]``, i.e. score
descending, ties on id ascending."""

from __future__ import annotations

import numpy as np
import pytest

from rifflux_spark.operators.local_exec import top_k_order


def _reference(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    return np.lexsort((ids, -scores))[:k]


def test_top_k_order_matches_full_sort_on_large_ties() -> None:
    rng = np.random.default_rng(11)
    for trial in range(400):
        n = int(rng.integers(1, 300))
        # integer-valued scores over a few values: tie groups of dozens
        # of rows straddle the k-th slot
        scores = rng.integers(0, int(rng.integers(1, 8)), n).astype(np.float64)
        ids = rng.permutation(n * 3)[:n].astype(np.int64)
        for k in (1, 2, 10, n - 1, n, n + 5):
            if k < 1:
                continue
            got = top_k_order(scores, ids, k)
            assert np.array_equal(got, _reference(scores, ids, k)), (trial, n, k)


@pytest.mark.parametrize("k", [1, 3, 6, 7, 50])
def test_top_k_order_edges(k: int) -> None:
    scores = np.array([2.0, 5.0, 5.0, -0.0, 0.0, 5.0])
    ids = np.array([9, 4, 1, 3, 2, 7], dtype=np.int64)
    assert np.array_equal(top_k_order(scores, ids, k), _reference(scores, ids, k))


def test_top_k_order_empty_and_nan() -> None:
    empty = top_k_order(np.empty(0), np.empty(0, dtype=np.int64), 10)
    assert empty.size == 0
    assert top_k_order(np.array([1.0]), np.array([0]), 0).size == 0
    # NaN rows rank last, as in the full sort, also when one is the k-th
    scores = np.array([np.nan, 1.0, np.nan, 3.0, 1.0])
    ids = np.arange(5, dtype=np.int64)
    for k in range(1, 7):
        assert np.array_equal(top_k_order(scores, ids, k), _reference(scores, ids, k)), k
