"""Posting-budget block selection, shared by both execution paths.

Under ``EngineConfig.lexical_budget_postings`` a query whose blocks hold
more postings than the budget decodes only an impact-ordered range
closure of them. :func:`budget_selection` picks it from the blocks'
metadata alone; the coordinator scorer (operators/local_exec) and the
distributed plan (operators/bm25) both call it on the same rows, so the
two engines select identical regions by construction. Each path supplies
only its own decode of the selected blocks.

Bound: UB(B_t) = idf_t · wtf(block_max_tf, block_min_dl, avgdl) — wtf is
monotone ↑ in tf and ↓ in dl, so the block's stored extremes bound every
posting under the current corpus stats (codec.py docstring). Each block
is ranked by its own bound plus every other term's best OVERLAPPING
block bound (:func:`aligned_bounds`).
"""

from __future__ import annotations

import numpy as np

from rifflux_spark.operators.codec import bm25_wtf


def block_upper_bounds(
    terms: list[str],
    block_max_tf,
    block_min_dl,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
) -> np.ndarray:
    """Per-block score upper bound, vectorized over all blocks at once."""
    wtf = bm25_wtf(
        np.asarray(block_max_tf, dtype=np.int64),
        np.asarray(block_min_dl, dtype=np.int64),
        avgdl,
        k1,
        b,
    )
    return np.array([idf[t] for t in terms]) * wtf


# ----------------------------------------------------- range-aligned bounds
#
# Within one term a block's doc interval [first_doc, last_doc] is
# disjoint from its siblings', so the other terms' contribution to any
# doc in the block is bounded by their best block OVERLAPPING that
# interval (the other term's block containing a shared doc necessarily
# overlaps). Range-max over the overlap run (contiguous, since sorted
# disjoint intervals) answers from an O(n log n) numpy sparse table.


def _sparse_table(u: np.ndarray) -> list[np.ndarray]:
    levels = [np.asarray(u, dtype=np.float64)]
    k = 1
    while (1 << k) <= u.size:
        prev = levels[-1]
        half = 1 << (k - 1)
        levels.append(np.maximum(prev[: prev.size - half], prev[half:]))
        k += 1
    return levels


def _range_max(levels: list[np.ndarray], i0: np.ndarray, i1: np.ndarray) -> np.ndarray:
    """Vectorized max over [i0, i1) per query; 0.0 for empty ranges."""
    out = np.zeros(i0.shape, dtype=np.float64)
    ln = i1 - i0
    nz = ln > 0
    if not nz.any():
        return out
    k = np.zeros(i0.shape, dtype=np.int64)
    k[nz] = np.floor(np.log2(ln[nz])).astype(np.int64)
    for kk in np.unique(k[nz]):
        m = nz & (k == kk)
        lv = levels[kk]
        out[m] = np.maximum(lv[i0[m]], lv[i1[m] - (1 << int(kk))])
    return out


def aligned_bounds(
    terms: np.ndarray,
    firsts: np.ndarray,
    lasts: np.ndarray,
    ub: np.ndarray,
) -> np.ndarray:
    """Per-block disjunctive bound with range-aligned cross-term slack:
    bound(B_t) = UB(B_t) + Σ_{t'≠t} max{UB(B') : B' of t' overlaps B_t}.
    Any doc in B_t scores ≤ bound(B_t) — its t'-block contains it, hence
    overlaps B_t."""
    bound = np.asarray(ub, dtype=np.float64).copy()
    uniq_terms = sorted(set(terms.tolist()))
    per = {}
    for x in uniq_terms:
        idxs = np.flatnonzero(terms == x)
        o = np.argsort(firsts[idxs], kind="stable")
        idxs = idxs[o]
        per[x] = (firsts[idxs], lasts[idxs], _sparse_table(ub[idxs]))
    for x in uniq_terms:
        others = terms != x
        if not others.any():
            continue
        f, l, st = per[x]
        i0 = np.searchsorted(l, firsts[others], side="left")
        i1 = np.searchsorted(f, lasts[others], side="right")
        bound[others] += _range_max(st, i0, i1)
    return bound


def selection_order(
    terms: np.ndarray,
    salts: np.ndarray,
    seqs: np.ndarray,
    bound: np.ndarray,
) -> np.ndarray:
    """Deterministic impact order: bound desc, ties on (term, salt,
    block_seq) — independent of input ROW order, so a reordered read of
    the same blocks selects the same budget region."""
    _, codes = np.unique(terms, return_inverse=True)
    return np.lexsort((seqs, salts, codes, -bound))


def budget_ranges(
    terms: np.ndarray,
    firsts: np.ndarray,
    lasts: np.ndarray,
    n_docs: np.ndarray,
    bound: np.ndarray,
    budget: int,
    order: np.ndarray | None = None,
) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """Impact-ordered RANGE-CLOSURE selection for the budgeted mode.

    Picks blocks in descending aligned-bound order; each pick also pulls
    in every other term's blocks overlapping its doc interval (the
    closure), so every doc inside a selected interval has ALL its
    postings decoded — returned scores are exact, the trade is coverage,
    never correctness of the scores shown.

    The budget is enforced BEFORE each pick commits: a closure is
    all-or-nothing (a partial closure would break score exactness), so
    its posting cost is computed from block metadata first and a pick
    that would blow the remaining budget is skipped — a later, cheaper
    pick may still fit. Only the FIRST pick is exempt (its closure is
    the smallest possible exact answer; a budget below it would
    otherwise return nothing), so overshoot is bounded by one closure
    instead of unbounded (a rare term's interval once pulled in ~13×
    the budget of a co-queried stopword's blocks).

    Returns (decode_mask over blocks, selected doc intervals)."""
    n = terms.size
    included = np.zeros(n, dtype=bool)
    uniq_terms = sorted(set(terms.tolist()))
    per = {}
    for x in uniq_terms:
        idxs = np.flatnonzero(terms == x)
        o = np.argsort(firsts[idxs], kind="stable")
        per[x] = (firsts[idxs][o], lasts[idxs][o], idxs[o])
    if order is None:
        order = np.argsort(-bound, kind="stable")
    ranges: list[tuple[int, int]] = []
    spent = 0
    for i in order:
        if spent >= budget:
            break
        if included[i]:
            continue
        lo, hi = int(firsts[i]), int(lasts[i])
        group = [int(i)]
        for x in uniq_terms:
            f, l, idxs = per[x]
            j0 = int(np.searchsorted(l, lo, side="left"))
            j1 = int(np.searchsorted(f, hi, side="right"))
            group.extend(int(j) for j in idxs[j0:j1])
        # cost the closure from metadata BEFORE committing (j can
        # repeat: the seed block is in its own run)
        fresh = [j for j in dict.fromkeys(group) if not included[j]]
        cost = sum(int(n_docs[j]) for j in fresh)
        if ranges and spent + cost > budget:
            continue  # over budget; a cheaper later pick may still fit
        for j in fresh:
            included[j] = True
        spent += cost
        ranges.append((lo, hi))
    return included, ranges


# the block metadata budget_selection reads, one row per posting block
BLOCK_META_COLUMNS = [
    "term", "salt", "block_seq", "n_docs", "first_doc", "last_doc",
    "block_max_tf", "block_min_dl",
]


def budget_selection(
    meta,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    budget: int,
) -> tuple[np.ndarray, list[tuple[int, int]]] | None:
    """The posting budget's block selection over ``meta``, an Arrow table
    with :data:`BLOCK_META_COLUMNS` (extra columns are ignored).

    None when the budget is off (``budget <= 0``) or the blocks' summed
    ``n_docs`` is within it: the query decodes every block. Otherwise
    (decode_mask over ``meta``'s rows, selected doc intervals) from
    :func:`budget_ranges` in :func:`selection_order`."""
    if budget <= 0 or meta is None:
        return None

    def col(name):
        return meta.column(name).to_numpy().astype(np.int64)

    ns = col("n_docs")
    if int(ns.sum()) <= budget:
        return None
    terms = np.array(meta.column("term").to_pylist())
    firsts, lasts = col("first_doc"), col("last_doc")
    ub = block_upper_bounds(
        list(terms), col("block_max_tf"), col("block_min_dl"), idf, avgdl, k1, b
    )
    bound = aligned_bounds(terms, firsts, lasts, ub)
    order = selection_order(terms, col("salt"), col("block_seq"), bound)
    return budget_ranges(terms, firsts, lasts, ns, bound, budget, order=order)


def mask_docs_to_ranges(docs: np.ndarray, ranges: list[tuple[int, int]]) -> np.ndarray:
    """Boolean mask of docs inside any selected interval (intervals are
    merged and binary-searched — no per-range scan)."""
    if not ranges:
        return np.zeros(docs.shape, dtype=bool)
    rs = sorted(ranges)
    merged: list[list[int]] = [list(rs[0])]
    for lo, hi in rs[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    los = np.array([m[0] for m in merged], dtype=np.int64)
    his = np.array([m[1] for m in merged], dtype=np.int64)
    pos = np.searchsorted(los, docs, side="right") - 1
    ok = pos >= 0
    ok[ok] &= docs[ok] <= his[pos[ok]]
    return ok
