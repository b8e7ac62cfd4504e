"""FTS5 MATCH query execution: terms, prefixes (``tok*``), phrases,
and boolean AND / OR / NOT / parentheses — over the posting index, on
the coordinator.

Semantics (pinned empirically against SQLite FTS5 and enforced
rank+score-identically in tests/test_fts_rank_identity.py):

- **Membership** is the boolean tree over per-unit presence.
- **Scoring**: ``bm25 = Σ idf_u * wtf(tf_u, dl)`` over the units whose
  ENTIRE ancestor chain matches the row (probed: FTS5's xInst lists
  only surface phrase instances of matched subtrees) — a unit under an
  unmatched AND/NOT branch contributes nothing even when present; an
  OR branch contributes exactly where it matches. A repeated unit
  contributes once per occurrence; each unit scores with its own df.
- **Per-unit stats**: a term unit scores with its own df; a prefix
  unit's ``tf`` is the summed occurrences of every matching vocabulary
  term and its ``df`` the count of rows containing ANY of them; a
  phrase unit's ``tf`` is its occurrence count (overlaps included) and
  ``df`` its row count. Same ``k1/b/avgdl/dl``, ln-idf with the 1e-6
  clamp, negated score, rowid tie-break as the term path.

Phrase units (and column-filtered or anchored ones, since postings
carry combined-column tf) use candidate recheck: candidates are the
docs holding ALL of the unit's full tokens (posting AND-intersection,
bounded by the rarest token's df), and only those are rehydrated and
counted per column with the byte-parity tokenizer — a phrase never
matches across the column boundary, and overlapping instances each
count. Phrase mode (``SearchService.phrase``, operators/phrase.py) is
a one-phrase MATCH through this module.

The recheck is the only verifier of phrase, NEAR, column-filtered and
anchored units. The FTS5 semantics (adjacency within
one column, overlapping instances, NEAR participation) do not depend on
how positions are stored: the recheck derives every instance from the
tokenized column text. Positional postings (FTS5-style poslists in an
opt-in sibling table) were a second verifier of the same semantics and
were removed after this crossover. It was measured with perfbench's
corpus and config on a shared 4-vCPU host, one process per scale, the
same queries against the same index without and with positions; each
cell is the median over 5 queries of each query's median coordinator
time. Selective = the rarer token's df ≤ 2% of chunks, high-df = both
tokens' df ≥ 20%, NEAR distance 10. Rows were rank- and score-identical:

| scale | verifier | selective phrase | high-df phrase | selective NEAR | high-df NEAR |
|---|---|---|---|---|---|
| 1k pages (12,952 chunks), 7 reps | recheck | 2.0 ms | 89 ms | 3.1 ms | 283 ms |
| 1k pages (12,952 chunks), 7 reps | positions | 4.1 ms | 155 ms | 7.1 ms | 206 ms |
| 20k pages (259,856 chunks), 5 reps | recheck | 500 ms | 2.31 s | 590 ms | 3.01 s |
| 20k pages (259,856 chunks), 5 reps | positions | 35 ms | 4.70 s | 69 ms | 1.76 s |

Positions grew the index by 14.5% at 1k pages (index bytes per text
byte 4.381 → 5.014, about three times that metric's 5% bound) and by
12.9% at 20k pages (4.290 → 4.843). Forced-Spark at 1k pages (median
of 3 queries × 3 reps): high-df phrase 1.90 s recheck, 2.16 s
positions; high-df NEAR 3.19 s and 3.29 s. So positions are a trade,
not a win: at 20k pages they answer selective phrase/NEAR 8–14x faster
(the recheck rehydrates and re-tokenizes every candidate chunk;
positions read only the tokens' position lists), high-df NEAR 1.7x
faster and high-df phrase 2x slower. At 1k pages, the benchmark's
scale, the recheck wins three of the four classes. The recheck stage
is bounded by min-df; its documented degradation is stopword-only
phrases, where candidates approach corpus size — the same regime where
the term path already pays its stopword worst case.

One evaluator: :func:`fts_topk_local` answers every MATCH and phrase
query on the coordinator, over numpy arrays. A distributed Catalyst
plan of the same semantics (per-unit frames, one groupBy(doc_ord)
exchange, a codegen membership filter, TakeOrderedAndProject), picked
by a Σdf / candidate-bound router, was deleted after this crossover.
Setup: perfbench's config, 20k pages (259,856 chunks), local[4] on a
shared 4-vCPU host; ``SearchService.fts(q, 10)`` in three alternating
process pairs, two timed reps a process on the coordinator and one
forced onto Spark; cells are min / median seconds. "Before" is the code
with both paths, whose router sent every class here but
``NEAR(the data, 10)`` to Spark. Peak RSS is the process's VmHWM above
its RSS just before one cold evaluation of the query, in MB:

| query | Σdf | before, coordinator | before, Spark | after | peak RSS before → after |
|---|---|---|---|---|---|
| ``"the and"`` | 484,549 | 5.05 / 6.51 | 9.30 / 9.55 | 5.13 / 5.52 | 393 → 406 |
| ``heading_path : the`` | 247,730 | 2.72 / 3.14 | 5.02 / 6.23 | 2.40 / 2.98 | 407 → 420 |
| 11 head terms joined by OR | 2,153,575 | 2.38 / 2.87 | 9.96 / 10.72 | 0.58 / 0.66 | 376 → 184 |
| the same 11 terms, implicit AND | 2,153,575 | 1.66 / 2.08 | 7.52 / 7.93 | 0.35 / 0.39 | 316 → 183 |
| ``w0*`` (1,000-term prefix) | 8,656,737 | 3.33 / 3.97 | 10.24 / 10.87 | 2.64 / 3.08 | 711 → 682 |
| ``"the and" OR cache`` | 667,753 | 5.56 / 6.06 | 9.97 / 10.43 | 4.90 / 5.98 | 407 → 413 |
| ``NEAR("the and" cache, 10)`` | 667,753 | 5.57 / 7.12 | 15.33 / 15.79 | 6.19 / 6.72 | 410 → 419 |
| ``NEAR(the data, 10)`` | 473,167 | 11.09 / 15.05 | 12.74 / 13.33 | 11.07 / 12.54 | 446 → 400 |
| ``data NOT (cache OR "the and")`` | 893,190 | 5.29 / 6.41 | 9.34 / 10.01 | 4.00 / 6.01 | 447 → 442 |

The plan won no class, and the top-1000 rows of every class were
identical before and after. The deletion trades coordinator memory: the
evaluator holds every resolved posting of the query, so its peak grows
with Σdf (~0.7 GB above baseline at Σdf 8.7M), where the plan
collected only the top k.

Recheck split for ``"the and"`` on that index (226,985 candidates,
32,189 matches; profiling off, min of 3, one 6.3 s evaluation):
rehydrating the candidates 1.81 s, tokenizing both columns 2.05 s, the
instance scan ~1.6 s (tokenize + scan 3.64 s), postings and
intersection 0.07 s. Under cProfile (10.2 s): rehydrate 2.2 s, tokenize
3.0 s, instance scan 2.9 s. Re-tokenizing costs more than rehydration.
"""

from __future__ import annotations

import math

import numpy as np

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.ftsparse import (
    COLUMNS,
    FtsSyntaxError,
    Unit,
    collect_units,
    leaf_groups,
    match_and_actives,
    parse_fts,
)
from rifflux_spark.functions.tokenizer import tokenize
from rifflux_spark.operators.codec import bm25_wtf
from rifflux_spark.sources.tables import IndexStore

# vocabulary expansion guard: a 1-letter prefix over a web-scale vocab
# could expand to millions of terms; FTS5 handles this with dedicated
# prefix indexes which this engine does not persist (documented seam)
MAX_PREFIX_EXPANSION = 4096


def count_unit(tokens: list[str], unit: Unit) -> int:
    """Occurrences of ``unit`` in a token list (overlapping starts
    count; prefix applies to the unit's last token; an anchored unit
    only matches at token 0)."""
    return len(unit_instances(tokens, unit))


def count_unit_cols(texts: dict, unit: Unit) -> int:
    """Unit occurrences summed over its allowed columns of a row's
    column ``texts`` (FTS5 column filters scope tf to the filtered
    columns — probed); only the allowed columns are tokenized."""
    return sum(count_unit(tokenize(texts[c]), unit) for c in unit.cols or COLUMNS)


def unit_instances(tokens: list[str], unit: Unit) -> list[tuple[int, int]]:
    """(start, end) token positions of every instance of ``unit`` in a
    single column's token list (end inclusive; prefix on last token;
    overlapping instances each count, as in FTS5's position scan)."""
    p = unit.tokens
    n, m = len(tokens), len(p)
    if m == 0 or n < m:
        return []
    last = m - 1
    stop = 1 if unit.anchored else n - last
    if m == 1 and unit.prefix:
        # the lone token is the prefix tail: every start is a candidate
        return [(i, i) for i in range(stop) if tokens[i].startswith(p[0])]
    # only starts holding the first token are tested (found by C-level
    # list.index scans); the middle tokens compare as one slice
    first, mid, tail = p[0], list(p[1:last]), p[last]
    out: list[tuple[int, int]] = []
    i = 0
    while True:
        try:
            i = tokens.index(first, i, stop)
        except ValueError:
            return out
        end = i + last
        if tokens[i + 1 : end] == mid and (
            tokens[end].startswith(tail) if unit.prefix else tokens[end] == tail
        ):
            out.append((i, end))
        i += 1


def near_participating(
    inst_lists: list[list[tuple[int, int]]], n: int
) -> list[list[tuple[int, int]]]:
    """FTS5 NEAR participation: per member, the instances that belong
    to at least one valid cluster.

    A set of one instance per member is a valid cluster iff
    ``maxStart − minEnd − 1 ≤ n``; equivalently (separable form) there
    is a threshold E with every member owning an instance whose
    ``end ≥ E`` and ``start ≤ E + n + 1``. Instance x participates iff
    some feasible E lies in ``[start_x − n − 1, end_x]``. Feasibility
    per other member is a union of intervals ``[s − n − 1, e]``, so it
    suffices to test the candidate thresholds
    ``{start_x − n − 1} ∪ {s_other − n − 1}`` clipped to x's range.
    """
    k = len(inst_lists)
    if any(not l for l in inst_lists):
        return [[] for _ in range(k)]
    out: list[list[tuple[int, int]]] = []
    for j in range(k):
        others = [inst_lists[q] for q in range(k) if q != j]
        kept: list[tuple[int, int]] = []
        for s_x, e_x in inst_lists[j]:
            lo = s_x - n - 1
            cands = {lo}
            for lst in others:
                for s2, _e2 in lst:
                    c = s2 - n - 1
                    if lo <= c <= e_x:
                        cands.add(c)
            for ecand in cands:
                if ecand > e_x:
                    continue
                if all(
                    any(e2 >= ecand and s2 <= ecand + n + 1 for s2, e2 in lst)
                    for lst in others
                ):
                    kept.append((s_x, e_x))
                    break
        out.append(kept)
    return out


def near_trim(
    inst_lists: list[list[tuple[int, int]]], n: int
) -> list[int]:
    """Participating-instance COUNTS per member (the bm25 tf)."""
    return [len(l) for l in near_participating(inst_lists, n)]


def unit_idf(n_docs: int, df_u: int) -> float:
    """FTS5 ln-idf of a unit (term, prefix or phrase) over its row
    count, clamped to 1e-6 when not positive — the one idf formula of
    every scoring path."""
    idf = math.log((n_docs - df_u + 0.5) / (df_u + 0.5))
    return idf if idf > 0 else 1e-6


def expand_prefix_local(store: IndexStore, prefix: str) -> list[str]:
    """Vocabulary terms starting with ``prefix`` — a coordinator-side
    filtered read of term_stats (vocabulary-sized, term_bucket hash
    partitioning cannot prune a prefix so every bucket file is
    touched; columns are pruned to ``term``). Served from the cached
    vocabulary table when it fits the budget — zero parquet IO warm."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rifflux_spark.operators.local_exec import pq_file, term_stats_cached

    cached = term_stats_cached(store)
    if cached is not None:
        t = cached[1]
        out = t.filter(pc.starts_with(t.column("term"), prefix)).column("term").to_pylist()
        if len(out) > MAX_PREFIX_EXPANSION:
            raise FtsSyntaxError(
                f"prefix '{prefix}*' expands past {MAX_PREFIX_EXPANSION} terms"
            )
        return sorted(out)
    out: list[str] = []
    for f in store.data_files("term_stats"):
        t = pq_file(f).read(columns=["term"])
        mask = pc.starts_with(t.column("term"), prefix)
        out.extend(t.filter(mask).column("term").to_pylist())
        if len(out) > MAX_PREFIX_EXPANSION:
            raise FtsSyntaxError(
                f"prefix '{prefix}*' expands past {MAX_PREFIX_EXPANSION} terms"
            )
    return sorted(out)


def _units_needing(units: list[Unit], store: IndexStore):
    """Resolve each unit to the index terms whose postings it needs.
    A prefix tail whose length has a PREFIX INDEX (operators/prefix.py,
    ``store.prefix_lengths``) resolves to its single merged marker term
    — one posting list, no vocabulary scan, no expansion cap; other
    tails expand against the vocabulary. Returns (per-unit term lists,
    the union term list)."""
    from rifflux_spark.operators.prefix import marker

    indexed = set(getattr(store, "prefix_lengths", ()) or ())
    per_unit: list[list[str]] = []
    for u in units:
        if u.prefix:
            p = u.tokens[-1]
            if len(p) in indexed:
                tail = [marker(p)]
            else:
                tail = expand_prefix_local(store, p)
            terms = sorted(set(u.tokens[:-1]) | set(tail))
        else:
            terms = sorted(set(u.tokens))
        per_unit.append(terms)
    all_terms = sorted({t for terms in per_unit for t in terms})
    return per_unit, all_terms


_EMPTY = np.empty(0, dtype=np.int64)


def _local_postings(store: IndexStore, terms: list[str]):
    """Every posting for ``terms``, from the coordinator's decoded lanes
    (operators/local_exec.term_lanes) → (term → (docs, tfs), (docs,
    dls)): each term's posting entries in block order (a merged marker
    term can list a doc more than once), and the doc ordinals of all
    postings, sorted, with their dl (looked up by ``searchsorted``)."""
    from rifflux_spark.operators.local_exec import term_lanes

    parts: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
    all_docs, all_dls = [], []
    for _path, _g, _check, term, (docs, tfs, dls, _offs) in term_lanes(store, terms):
        parts.setdefault(term, []).append((docs, tfs))
        all_docs.append(docs)
        all_dls.append(dls)
    if not all_docs:
        return {}, (_EMPTY, _EMPTY)
    postings = {
        term: ps[0] if len(ps) == 1 else tuple(np.concatenate(x) for x in zip(*ps))
        for term, ps in parts.items()
    }
    # every entry of a doc carries the same dl, so an unstable sort
    # (repeats kept) is a valid searchsorted lookup
    docs, dls = np.concatenate(all_docs), np.concatenate(all_dls)
    order = np.argsort(docs)
    return postings, (docs[order], dls[order])


def _intersect(doc_arrays: list[np.ndarray]) -> np.ndarray:
    """Docs present in every sorted unique array of ``doc_arrays``."""
    out = doc_arrays[0]
    for a in doc_arrays[1:]:
        out = np.intersect1d(out, a, assume_unique=True)
    return out


def fts_topk_local(
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
) -> list[tuple[int, float]]:
    """MATCH evaluation: [(doc_ord, negated_score)], best first. Raises
    FtsSyntaxError on malformed queries (callers apply the reference's
    bare-terms fallback).

    Every unit becomes sorted ``(docs, tf)`` arrays — straight from its
    postings, from the candidate recheck's counts, or NEAR-trimmed.
    Their union is the universe: FTS5 has no bare NOT, so every matching
    row holds at least one positive unit. Each unit's tf is scattered
    onto the universe, the boolean tree folds the ``tf > 0`` masks, and
    scores are summed unit by unit over the matched rows."""
    from rifflux_spark.operators.local_exec import (
        _sum_by_doc,
        local_tombstones,
        rehydrate_local,
        top_k_order,
    )
    from rifflux_spark.operators.prefix import tail_match_terms

    config = config or EngineConfig()
    ast = parse_fts(query)
    if ast is None:
        return []
    units = collect_units(ast)
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])

    per_unit_terms, all_terms = _units_needing(units, store)
    postings, (dl_docs, dl_vals) = _local_postings(store, all_terms)
    rehydrated: dict[int, dict] = {}

    def rehydrate(cand: np.ndarray) -> list[dict | None]:
        """Column texts of the candidate rows, in ``cand`` order (None
        for a row whose chunk is gone)."""
        ords = cand.tolist()
        missing = [d for d in ords if d not in rehydrated]
        if missing:
            rehydrated.update(
                rehydrate_local(
                    store, missing, columns=["doc_ord", "content", "heading_path"]
                )
            )
        return [rehydrated.get(d) for d in ords]

    def docs_of(ts: list[str]) -> np.ndarray:
        """Sorted docs holding any of the terms ``ts``."""
        hit = [postings[t][0] for t in ts if t in postings]
        return np.unique(np.concatenate(hit)) if hit else _EMPTY

    def standalone(u: Unit, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        # postings carry COMBINED-column tf, so only unfiltered
        # single-token units score straight from them; anything with a
        # column filter, multiple tokens, or a prefix TAIL inside a
        # phrase goes through the candidate-recheck branch
        if len(u.tokens) == 1 and u.cols is None and not u.anchored:
            hit = [
                postings[t]
                for t in (tail_match_terms(terms, u.tokens[0]) if u.prefix else u.tokens)
                if t in postings
            ]
            if not hit:
                return _EMPTY, _EMPTY
            return _sum_by_doc(
                np.concatenate([h[0] for h in hit]),
                np.concatenate([h[1] for h in hit]),
            )
        # AND-intersect candidates from the combined postings (a
        # superset of any column-scoped match), then recheck on the
        # rehydrated per-column text
        full_tokens = u.tokens[:-1] if u.prefix else u.tokens
        full = [docs_of([t]) for t in sorted(set(full_tokens))]
        if u.prefix:
            full.append(docs_of(tail_match_terms(terms, u.tokens[-1])))
        cand = _intersect(full)
        tf = np.array(
            [0 if c is None else count_unit_cols(c, u) for c in rehydrate(cand)],
            dtype=np.int64,
        )
        return cand[tf > 0], tf[tf > 0]

    unit_tf = [standalone(u, terms) for u, terms in zip(units, per_unit_terms)]
    tombs = local_tombstones(store)
    if tombs.size:
        live = [~np.isin(d, tombs) for d, _ in unit_tf]
        unit_tf = [(d[k], tf[k]) for (d, tf), k in zip(unit_tf, live)]
    # a unit scores with its standalone row count, NEAR members too
    idfs = [unit_idf(n_docs, d.size) for d, _ in unit_tf]

    # NEAR groups: replace member arrays with participation-trimmed
    # ones (per-column clusters)
    groups = leaf_groups(ast)
    done_groups: set[int] = set()
    for g in groups:
        if g is None or id(g) in done_groups:
            continue
        done_groups.add(id(g))
        idxs = [i for i, gg in enumerate(groups) if gg is g]
        members = [units[i] for i in idxs]
        allowed = members[0].cols or COLUMNS
        cand = _intersect([unit_tf[i][0] for i in idxs])
        counts = []
        for c in rehydrate(cand):
            totals = [0] * len(members)
            if c is not None:
                for colname in allowed:
                    toks = tokenize(c[colname])
                    inst = [unit_instances(toks, mu) for mu in members]
                    totals = [t + n for t, n in zip(totals, near_trim(inst, g.n))]
            counts.append(totals)
        counts = np.array(counts, dtype=np.int64).reshape(cand.size, len(idxs))
        hit = (counts > 0).all(axis=1)
        for j, i in enumerate(idxs):
            unit_tf[i] = (cand[hit], counts[hit, j])

    universe = np.unique(np.concatenate([d for d, _ in unit_tf]))
    tf_on: list[np.ndarray] = []
    for d, tf in unit_tf:
        col = np.zeros(universe.size, dtype=np.int64)
        col[np.searchsorted(universe, d)] = tf
        tf_on.append(col)
    matched, actives = match_and_actives(ast, lambda i: tf_on[i] > 0)
    rows = np.flatnonzero(matched)
    if rows.size == 0:
        return []
    docs = universe[rows]
    dls = dl_vals[np.searchsorted(dl_docs, docs)]
    k1, b = config.bm25_k1, config.bm25_b
    scores = np.zeros(rows.size, dtype=np.float64)
    for i, (idf, tf) in enumerate(zip(idfs, tf_on)):
        # FTS5 contribution rule: only where the unit's ancestor chain
        # matches (actives[i] ⊆ matched by construction)
        act = actives.get(i)
        if act is None:
            continue
        act = act[rows]
        if act.any():
            scores[act] += idf * bm25_wtf(tf[rows][act], dls[act], avgdl, k1, b)
    return [(int(docs[i]), float(-scores[i])) for i in top_k_order(scores, docs, top_k)]
