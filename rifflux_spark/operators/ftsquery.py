"""FTS5 MATCH query execution: terms, prefixes (``tok*``), phrases,
and boolean AND / OR / NOT / parentheses — over the posting index, on
both execution paths.

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
anchored units on both engines. The FTS5 semantics (adjacency within
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

Scale shape (distributed): each unit yields a df-bounded
``(doc_ord, unit_id, tf, dl)`` frame — term/prefix units straight from
the pruned posting decode (prefix expansion is a vocabulary-sized
driver read, never a corpus pass), recheck units through a candidate
intersection, a broadcast join of the candidates into the chunk scan
and an Arrow-batched verify kernel. The union is ONE
groupBy(doc_ord) exchange producing per-unit tf columns + presence
flags; unit dfs ride in as a broadcast ≤n_units-row aggregate;
membership is a codegen boolean over the flags; top-k is
TakeOrderedAndProject. Worst case degrades exactly like the term
path's stopword case — wide posting decode — never a corpus scan.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.ftsparse import (
    COLUMNS,
    FtsSyntaxError,
    NearGroup,
    Unit,
    collect_units,
    leaf_groups,
    match_and_actives,
    parse_fts,
)
from rifflux_spark.functions.tokenizer import tokenize
from rifflux_spark.operators.codec import bm25_wtf, decode_posting_arrow
from rifflux_spark.sources.tables import IndexStore

# vocabulary expansion guard: a 1-letter prefix over a web-scale vocab
# could expand to millions of terms; FTS5 handles this with dedicated
# prefix indexes which this engine does not persist (documented seam)
MAX_PREFIX_EXPANSION = 4096

# candidate frames at or under this row bound get an explicit broadcast
# hint into the chunk scan; above it the join is left to the planner
# (AQE still broadcasts at runtime when the actual size allows) — a
# forced broadcast of a stopword phrase's corpus-sized candidate set
# would hit Spark's broadcast hard limit instead of degrading
BROADCAST_CAND_MAX = 4_000_000


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


# --------------------------------------------------------------- local path


_EMPTY = np.empty(0, dtype=np.int64)


def _local_postings(store: IndexStore, terms: list[str]):
    """Decode every posting for ``terms`` coordinator-side →
    (term → (docs, tfs), (docs, dls)): each term's sorted unique doc
    ordinals with their tf, and the sorted doc ordinals of all postings
    with their dl (looked up by ``searchsorted``)."""
    from rifflux_spark.operators.local_exec import POSTING_COLUMNS, read_postings

    postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    if not terms:
        return postings, (_EMPTY, _EMPTY)
    t = read_postings(store, terms, POSTING_COLUMNS)
    if t is None:
        return postings, (_EMPTY, _EMPTY)
    docs, tfs, dls, ns = decode_posting_arrow(t)
    # vectorized per-term grouping (no per-posting Python loop): posting
    # rows for one term are contiguous runs in block order — group block
    # rows by term, slice each term's posting span, and fold duplicate
    # doc entries (merged marker terms) with a bincount
    block_terms = t.column("term").to_pylist()
    starts = np.concatenate(([0], np.cumsum(ns)))
    by_term: dict[str, list[tuple[int, int]]] = {}
    for i, term in enumerate(block_terms):
        by_term.setdefault(term, []).append((int(starts[i]), int(starts[i + 1])))
    for term, spans in by_term.items():
        if len(spans) == 1:
            s, e = spans[0]
            d_arr, t_arr = docs[s:e], tfs[s:e]
        else:
            d_arr = np.concatenate([docs[s:e] for s, e in spans])
            t_arr = np.concatenate([tfs[s:e] for s, e in spans])
        postings[term] = _fold_tf(d_arr, t_arr)
    dl_docs, first = np.unique(docs, return_index=True)
    return postings, (dl_docs, dls[first])


def _fold_tf(docs: np.ndarray, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Posting entries → sorted unique docs with their summed tf."""
    uniq, inv = np.unique(docs, return_inverse=True)
    sums = np.bincount(inv, weights=tfs, minlength=uniq.size).astype(np.int64)
    return uniq, sums


def fts_topk_local(
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
) -> list[tuple[int, float]]:
    """Coordinator-path MATCH evaluation: [(doc_ord, negated_score)],
    best first. Raises FtsSyntaxError on malformed queries (callers
    apply the reference's bare-terms fallback)."""
    from rifflux_spark.operators.local_exec import (
        local_tombstones,
        rehydrate_local,
        top_k_order,
    )

    config = config or EngineConfig()
    ast = parse_fts(query)
    if ast is None:
        return []
    units = collect_units(ast)
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])

    per_unit_terms, all_terms = _units_needing(units, store)
    postings, (dl_docs, dl_vals) = _local_postings(store, all_terms)
    tombs = set(int(x) for x in local_tombstones(store))
    groups = leaf_groups(ast)

    rehydrated: dict[int, dict] = {}

    def rehydrate(cand) -> None:
        missing = [d for d in cand if d not in rehydrated]
        if missing:
            rehydrated.update(
                rehydrate_local(
                    store, missing, columns=["doc_ord", "content", "heading_path"]
                )
            )

    def col_tokens(c: dict) -> dict[str, list[str]]:
        return {
            "content": tokenize(c["content"]),
            "heading_path": tokenize(c["heading_path"]),
        }

    def docs_of(term: str) -> np.ndarray:
        return postings[term][0] if term in postings else _EMPTY

    def standalone_map(u: Unit, terms: list[str]) -> dict[int, int]:
        from rifflux_spark.operators.prefix import tail_match_terms

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
                return {}
            d, tf = hit[0] if len(hit) == 1 else _fold_tf(
                np.concatenate([h[0] for h in hit]),
                np.concatenate([h[1] for h in hit]),
            )
            return dict(zip(d.tolist(), tf.tolist()))
        # AND-intersect candidates from the combined postings (a
        # superset of any column-scoped match), then recheck on the
        # rehydrated per-column text
        full_tokens = u.tokens[:-1] if u.prefix else u.tokens
        full = [docs_of(t) for t in sorted(set(full_tokens))]
        if u.prefix:
            tail = [docs_of(t) for t in tail_match_terms(terms, u.tokens[-1])]
            full.append(np.unique(np.concatenate(tail)) if tail else _EMPTY)
        if any(a.size == 0 for a in full):
            return {}
        cand_arr = full[0]
        for a in full[1:]:
            cand_arr = np.intersect1d(cand_arr, a, assume_unique=True)
        cand = cand_arr.tolist()
        rehydrate(cand)
        counts: dict[int, int] = {}
        for d in cand:
            c = rehydrated.get(d)
            if c is None:
                continue
            tf = count_unit_cols(c, u)
            if tf > 0:
                counts[d] = tf
        return counts

    standalone: list[dict[int, int]] = [
        standalone_map(u, terms) for u, terms in zip(units, per_unit_terms)
    ]
    if tombs:
        standalone = [
            {d: tf for d, tf in m.items() if d not in tombs}
            for m in standalone
        ]

    # NEAR groups: replace member tf maps with participation-trimmed
    # ones (per-column clusters, df stays the standalone row count)
    unit_tf: list[dict[int, int]] = list(standalone)
    done_groups: set[int] = set()
    for g in groups:
        if g is None or id(g) in done_groups:
            continue
        done_groups.add(id(g))
        idxs = [i for i, gg in enumerate(groups) if gg is g]
        members = [units[i] for i in idxs]
        cand = set.intersection(*[set(standalone[i]) for i in idxs]) if all(
            standalone[i] for i in idxs
        ) else set()
        trimmed: list[dict[int, int]] = [{} for _ in idxs]
        if cand:
            rehydrate(sorted(cand))
            allowed = members[0].cols or COLUMNS
            for d in cand:
                c = rehydrated.get(d)
                if c is None:
                    continue
                ct = col_tokens(c)
                totals = [0] * len(members)
                for colname in allowed:
                    inst = [
                        unit_instances(ct[colname], mu) for mu in members
                    ]
                    counts = near_trim(inst, g.n)
                    for j, cnt in enumerate(counts):
                        totals[j] += cnt
                if all(t > 0 for t in totals):
                    for j, t in enumerate(totals):
                        trimmed[j][d] = t
        for j, i in enumerate(idxs):
            unit_tf[i] = trimmed[j]

    matched, actives = match_and_actives(
        ast, lambda i: _DocSet(set(unit_tf[i]))
    )
    docs = sorted(matched.docs)
    if not docs:
        return []
    pos = {d: i for i, d in enumerate(docs)}
    idfs = [unit_idf(n_docs, len(m)) for m in standalone]
    k1, b = config.bm25_k1, config.bm25_b
    scores = np.zeros(len(docs), dtype=np.float64)
    docs_arr = np.array(docs, dtype=np.int64)
    dls = dl_vals[np.searchsorted(dl_docs, docs_arr)].astype(np.float64)
    for i, (idf, m) in enumerate(zip(idfs, unit_tf)):
        # FTS5 contribution rule: only where the unit's ancestor chain
        # matches (actives[i] ⊆ matched by construction)
        act = actives.get(i)
        if act is None or not act.docs:
            continue
        idxs = np.array(sorted(pos[d] for d in act.docs), dtype=np.int64)
        tf = np.array(
            [m[docs[j]] for j in idxs], dtype=np.float64
        )
        scores[idxs] += idf * bm25_wtf(tf, dls[idxs], avgdl, k1, b)
    return [(int(docs_arr[i]), float(-scores[i])) for i in top_k_order(scores, docs_arr, top_k)]


class _DocSet:
    """Set algebra with complement support for the membership fold:
    ``NOT`` needs l & ~r, so ~r is represented lazily as (set,
    complemented) and every operator resolves the four sign cases."""

    def __init__(self, docs: set, complemented: bool = False) -> None:
        self.docs = docs
        self.complemented = complemented

    def __invert__(self) -> "_DocSet":
        return _DocSet(self.docs, not self.complemented)

    def __and__(self, other: "_DocSet") -> "_DocSet":
        if not self.complemented and not other.complemented:
            return _DocSet(self.docs & other.docs)
        if not self.complemented and other.complemented:
            return _DocSet(self.docs - other.docs)
        if self.complemented and not other.complemented:
            return _DocSet(other.docs - self.docs)
        return _DocSet(self.docs | other.docs, True)

    def __or__(self, other: "_DocSet") -> "_DocSet":
        if not self.complemented and not other.complemented:
            return _DocSet(self.docs | other.docs)
        if not self.complemented and other.complemented:
            return _DocSet(other.docs - self.docs, True)
        if self.complemented and not other.complemented:
            return _DocSet(self.docs - other.docs, True)
        return _DocSet(self.docs & other.docs, True)


# ---------------------------------------------------------- distributed path


def _cand_join(chunks, cand, bound: int | None):
    if bound is not None and bound <= BROADCAST_CAND_MAX:
        cand = F.broadcast(cand)
    return chunks.join(cand, on="doc_ord", how="inner")


_UNIT_ROW = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("unit_id", T.IntegerType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)


def _unit_frames(
    spark,
    store: IndexStore,
    units: list[Unit],
    per_unit_terms: list[list[str]],
    groups: list | None = None,
) -> DataFrame | None:
    """Union of per-unit (doc_ord, unit_id, tf, dl) frames.

    NEAR members emit TWO frames: their standalone frame under
    ``unit_id + len(units)`` (df = the phrase's global row count —
    probed FTS5 behavior) and a participation-trimmed frame under their
    real id from the group verify kernel (used for tf + membership).
    """
    groups = groups or [None] * len(units)
    n_units = len(units)

    def sid(i: int) -> int:
        # near members' standalone rows carry a shifted id (df only)
        return i + n_units if groups[i] is not None else i

    frames: list[DataFrame] = []
    # group all pure term/prefix units into ONE posting decode: decode
    # once for the union of their terms, then map term→(unit_id) rows
    simple = [
        (i, terms)
        for i, (u, terms) in enumerate(zip(units, per_unit_terms))
        if len(u.tokens) == 1 and u.cols is None and not u.anchored
    ]
    term_units: dict[str, list[int]] = {}
    for i, terms in simple:
        for t in terms:
            term_units.setdefault(t, []).append(sid(i))
    if term_units:
        all_simple_terms = sorted(term_units)
        decoded = _decode_unit_postings(store, all_simple_terms)
        mapping = spark.createDataFrame(
            [(t, i) for t, ids in term_units.items() for i in ids],
            "term string, unit_id int",
        )
        frames.append(
            decoded.join(F.broadcast(mapping), "term")
            .groupBy("doc_ord", "unit_id")
            .agg(
                F.sum("tf").cast("long").alias("tf"),
                F.first("dl").alias("dl"),
            )
            .select("doc_ord", "unit_id", "tf", "dl")
        )
    for i, (u, terms) in enumerate(zip(units, per_unit_terms)):
        if len(u.tokens) == 1 and u.cols is None and not u.anchored:
            continue
        frames.append(_phrase_unit_frame(spark, store, u, terms, sid(i)))
    # one trimmed frame per distinct NEAR group
    done: set[int] = set()
    for i, g in enumerate(groups):
        if g is None or id(g) in done:
            continue
        done.add(id(g))
        idxs = [j for j, gg in enumerate(groups) if gg is g]
        frames.append(
            _near_group_frame(spark, store, g, idxs, [per_unit_terms[j] for j in idxs])
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _near_group_frame(
    spark,
    store: IndexStore,
    group,
    member_ids: list[int],
    member_terms: list[list[str]],
) -> DataFrame:
    """Participation-trimmed rows for one NEAR group: candidates are
    docs containing every member (combined-postings superset), the
    verify kernel runs the per-column cluster test and emits one row
    per (doc, member) where the group matches."""
    members = list(group.units)
    all_terms = sorted({t for ts in member_terms for t in ts})
    decoded = _decode_unit_postings(store, all_terms)
    pairs: set[tuple[str, str]] = set()
    n_groups = 0
    for j, (mu, terms) in enumerate(zip(members, member_terms)):
        full = sorted(set(mu.tokens[:-1] if mu.prefix else mu.tokens))
        for t in full:
            pairs.add((t, f"{j}:{t}"))
        n_groups += len(full)
        if mu.prefix:
            from rifflux_spark.operators.prefix import tail_match_terms

            for t in tail_match_terms(terms, mu.tokens[-1]):
                pairs.add((t, f"{j}:tail"))
            n_groups += 1
    gmap = spark.createDataFrame(sorted(pairs), "term string, grp string")
    cand = (
        decoded.join(F.broadcast(gmap), "term")
        .groupBy("doc_ord")
        .agg(
            F.countDistinct("grp").alias("n_grps"),
            F.first("dl").alias("dl"),
        )
        .filter(F.col("n_grps") == n_groups)
        .select("doc_ord", "dl")
    )
    from rifflux_spark.operators.local_exec import local_df

    group_fulls = sorted(
        {
            t
            for mu in members
            for t in (mu.tokens[:-1] if mu.prefix else mu.tokens)
        }
    )
    dfs = local_df(store, group_fulls)
    bound = min(dfs.values()) if dfs else None
    chunks = store.chunks().select("doc_ord", "content", "heading_path")
    cand_chunks = _cand_join(chunks, cand, bound)
    allowed = members[0].cols or COLUMNS
    n_near = group.n
    ids = list(member_ids)

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out_doc: list[int] = []
            out_uid: list[int] = []
            out_tf: list[int] = []
            out_dl: list[int] = []
            for doc, content, heading, dl in zip(
                pdf["doc_ord"], pdf["content"], pdf["heading_path"], pdf["dl"]
            ):
                ct = {
                    "content": tokenize(content),
                    "heading_path": tokenize(heading),
                }
                totals = [0] * len(members)
                for colname in allowed:
                    inst = [unit_instances(ct[colname], mu) for mu in members]
                    counts = near_trim(inst, n_near)
                    for j, cnt in enumerate(counts):
                        totals[j] += cnt
                if all(t > 0 for t in totals):
                    for j, t in enumerate(totals):
                        out_doc.append(doc)
                        out_uid.append(ids[j])
                        out_tf.append(t)
                        out_dl.append(dl)
            yield pd.DataFrame(
                {
                    "doc_ord": pd.Series(out_doc, dtype="int64"),
                    "unit_id": pd.Series(out_uid, dtype="int32"),
                    "tf": pd.Series(out_tf, dtype="int64"),
                    "dl": pd.Series(out_dl, dtype="int64"),
                }
            )

    return cand_chunks.select(
        "doc_ord", "content", "heading_path", "dl"
    ).mapInPandas(verify, schema=_UNIT_ROW)


def _decode_unit_postings(store: IndexStore, terms: list[str]) -> DataFrame:
    """Posting blocks for ``terms`` → (doc_ord, term, tf, dl) rows
    (Arrow-native: payload bytes flow straight from the record batch's
    binary buffers, term labels repeat via Arrow take — no pandas)."""

    def decode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            docs, tf, dl, ns = decode_posting_arrow(rb)
            row_idx = np.repeat(np.arange(rb.num_rows, dtype=np.int64), ns)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(docs, pa.int64()),
                    pc.take(rb.column("term"), pa.array(row_idx)),
                    pa.array(tf, pa.int64()),
                    pa.array(dl, pa.int64()),
                ],
                names=["doc_ord", "term", "tf", "dl"],
            )

    schema = T.StructType(
        [
            T.StructField("doc_ord", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("tf", T.LongType(), False),
            T.StructField("dl", T.LongType(), False),
        ]
    )
    cols = ["term", "gaps", "tfs", "dls", "n_docs", "first_doc"]
    blocks = store.postings_for_terms(terms)
    return blocks.select(*cols).mapInArrow(decode, schema=schema)


def _phrase_unit_frame(
    spark, store: IndexStore, unit: Unit, terms: list[str], unit_id: int
) -> DataFrame:
    """Candidate-recheck frame for one phrase unit (prefix-tail aware):
    (doc_ord, unit_id, tf, dl) where tf > 0."""
    decoded = _decode_unit_postings(store, terms)
    if unit.prefix:
        from rifflux_spark.operators.prefix import tail_match_terms

        full = sorted(set(unit.tokens[:-1]))
        tail = tail_match_terms(terms, unit.tokens[-1])
        # presence groups: each full token is its own group; the tail
        # expansion is ONE group (any match counts). A term can play
        # BOTH roles ("cache cach*" where the expansion includes
        # "cache"), so the mapping is pairs, not a dict.
        pairs = [(t, t) for t in full] + [(t, "\x00tail") for t in tail]
        n_groups = len(full) + 1
        gmap = spark.createDataFrame(pairs, "term string, grp string")
        grouped = decoded.join(F.broadcast(gmap), "term")
        cand = (
            grouped.groupBy("doc_ord")
            .agg(
                F.countDistinct("grp").alias("n_grps"),
                F.first("dl").alias("dl"),
            )
            .filter(F.col("n_grps") == n_groups)
            .select("doc_ord", "dl")
        )
    else:
        uniq = sorted(set(unit.tokens))
        cand = (
            decoded.groupBy("doc_ord")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.first("dl").alias("dl"),
            )
            .filter(F.col("n_terms") == len(uniq))
            .select("doc_ord", "dl")
        )
    from rifflux_spark.operators.local_exec import local_df

    full_terms = sorted(set(unit.tokens[:-1] if unit.prefix else unit.tokens))
    dfs = local_df(store, full_terms)
    bound = min(dfs.values()) if dfs else None
    chunks = store.chunks().select("doc_ord", "content", "heading_path")
    cand_chunks = _cand_join(chunks, cand, bound)
    u = unit

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            tfs = [
                count_unit_cols({"content": content, "heading_path": heading}, u)
                for content, heading in zip(pdf["content"], pdf["heading_path"])
            ]
            out = pd.DataFrame(
                {
                    "doc_ord": pdf["doc_ord"],
                    "unit_id": np.int32(unit_id),
                    "tf": pd.Series(tfs, dtype="int64"),
                    "dl": pdf["dl"],
                }
            )
            yield out[out["tf"] > 0]

    return cand_chunks.select("doc_ord", "content", "heading_path", "dl").mapInPandas(
        verify, schema=_UNIT_ROW
    )


def fts_topk(
    spark,
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
) -> DataFrame:
    """Distributed MATCH evaluation → (doc_ord, bm25_score), negated,
    best first, ties on doc_ord (FTS5 conventions)."""
    config = config or EngineConfig()
    empty = spark.createDataFrame([], "doc_ord long, bm25_score double")
    ast = parse_fts(query)
    if ast is None:
        return empty
    units = collect_units(ast)
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])

    per_unit_terms, _ = _units_needing(units, store)
    groups = leaf_groups(ast)
    unioned = _unit_frames(spark, store, units, per_unit_terms, groups)
    if unioned is None:
        return empty
    if store.exists("tombstones"):
        unioned = unioned.join(
            F.broadcast(store.tombstones()), on="doc_ord", how="left_anti"
        )

    n_units = len(units)
    # per-unit df as a broadcast dimension. NEAR members have rows
    # under TWO ids: the trimmed real id and the standalone shifted id
    # (i + n_units); their df is the standalone (global phrase) count —
    # probed FTS5 behavior — so remap and take the max.
    unit_df = (
        unioned.groupBy("unit_id")
        .agg(F.count("*").cast("long").alias("df_u"))
        .withColumn(
            "unit_id",
            F.when(
                F.col("unit_id") >= n_units, F.col("unit_id") - n_units
            ).otherwise(F.col("unit_id")),
        )
        .groupBy("unit_id")
        .agg(F.max("df_u").alias("df_u"))
    )
    k1, b = config.bm25_k1, config.bm25_b
    idf_raw = F.log(
        (F.lit(float(n_docs)) - F.col("df_u") + 0.5) / (F.col("df_u") + 0.5)
    )
    idf = F.when(idf_raw > 0, idf_raw).otherwise(F.lit(1e-6))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        unioned.filter(F.col("unit_id") < n_units)  # drop df-only rows
        .join(F.broadcast(unit_df), "unit_id")
        .select("doc_ord", "unit_id", contrib.alias("contrib"))
    )
    # per-unit contribution columns + presence flags in ONE aggregate;
    # rows are unique per (doc, unit) so max() selects the value
    aggs = []
    for i in range(n_units):
        aggs.append(
            F.max(F.when(F.col("unit_id") == i, F.col("contrib"))).alias(
                f"c_{i}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("unit_id") == i, 1).otherwise(0)).alias(
                f"has_{i}"
            )
        )
    per_doc = scored.groupBy("doc_ord").agg(*aggs)
    match_expr, actives = match_and_actives(
        ast, lambda i: F.col(f"has_{i}") == 1
    )
    # FTS5 contribution rule: a unit scores only where its whole
    # ancestor chain matches (codegen boolean over the flags)
    score = F.lit(0.0)
    for i in range(n_units):
        if i not in actives:
            # a unit on the right of a NOT can never contribute (the
            # fold drops it from the active map)
            continue
        score = score + F.when(
            actives[i], F.coalesce(F.col(f"c_{i}"), F.lit(0.0))
        ).otherwise(F.lit(0.0))
    topk = (
        per_doc.filter(match_expr)
        .select("doc_ord", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_ord"))
        .limit(top_k)
    )
    return topk.select("doc_ord", (-F.col("score")).alias("bm25_score"))
