"""Coordinator-side short-circuit execution for selective top-k queries.

The distributed plan (operators/bm25.py) is the scale path: posting scan →
decode/score → shuffle-agg → TakeOrderedAndProject. But after term-bucket
partition pruning and row-group pruning (postings are written sorted by
``term`` inside each bucket), a single query's working set is a few MB —
coordinator-sized at ANY corpus size, because it scales with the query's
posting lists, not with the corpus. Scattering that through Spark pays a
fixed multi-job scheduling floor (~0.5-1 s) the reference's in-process
SQLite never pays (reference lexical mean 8 ms, BASELINE.md).

This module runs the IDENTICAL decode + BM25 math driver-side with
pyarrow + numpy, short-circuiting the scheduler: same blocks, same idf
clamp, same tie-break, rank-identical results (tested against the Spark
path and the FTS5 oracle). Real distributed engines do the same thing —
coordinator-only execution for selective queries (e.g. single-node plans
in Trino/Presto-style engines) — while bulk scans stay on the cluster.

The SearchService picks the path per query (``engine="auto"``): local
when the query's total posting volume (Σ df of its terms, read from
term_stats in milliseconds) fits the budget, Spark otherwise; semantic
routes on the embeddings table's byte size.
"""

from __future__ import annotations

import math
import os
import threading
from collections import OrderedDict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.functions.xxhash64 import term_bucket
from rifflux_spark.operators import wand
from rifflux_spark.operators.codec import (  # noqa: F401 (_cat_binary re-exported)
    _cat_binary,
    bm25_wtf,
    decode_posting_arrow,
)
from rifflux_spark.sources.tables import IndexStore


def _bucket_files(store: IndexStore, table: str, buckets: set[int]) -> list[Path]:
    # manifest-level partition pruning: only the referenced buckets'
    # current-generation files are even enumerated
    return store.partition_files(table, buckets)


# Open-ParquetFile cache keyed by (path → mtime_ns, size): a thrift
# footer parse costs ~0.25 ms, and a single hybrid query used to pay
# ~40 of them (postings + term_stats + chunks + tombstone probes). The
# handle pins the footer AND the open fd; incremental commits replace
# files (new generation dirs), so a changed path/mtime/size misses and
# re-opens. Bounded — many short-lived stores in test runs.
_PQ_FILE_CACHE: dict[str, tuple[tuple[int, int], pq.ParquetFile]] = {}
_PQ_FILE_CACHE_MAX = 512


def pq_file(path) -> pq.ParquetFile:
    """ParquetFile with a cached footer (the coordinator analog of
    SQLite's always-open database handle)."""
    p = str(path)
    st = os.stat(p)
    sig = (st.st_mtime_ns, st.st_size)
    hit = _PQ_FILE_CACHE.get(p)
    if hit is not None and hit[0] == sig:
        return hit[1]
    f = pq.ParquetFile(p)
    if len(_PQ_FILE_CACHE) >= _PQ_FILE_CACHE_MAX:
        _PQ_FILE_CACHE.clear()
    _PQ_FILE_CACHE[p] = (sig, f)
    return f


def _read_filtered(files: list[Path], columns: list[str], terms: list[str]):
    """Row-group-pruned read of term-matching rows (files are sorted by
    term, so parquet min/max stats skip non-matching row groups)."""
    tables = []
    tset = set(terms)
    for f in files:
        pf = pq_file(f)
        md = pf.metadata
        col_idx = {md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)} if md.num_row_groups else {}
        groups = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx["term"]).statistics
            if st is None or st.min is None:
                groups.append(g)
                continue
            if any(st.min <= t <= st.max for t in tset):
                groups.append(g)
        if not groups:
            continue
        t = pf.read_row_groups(groups, columns=columns)
        mask = pc.is_in(t.column("term"), value_set=pa.array(terms))
        t = t.filter(mask)
        if t.num_rows:
            tables.append(t)
    if not tables:
        return None
    return pa.concat_tables(tables)


# Decoded term→df map + term table per store, keyed by the term_stats
# files' signature (same invalidation discipline as the embedding-matrix
# cache below). The vocabulary is metadata-sized next to the postings
# (a few bytes per DISTINCT term); budget-gated so web-scale vocabularies
# past the cap fall back to the filtered per-query read unchanged. Warm
# queries resolve df lookups and prefix expansions with zero parquet IO.
_TS_CACHE: dict[str, tuple[tuple, dict[str, int], pa.Table]] = {}
TS_CACHE_MAX_BYTES = 64 << 20
# decoded chunk row groups kept for rehydration (LRU; see _CHUNK_GROUP_CACHE)
CHUNK_CACHE_MAX_BYTES = 128 << 20


def term_stats_cached(store: IndexStore) -> tuple[dict[str, int], pa.Table] | None:
    """(term→df_docs map, term/df table) for the whole vocabulary, or
    None when the table exceeds the cache budget (callers fall back to
    the filtered read)."""
    files = store.data_files("term_stats")
    if not files:
        return {}, pa.table({"term": pa.array([], pa.string()), "df_docs": pa.array([], pa.int64())})
    stats = [f.stat() for f in files]
    if sum(s.st_size for s in stats) > TS_CACHE_MAX_BYTES:
        return None
    sig = tuple((str(f), s.st_mtime_ns, s.st_size) for f, s in zip(files, stats))
    key = store.path("term_stats")
    hit = _TS_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1], hit[2]
    # generations can disagree on nullability (Spark writes non-null,
    # the driver-side Arrow writer nullable) — cast to one schema
    ts_schema = pa.schema([("term", pa.string()), ("df_docs", pa.int64())])
    t = pa.concat_tables(
        pq_file(f).read(columns=["term", "df_docs"]).cast(ts_schema) for f in files
    )
    # same last-wins semantics as the filtered read (file order is the
    # sorted data_files order there and here)
    d = dict(
        zip(t.column("term").to_pylist(), (int(x) for x in t.column("df_docs").to_pylist()))
    )
    if len(_TS_CACHE) > 32:
        _TS_CACHE.clear()
    _TS_CACHE[key] = (sig, d, t)
    return d, t


def local_df(store: IndexStore, terms: list[str]) -> dict[str, int]:
    """Document frequency per query term from term_stats, read
    coordinator-side (cached vocabulary map; row-group-pruned read past
    the cache budget — milliseconds at any scale)."""
    if not terms:
        return {}
    cached = term_stats_cached(store)
    if cached is not None:
        d = cached[0]
        return {t: d[t] for t in terms if t in d}
    # term_stats is partitioned by the same bucket function as postings
    buckets = {term_bucket(t, store.n_term_buckets) for t in terms}
    files = _bucket_files(store, "term_stats", buckets)
    t = _read_filtered(files, ["term", "df_docs"], terms)
    if t is None:
        return {}
    return {
        term: int(df)
        for term, df in zip(t.column("term").to_pylist(), t.column("df_docs").to_pylist())
    }


def local_idf(store: IndexStore, terms: list[str], n_docs: int) -> dict[str, float]:
    """FTS5 ln-idf from the term_stats table, read coordinator-side."""
    out: dict[str, float] = {}
    for term, df_t in local_df(store, terms).items():
        idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5))
        out[term] = idf if idf > 0 else 1e-6
    return out


# dead-ord sets re-read on EVERY query would pay parquet footer parses
# on the ~ms local hot path; cache on the same (path, mtime_ns, size)
# signature discipline as the embedding matrix below — a tombstone
# commit changes the file set and misses the cache
_ORD_SET_CACHE: dict[tuple[str, str], tuple[tuple, np.ndarray]] = {}


def _ord_set(store: IndexStore, name: str) -> np.ndarray:
    files = store.data_files(name)
    sig = tuple((str(f), f.stat().st_mtime_ns, f.stat().st_size) for f in files)
    key = (store.root, name)
    hit = _ORD_SET_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    parts = [
        pq_file(f).read(columns=["doc_ord"]).column("doc_ord").to_numpy()
        for f in files
    ]
    out = (
        np.concatenate(parts).astype(np.int64)
        if parts
        else np.empty(0, dtype=np.int64)
    )
    if len(_ORD_SET_CACHE) > 32:  # many short-lived stores (test runs)
        _ORD_SET_CACHE.clear()
    _ORD_SET_CACHE[key] = (sig, out)
    return out


def local_tombstones(store: IndexStore) -> np.ndarray:
    """Ords dead but still present in postings (BM25 paths filter these;
    purged ords are already physically absent from the blocks)."""
    return _ord_set(store, "tombstones")


def local_dead_ords(store: IndexStore) -> np.ndarray:
    """tombstoned ∪ purged — what chunk/embedding readers must exclude."""
    return np.unique(np.concatenate([_ord_set(store, "tombstones"), _ord_set(store, "purged")]))


def _decode_score_arrow(t, idf: dict[str, float], avgdl: float, k1: float, b: float):
    """Decode + BM25-score an Arrow block table → (doc_ord, partial).

    One vectorized pass over ALL blocks; payload bytes flow straight from
    the Arrow buffers into the varbyte decoder."""
    if t is None or t.num_rows == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    docs, tf, dl, ns = decode_posting_arrow(t)
    idf_per = np.repeat(
        np.array([idf[x] for x in t.column("term").to_pylist()]), ns
    )
    return docs, bm25_wtf(tf, dl, avgdl, k1, b) * idf_per


def _agg_topk(docs: np.ndarray, partials: np.ndarray):
    """Per-doc sums via sorted reduce — no Python dict loop."""
    order = np.argsort(docs, kind="stable")
    docs, partials = docs[order], partials[order]
    uniq, starts = np.unique(docs, return_index=True)
    return uniq, np.add.reduceat(partials, starts)


def bm25_topk_local(
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
    prune: bool = True,
    min_blocks_to_prune: int = 64,
) -> list[tuple[int, float]]:
    """Driver-side BM25 top-k: [(doc_ord, negated_score)], best first.

    Exactly the semantics of operators/bm25.bm25_topk (same codec, same
    constants, same (score desc, doc_ord asc) tie-break, same negation).
    Pruning is IMPACT-ORDERED EARLY TERMINATION (the block-max WAND
    bound math from operators/wand.py, reorganized as a scan): blocks
    are decoded in descending ``UB(B_t) + Σ_{t'≠t} max UB(B_t')`` order
    in geometric waves; after each wave θ = the k-th best accumulated
    LIVE score, and the scan STOPS once the next block's bound is below
    θ. Exactness proof is the WAND keep test's: every undecoded block's
    bound < θ means no doc it holds can reach the top-k, and a doc with
    one undecoded block has true score < θ, so its partial sum cannot
    displace a fully-scored member (all of whose blocks have bound ≥
    their true score ≥ θ and are therefore decoded). Correctness-
    invariant on/off (tested).

    ``config.lexical_budget_postings > 0`` additionally caps the decoded
    posting count: stopword-class queries (clamped uniform idfs — no
    bound can prune them, the FTS5 engine scans them in full too) stop
    at the budget and return the impact-ordered approximation. Default
    ON (config.py): under-budget queries are bit-identical to exact
    mode, so only df≈100% queries past ~1M postings see the coverage
    trade; 0 opts back into exact FTS5-parity behavior at any cost."""
    config = config or EngineConfig()
    terms = compile_query(query)
    if not terms:
        return []
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])
    idf = local_idf(store, sorted(set(terms)), n_docs)
    mult: dict[str, int] = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1
    idf = {t: v * mult[t] for t, v in idf.items()}
    if not idf:
        return []
    qterms = sorted(idf)

    buckets = {term_bucket(t, store.n_term_buckets) for t in qterms}
    files = _bucket_files(store, "postings", buckets)
    t = _read_filtered(
        files,
        ["term", "salt", "block_seq", "n_docs", "first_doc", "last_doc",
         "gaps", "tfs", "dls", "block_max_tf", "block_min_dl"],
        qterms,
    )
    if t is None:
        return []
    tombs = local_tombstones(store)
    k1, b = config.bm25_k1, config.bm25_b
    n_blocks = t.num_rows
    budget = int(getattr(config, "lexical_budget_postings", 0) or 0)
    ns = t.column("n_docs").to_numpy().astype(np.int64)
    total_postings = int(ns.sum())
    over_budget = budget > 0 and total_postings > budget

    if (not prune and not over_budget) or n_blocks < min_blocks_to_prune:
        docs, partials = _decode_score_arrow(t, idf, avgdl, k1, b)
        return _finish_topk(docs, partials, tombs, top_k)

    # range-aligned disjunctive bounds (operators/wand.py): each block
    # charged the other terms' best OVERLAPPING block, not their global
    # best — tighter, same exactness proof
    terms_arr = np.array(t.column("term").to_pylist())
    firsts = t.column("first_doc").to_numpy().astype(np.int64)
    lasts = t.column("last_doc").to_numpy().astype(np.int64)
    ub = wand.block_upper_bounds(
        list(terms_arr),
        t.column("block_max_tf").to_pylist(),
        t.column("block_min_dl").to_pylist(),
        idf, avgdl, k1, b,
    )
    bound = wand.aligned_bounds(terms_arr, firsts, lasts, ub)

    if over_budget:
        # budgeted mode: impact-ordered RANGE CLOSURE — every returned
        # doc has ALL its postings decoded (exact scores); the trade is
        # coverage of the corpus, never the correctness of shown scores.
        # Selection order is row-order-independent (ties broken on
        # (term, salt, seq)) so this matches the distributed path.
        order = wand.selection_order(
            terms_arr,
            t.column("salt").to_numpy().astype(np.int64),
            t.column("block_seq").to_numpy().astype(np.int64),
            bound,
        )
        mask, ranges = wand.budget_ranges(
            terms_arr, firsts, lasts, ns, bound, budget, order=order
        )
        sl = t.take(pa.array(np.flatnonzero(mask)))
        docs, partials = _decode_score_arrow(sl, idf, avgdl, k1, b)
        inside = wand.mask_docs_to_ranges(docs, ranges)
        return _finish_topk(docs[inside], partials[inside], tombs, top_k)

    # uniformity bail: stopword-class queries (clamped idfs) have near-
    # flat bounds no θ can beat — skip the wave machinery and decode
    # once (exactly what the no-prune path does; FTS5 scans these too)
    if wand.is_uniform(bound):
        docs, partials = _decode_score_arrow(t, idf, avgdl, k1, b)
        return _finish_topk(docs, partials, tombs, top_k)

    # impact-ordered early termination: decode in descending bound
    # order in geometric waves; stop once the next bound is provably
    # below the k-th best accumulated LIVE score (strict <: an equal
    # bound could still tie in and win on doc_ord)
    order = np.argsort(-bound, kind="stable")  # deterministic tie order
    acc_docs: list[np.ndarray] = []
    acc_parts: list[np.ndarray] = []
    acc_blk: list[np.ndarray] = []  # block index per posting, for re-ordering
    done = 0
    wave = max(top_k * 64, 4096)  # postings per wave, grows geometrically
    while done < n_blocks:
        end = done
        wave_postings = 0
        while end < n_blocks and wave_postings < wave:
            wave_postings += int(ns[order[end]])
            end += 1
        idx = np.sort(order[done:end])
        sl = t.take(pa.array(idx))
        d, p = _decode_score_arrow(sl, idf, avgdl, k1, b)
        acc_docs.append(d)
        acc_parts.append(p)
        acc_blk.append(np.repeat(idx, ns[idx]))
        done = end
        if done >= n_blocks:
            break
        uniq, sums = _agg_topk(np.concatenate(acc_docs), np.concatenate(acc_parts))
        if tombs.size:
            live = ~np.isin(uniq, tombs)
            uniq, sums = uniq[live], sums[live]
        if uniq.size >= top_k:
            # one-ulp safety margin: θ from partial sums can exceed the
            # exact value by rounding; shave it so a boundary tie is
            # never pruned
            theta = np.nextafter(np.sort(sums)[-top_k], -np.inf)
            if bound[order[done]] < theta:
                break  # exact early termination (WAND keep-test proof)
        wave *= 4

    if not acc_docs:
        return []
    docs = np.concatenate(acc_docs)
    parts = np.concatenate(acc_parts)
    # restore the original (term-sorted) posting order so per-doc float
    # summation order — hence every last ulp of every score — is
    # IDENTICAL to the no-prune full decode (rank ties must not flip
    # between paths)
    perm = np.argsort(np.concatenate(acc_blk), kind="stable")
    return _finish_topk(docs[perm], parts[perm], tombs, top_k)


def _finish_topk(
    docs: np.ndarray, partials: np.ndarray, tombs: np.ndarray, top_k: int
) -> list[tuple[int, float]]:
    if docs.size == 0:
        return []
    uniq, sums = _agg_topk(docs, partials)
    if tombs.size:
        keep = ~np.isin(uniq, tombs)
        uniq, sums = uniq[keep], sums[keep]
    if uniq.size == 0:
        return []
    # top-k by (score desc, doc_ord asc): lexsort on (-score, doc)
    order = np.lexsort((uniq, -sums))[:top_k]
    return [(int(uniq[i]), float(-sums[i])) for i in order]


def embeddings_bytes(store: IndexStore) -> int:
    return sum(f.stat().st_size for f in store.data_files("embeddings"))


# One decoded (doc_ords, matrix, norms) per embeddings path, keyed by the
# files' (path, mtime, size) signature — the coordinator analog of the
# reference's always-open SQLite page cache: the first semantic query
# decodes the table, later ones are a single BLAS matvec. Invalidated
# automatically when incremental writes change any file; bounded by the
# service's LOCAL_EXEC_BUDGET_BYTES (bigger tables never take this path).
_EMB_CACHE: dict[str, tuple[tuple, np.ndarray, np.ndarray, np.ndarray]] = {}


def _emb_matrix(store: IndexStore) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    files = store.data_files("embeddings")
    if not files:
        return None
    sig = tuple((str(f), f.stat().st_mtime_ns, f.stat().st_size) for f in files)
    key = store.path("embeddings")
    hit = _EMB_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1], hit[2], hit[3]
    docs_all, vec_parts, dim, n_rows = [], [], None, 0
    for f in files:
        t = pq_file(f).read(columns=["doc_ord", "dim", "vec"])
        if t.num_rows == 0:
            continue
        docs_all.append(t.column("doc_ord").to_numpy())
        # buffer-sliced concat (codec._cat_binary), not per-row bytes —
        # embeddings are the largest binary payload on the local path
        vec_parts.append(_cat_binary(t.column("vec")))
        n_rows += t.num_rows
        if dim is None:
            dim = int(t.column("dim")[0].as_py())
    if not docs_all:
        return None
    docs = np.concatenate(docs_all)
    flat = np.frombuffer(b"".join(vec_parts), dtype=np.float32)
    if dim is None or flat.size != n_rows * dim:
        raise ValueError(
            f"embeddings payload is {flat.size} floats for {n_rows} rows of "
            f"dim {dim} — mixed dims or corrupt vec column"
        )
    mat = flat.reshape(n_rows, dim)
    norms = np.linalg.norm(mat, axis=1)
    _EMB_CACHE.clear()  # one table at a time: the service owns one index
    _EMB_CACHE[key] = (sig, docs, mat, norms)
    return docs, mat, norms


def semantic_topk_local(
    store: IndexStore, query_vector, top_k: int
) -> list[tuple[int, float]]:
    """Driver-side brute-force cosine top-k: [(doc_ord, cosine)] best
    first, reference semantics (zero-norm → 0.0). Only chosen by the
    service when the embeddings table fits the local budget — a full
    embedding scan is inherently corpus-sized and belongs on executors
    otherwise. Warm queries hit the decoded-matrix cache: one matvec +
    top-k partition, no parquet IO."""
    if query_vector is None:
        return []
    loaded = _emb_matrix(store)
    if loaded is None:
        return []
    docs, mat, norms = loaded
    q = np.asarray(query_vector, dtype=np.float32)
    qn = float(np.linalg.norm(q))
    if qn == 0.0:
        cos = np.zeros(len(docs))
    else:
        denom = norms * qn
        cos = np.where(denom == 0.0, 0.0, (mat @ q) / np.where(denom == 0.0, 1.0, denom)).astype(np.float64)
    tombs = local_dead_ords(store)
    if tombs.size:
        keep = ~np.isin(docs, tombs)
        docs, cos = docs[keep], cos[keep]
    if docs.size == 0:
        return []
    k = min(top_k, docs.size)
    # partial select then exact order — avoids a full sort of the corpus
    # (slots past k in an argpartition are arbitrary, so taking exactly
    # k is as good as any wider slice; the kth-tie re-check below covers
    # the only boundary case)
    cand = np.argpartition(-cos, k - 1)[:k]
    order = cand[np.lexsort((docs[cand], -cos[cand]))][:k]
    # ties at the k-th score across the partition boundary: argpartition
    # guarantees the top-k VALUES are inside the partition, but equal
    # values may be ordered arbitrarily — re-check with a stable rule
    kth = cos[order[k - 1]]
    if (cos == kth).sum() > (cos[order[:k]] == kth).sum():
        full = np.lexsort((docs, -cos))[:k]
        order = full
    return [(int(docs[i]), float(cos[i])) for i in order[:k]]


# Cached per-file row-group [min,max] doc_ord ranges for the chunks
# table, keyed by file signature — pure METADATA (scales with row-group
# count, not rows), so this stays coordinator-sized at any corpus size.
# Saves re-opening and re-parsing every footer on every query.
_CHUNK_RG_CACHE: dict[str, tuple[tuple, list[tuple[str, int, int, int]]]] = {}

# Decoded chunk row groups, (path, row_group) → (file signature, display
# columns as an Arrow table, doc_ord sort order, sorted doc_ords, bytes).
# A chunks row group holds thousands of chunks, and a top-k rehydrate
# wants ~20 ordinals spread over every file: read from parquet, each
# query decompresses whole groups to keep 20 rows (26 ms of a 32 ms
# lexical query at 1k pages). The coordinator analog of SQLite's warm
# page cache, next to the embedding and vocabulary caches. LRU-bounded
# by decoded bytes; entries for files that leave the table are dropped
# when the row-group index rebuilds. The lock guards the dict only (reads
# happen outside it), because a background auto-reindex can commit while
# searches are being served.
CHUNK_DISPLAY_COLUMNS = ["doc_ord", "chunk_id", "url", "heading_path", "chunk_index", "content"]
_CHUNK_GROUP_CACHE: OrderedDict[
    tuple[str, int], tuple[tuple[int, int], pa.Table, np.ndarray, np.ndarray, int]
] = OrderedDict()
_CHUNK_GROUP_BYTES = 0
_CHUNK_LOCK = threading.Lock()


def _chunk_rg_state(store: IndexStore) -> tuple[tuple, list[tuple[str, int, int, int]]]:
    files = store.data_files("chunks")
    stats = [f.stat() for f in files]
    sig = tuple((str(f), s.st_mtime_ns, s.st_size) for f, s in zip(files, stats))
    key = store.path("chunks")
    hit = _CHUNK_RG_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit
    index: list[tuple[str, int, int, int]] = []
    for f in files:
        md = pq_file(f).metadata
        if md.num_row_groups == 0:
            continue
        col_idx = {md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx["doc_ord"]).statistics
            if st is None:
                index.append((str(f), g, -(1 << 62), 1 << 62))
            else:
                index.append((str(f), g, int(st.min), int(st.max)))
    _drop_chunk_groups(key, {p for p, _, _ in sig})
    _CHUNK_RG_CACHE.clear()
    _CHUNK_RG_CACHE[key] = (sig, index)
    return sig, index


def _chunk_rg_index(store: IndexStore) -> list[tuple[str, int, int, int]]:
    return _chunk_rg_state(store)[1]


def _drop_chunk_groups(table_dir: str, live: set[str]) -> None:
    """Evict cached groups of files under ``table_dir`` that are no longer
    in the table (compaction / overwrite replaced them)."""
    global _CHUNK_GROUP_BYTES
    prefix = table_dir.rstrip(os.sep) + os.sep
    with _CHUNK_LOCK:
        for k in [k for k in _CHUNK_GROUP_CACHE if k[0].startswith(prefix) and k[0] not in live]:
            _CHUNK_GROUP_BYTES -= _CHUNK_GROUP_CACHE.pop(k)[4]


def _chunk_group(path: str, g: int, fsig: tuple[int, int]):
    """(display table, doc_ord sort order, sorted doc_ords) of one row
    group — from the cache, or read once and inserted."""
    global _CHUNK_GROUP_BYTES
    key = (path, g)
    with _CHUNK_LOCK:
        hit = _CHUNK_GROUP_CACHE.get(key)
        if hit is not None and hit[0] == fsig:
            _CHUNK_GROUP_CACHE.move_to_end(key)
            return hit[1], hit[2], hit[3]
    # single-threaded decode: at 2k pages (4-core host) the cold read
    # takes as long as with the per-column thread pool, and the
    # allocator's high-water mark stays ~8 MB lower
    t = pq_file(path).read_row_group(g, columns=CHUNK_DISPLAY_COLUMNS, use_threads=False)
    ords = t.column("doc_ord").to_numpy()
    order = np.argsort(ords, kind="stable")
    sorted_ords = ords[order]
    nbytes = t.nbytes + order.nbytes + sorted_ords.nbytes
    with _CHUNK_LOCK:
        old = _CHUNK_GROUP_CACHE.pop(key, None)
        if old is not None:
            _CHUNK_GROUP_BYTES -= old[4]
        _CHUNK_GROUP_CACHE[key] = (fsig, t, order, sorted_ords, nbytes)
        _CHUNK_GROUP_BYTES += nbytes
        # least recently used first; a group alone past the budget is
        # served, not kept
        while _CHUNK_GROUP_BYTES > CHUNK_CACHE_MAX_BYTES:
            _CHUNK_GROUP_BYTES -= _CHUNK_GROUP_CACHE.popitem(last=False)[1][4]
    return t, order, sorted_ords


def rehydrate_local(
    store: IndexStore, doc_ords: list[int], columns: list[str] | None = None
) -> dict[int, dict]:
    """Chunk lookup for ≤top_k doc ordinals (the chunks table is written
    sorted by doc_ord): the footer-stats index picks the covering row
    groups, the decoded-group cache serves their rows (a cold group is
    read once), and one ``take`` per group extracts the wanted rows.
    ``columns`` narrows the returned dicts for verify-only callers
    (phrase recheck needs content, not ids/urls)."""
    want = np.unique(np.asarray(doc_ords, dtype=np.int64))
    out: dict[int, dict] = {}
    if want.size == 0:
        return out
    cols = columns or CHUNK_DISPLAY_COLUMNS
    sig, index = _chunk_rg_state(store)
    fsigs = {p: (m, s) for p, m, s in sig}
    for path, g, mn, mx in index:
        lo = np.searchsorted(want, mn, side="left")
        hi = np.searchsorted(want, mx, side="right")
        if lo >= hi:
            continue
        t, order, sorted_ords = _chunk_group(path, g, fsigs[path])
        sub = want[lo:hi]
        left = np.searchsorted(sorted_ords, sub, side="left")
        right = np.searchsorted(sorted_ords, sub, side="right")
        hits = [order[a:b] for a, b in zip(left, right) if b > a]
        if not hits:
            continue
        # file row order, as the filtered read it replaces returned them
        rows = np.sort(np.concatenate(hits))
        for row in t.take(pa.array(rows)).select(cols).to_pylist():
            out[int(row["doc_ord"])] = row
    return out
