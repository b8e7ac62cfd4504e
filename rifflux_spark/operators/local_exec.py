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
path and the FTS5 oracle). The lexical scorer is exact under the posting
budget — one decode of every matching block, one sort to sum per doc, a
partition top-k — and takes the budgeted range closure over it; block-
max pruning does not pay at coordinator sizes (measurement in
:func:`bm25_topk_local`). The distributed plan reuses this module's df
lookup, idf weighting and decode/score/sum kernel, and
operators/wand.py's budget selection. Real distributed engines do the
same thing —
coordinator-only execution for selective queries (e.g. single-node plans
in Trino/Presto-style engines) — while bulk scans stay on the cluster.

Like SQLite serving doclists and rows from its warm page cache, every
coordinator read of postings, term_stats (past the vocabulary cache)
and chunks goes through ONE cache of decoded parquet row groups
(``_GROUP_CACHE``: one LRU, one lock, one byte budget,
invalidated by file signature and by the table's snapshot). It holds
what parquet returns — posting payloads stay varbyte-encoded — so
decode, scoring and aggregation run on every query; there is no
per-term, per-query or result cache.

The SearchService picks the path per query (``engine="auto"``; the
routing constants in service.py say which queries reach Spark).
"""

from __future__ import annotations

import os
import sys
import threading
from collections import Counter, OrderedDict
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
from rifflux_spark.operators.ftsquery import unit_idf
from rifflux_spark.sources.tables import IndexStore


def _bucket_files(store: IndexStore, table: str, buckets: set[int]) -> list[Path]:
    # manifest-level partition pruning: only the referenced buckets'
    # current-generation files are even enumerated; the row-group cache
    # is pruned to the same snapshot first
    _sync_groups(store, table)
    return store.partition_files(table, buckets)


# Open-ParquetFile cache keyed by (path → mtime_ns, size): a thrift
# footer parse costs ~0.25 ms, and a single hybrid query used to pay
# ~40 of them (postings + term_stats + chunks + tombstone probes). The
# handle pins the footer AND the open fd; incremental commits replace
# files (new generation dirs), so a changed path/mtime/size misses and
# re-opens. Bounded — many short-lived stores in test runs.
_PQ_FILE_CACHE: dict[str, tuple[tuple[int, int], pq.ParquetFile]] = {}
_PQ_FILE_CACHE_MAX = 512


def _pq_open(path) -> tuple[tuple[int, int], pq.ParquetFile]:
    """(file signature (mtime_ns, size), ParquetFile with a cached
    footer) — one stat, whose signature also keys the row-group cache."""
    p = str(path)
    st = os.stat(p)
    sig = (st.st_mtime_ns, st.st_size)
    hit = _PQ_FILE_CACHE.get(p)
    if hit is not None and hit[0] == sig:
        return hit
    f = pq.ParquetFile(p)
    if len(_PQ_FILE_CACHE) >= _PQ_FILE_CACHE_MAX:
        _PQ_FILE_CACHE.clear()
    _PQ_FILE_CACHE[p] = (sig, f)
    return sig, f


def pq_file(path) -> pq.ParquetFile:
    """ParquetFile with a cached footer (the coordinator analog of
    SQLite's always-open database handle)."""
    return _pq_open(path)[1]


# Decoded row groups of the tables the coordinator reads by key: chunks
# by doc_ord (top-k rehydration) and postings and term_stats by term
# (every posting read). (path, row_group) → (file signature,
# Arrow table, stable sort order of the key column, sorted keys, bytes).
# The coordinator analog of SQLite's warm page cache, next to the
# embedding and vocabulary caches: read from parquet, a rehydrate
# decompressed whole chunk groups to keep ~20 rows (26 ms of a 32 ms
# lexical query at 1k pages), and an `ingest` head query's posting read
# decompressed ~2.8k block rows to keep ~430 (5.2–6.6 of a 17.6–19.5 ms
# scorer call on a loaded 4-core host; 0.8–0.9 ms from this cache). Posting
# entries hold what parquet returns — payloads still varbyte-encoded,
# decoded and scored on every query. One LRU by decoded bytes under
# GROUP_CACHE_MAX_BYTES; entries of files that leave their table are
# dropped when the table's snapshot changes (_chunk_rg_state,
# _sync_groups). The lock guards the dict only (reads happen outside
# it), because a background auto-reindex can commit while searches are
# being served.
_GROUP_CACHE: OrderedDict[
    tuple[str, int], tuple[tuple[int, int], pa.Table, np.ndarray, np.ndarray, int]
] = OrderedDict()
_GROUP_BYTES = 0
_GROUP_LOCK = threading.Lock()
# table dir → the manifest entry its cached groups were last pruned to
_GROUP_SYNCED: dict[str, dict] = {}
_NO_ROWS = np.empty(0, dtype=np.int64)


def _cached_group(path: str, g: int, fsig: tuple[int, int], key: str, columns=None):
    """(table, stable sort order of its ``key`` column, sorted keys) of
    row group ``g`` — from the cache, or read once (``columns``, or every
    column) and inserted."""
    global _GROUP_BYTES
    k = (path, g)
    with _GROUP_LOCK:
        hit = _GROUP_CACHE.get(k)
        if hit is not None and hit[0] == fsig:
            _GROUP_CACHE.move_to_end(k)
            return hit[1], hit[2], hit[3]
    # single-threaded decode: at 2k pages (4-core host) a cold chunks
    # group reads as fast as with the per-column thread pool, and the
    # allocator's high-water mark stays ~8 MB lower
    t = pq_file(path).read_row_group(g, columns=columns, use_threads=False)
    col = t.column(key)
    order = pc.sort_indices(col).to_numpy().astype(np.int64)  # stable
    sorted_col = col.take(order)
    if pa.types.is_integer(col.type):
        keys, words = sorted_col.to_numpy(), []
    else:
        # an object array whose rows share one str per distinct term (a
        # head term spans many block rows)
        enc = sorted_col.combine_chunks().dictionary_encode()
        words = enc.dictionary.to_numpy(zero_copy_only=False)
        keys = words[enc.indices.to_numpy()]
    nbytes = t.nbytes + order.nbytes + keys.nbytes + sum(map(sys.getsizeof, words))
    with _GROUP_LOCK:
        old = _GROUP_CACHE.pop(k, None)
        if old is not None:
            _GROUP_BYTES -= old[4]
        _GROUP_CACHE[k] = (fsig, t, order, keys, nbytes)
        _GROUP_BYTES += nbytes
        # least recently used first; a group alone past the budget is
        # served, not kept
        while _GROUP_BYTES > GROUP_CACHE_MAX_BYTES:
            _GROUP_BYTES -= _GROUP_CACHE.popitem(last=False)[1][4]
    return t, order, keys


def _group_rows(path: str, g: int, fsig: tuple[int, int], key: str, want: np.ndarray, columns=None):
    """(cached table of row group ``g``, indices of its rows whose ``key``
    is in the sorted array ``want``, ascending — file row order)."""
    t, order, keys = _cached_group(path, g, fsig, key, columns)
    left = np.searchsorted(keys, want, side="left")
    right = np.searchsorted(keys, want, side="right")
    hits = [order[a:b] for a, b in zip(left, right) if b > a]
    return t, np.sort(np.concatenate(hits)) if hits else _NO_ROWS


def _drop_groups(table_dir: str, live: set[str]) -> None:
    """Evict cached groups of files under ``table_dir`` that are no longer
    in the table (compaction / overwrite replaced them)."""
    global _GROUP_BYTES
    prefix = table_dir.rstrip(os.sep) + os.sep
    with _GROUP_LOCK:
        for k in [k for k in _GROUP_CACHE if k[0].startswith(prefix) and k[0] not in live]:
            _GROUP_BYTES -= _GROUP_CACHE.pop(k)[4]


def _sync_groups(store: IndexStore, table: str) -> None:
    """Drop cached groups of files that left ``table``'s snapshot — one
    dict comparison while its manifest entry is unchanged. A table
    without a manifest entry (legacy flat layout) is only revalidated
    by file signature. Racing threads at worst prune twice."""
    entry = store._entry(table)
    table_dir = store.path(table)
    if entry is None or _GROUP_SYNCED.get(table_dir) == entry:
        return
    _drop_groups(table_dir, {str(f) for f in store.data_files(table)})
    if len(_GROUP_SYNCED) > 64:  # many short-lived stores (test runs)
        _GROUP_SYNCED.clear()
    _GROUP_SYNCED[table_dir] = entry


def _read_filtered(files: list[Path], columns: list[str], terms: list[str]):
    """The rows of ``files`` whose ``term`` is in ``terms``, ``columns``
    only: the same rows in the same order (file, then row) as a plain
    ``read_row_groups`` + ``is_in`` filter, served from the decoded
    row-group cache. Footer min/max statistics skip row groups that
    cannot hold a term (files are written sorted by term); each covering
    group's entry keeps a stable sort order of its ``term`` column, so
    its rows are found by ``searchsorted`` — no file is assumed sorted —
    and pulled with one ``take`` in row order (a zero-copy slice when
    they are one run). A cold group is read once, whole, and kept still
    varbyte-encoded: decode and scoring run on every query."""
    want = np.array(sorted(set(terms)), dtype=object)
    tables = []
    for f in files:
        path = str(f)
        fsig, pf = _pq_open(path)
        md = pf.metadata
        term_col = md.schema.names.index("term")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(term_col).statistics
            if st is not None and st.min is not None and not any(
                st.min <= t <= st.max for t in want
            ):
                continue
            t, rows = _group_rows(path, g, fsig, "term", want)
            if not rows.size:
                continue
            t = t.select(columns)
            if rows[-1] - rows[0] + 1 == rows.size:
                # one run of rows (one term of a term-sorted group): a
                # zero-copy slice of the cached buffers
                tables.append(t.slice(rows[0], rows.size))
            else:
                tables.append(t.take(pa.array(rows)))
    if not tables:
        return None
    return pa.concat_tables(tables)


def read_postings(store: IndexStore, terms: list[str], columns: list[str]):
    """``columns`` of every posting block of ``terms`` (None when there
    are none): the query's term buckets only, through the row-group
    cache. Both lexical engines and the FTS evaluator read here."""
    buckets = {term_bucket(t, store.n_term_buckets) for t in terms}
    return _read_filtered(_bucket_files(store, "postings", buckets), columns, terms)


# Decoded term→df map + term table per store, keyed by the term_stats
# files' signature (same invalidation discipline as the embedding-matrix
# cache below). The vocabulary is metadata-sized next to the postings
# (a few bytes per DISTINCT term); budget-gated so web-scale vocabularies
# past the cap fall back to the filtered per-query read unchanged. Warm
# queries resolve df lookups and prefix expansions with zero parquet IO.
_TS_CACHE: dict[str, tuple[tuple, dict[str, int], pa.Table]] = {}
TS_CACHE_MAX_BYTES = 64 << 20
# decoded chunk and posting row groups, one LRU (see _GROUP_CACHE)
GROUP_CACHE_MAX_BYTES = 128 << 20


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


def query_idf(terms: list[str], dfs: dict[str, int], n_docs: int) -> dict[str, float]:
    """FTS5 ln-idf per looked-up term (``dfs``), times the term's
    multiplicity in the compiled query ``terms``: FTS5 scores every
    phrase instance, so a repeated query term counts once per occurrence.
    Terms missing from ``dfs`` are not in the index and score nothing."""
    mult = Counter(terms)
    return {t: unit_idf(n_docs, df_t) * mult[t] for t, df_t in dfs.items()}


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


def _sum_by_doc(docs: np.ndarray, partials: np.ndarray):
    """Per-doc sums: one stable sort, then a reduceat over the runs of
    equal docs. Stability keeps each doc's partials in posting (file)
    order, so each sum's float addition order is fixed by the files."""
    order = np.argsort(docs, kind="stable")
    docs, partials = docs[order], partials[order]
    starts = np.flatnonzero(np.concatenate(([True], docs[1:] != docs[:-1])))
    return docs[starts], np.add.reduceat(partials, starts)


def top_k_order(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the ``k`` best rows by (score desc, id asc), best
    first: ``np.lexsort((ids, -scores))[:k]`` without sorting every row.
    A partition finds the k-th best score, and only the rows scoring at
    least that are sorted, so a tie group straddling the k-th slot is
    ordered by id exactly as the full sort orders it."""
    neg = -np.asarray(scores)
    if k <= 0 or neg.size == 0:
        return np.empty(0, dtype=np.intp)
    if k < neg.size:
        kth = np.partition(neg, k - 1)[k - 1]
        # NaN sorts last in both the partition and the lexsort; a NaN at
        # the k-th slot leaves nothing to cut
        if not np.isnan(kth):
            cand = np.flatnonzero(neg <= kth)
            return cand[np.lexsort((ids[cand], neg[cand]))][:k]
    return np.lexsort((ids, neg))[:k]


# posting columns the scorer decodes, and those plus the block metadata
# the budget selection reads: one read serves both
POSTING_COLUMNS = ["term", "n_docs", "first_doc", "gaps", "tfs", "dls"]
LEXICAL_COLUMNS = POSTING_COLUMNS + [
    c for c in wand.BLOCK_META_COLUMNS if c not in POSTING_COLUMNS
]


def bm25_topk_local(
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
    dfs: dict[str, int] | None = None,
) -> list[tuple[int, float]]:
    """Driver-side BM25 top-k: [(doc_ord, negated_score)], best first.

    Exactly the semantics of operators/bm25.bm25_topk (same codec, same
    constants, same (score desc, doc_ord asc) tie-break, same negation).
    Under the posting budget every matching block is decoded in one
    vectorized pass, each doc's partials are summed after one stable
    sort, and the top k are picked by partition (:func:`top_k_order`).

    There is no block-max pruning here. An impact-ordered wave scan
    (blocks decoded in descending WAND bound order, stopping once the
    next bound falls below the k-th best score) never beat decoding
    every block. Median ms per query over 5 interleaved reps, top 10,
    4-vCPU shared host; the three return equal results on every query:

    ================================  ==========  ===========  =======
    index / queries                   wave scan   full decode  this
    ================================  ==========  ===========  =======
    26.1k chunks, 48 head (Σdf ≤87k)  12.6        9.4          6.7
    26.1k, rare + 1–3 head terms      8.8         6.6          4.7
    26.1k, mid (df 100–1k) + head     10.4        7.7          5.3
    26.1k, upper (df 1k–13k) + head   11.0        8.1          5.7
    26.1k, 2–3 terms, df ≤ 1%         2.5         2.5          2.0
    260k chunks, rare + 1–3 head      66.6        58.4         40.4
    260k, mid (df 1k–10k) + head      73.9        58.5         38.5
    260k, upper (df 10k–130k) + head  91.8        61.3         42.2
    260k, 2–4 head (Σdf ≤ 780k)       110.8       71.6         49.9
    260k, 2–3 terms, df ≤ 1%          6.5         6.5          6.6
    ================================  ==========  ===========  =======

    ``config.lexical_budget_postings > 0`` caps the decoded posting
    count: a query whose blocks hold more postings than the budget
    decodes only the impact-ordered range closure
    (:func:`operators.wand.budget_selection`), so every returned doc
    still carries its exact full score and the trade is coverage.
    Under-budget queries are exact; 0 opts back into exact FTS5-parity
    behavior at any cost. The distributed plan (operators/bm25.py) runs
    the same selection, idf and decode/score/sum kernel on executors.

    ``dfs`` is :func:`local_df` of the query's distinct terms when the
    caller already looked them up (the service routes on it); it is
    looked up here otherwise."""
    config = config or EngineConfig()
    terms = compile_query(query)
    if not terms:
        return []
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])
    if dfs is None:
        dfs = local_df(store, sorted(set(terms)))
    idf = query_idf(terms, dfs, n_docs)
    if not idf:
        return []
    qterms = sorted(idf)
    t = read_postings(store, qterms, LEXICAL_COLUMNS)
    if t is None:
        return []
    tombs = local_tombstones(store)
    k1, b = config.bm25_k1, config.bm25_b
    sel = wand.budget_selection(
        t, idf, avgdl, k1, b, int(getattr(config, "lexical_budget_postings", 0) or 0)
    )
    if sel is None:
        docs, partials = _decode_score_arrow(t, idf, avgdl, k1, b)
        return _finish_topk(docs, partials, tombs, top_k)
    # budgeted: decode the selected blocks, keep only docs inside the
    # selected intervals — each has ALL its postings decoded
    mask, ranges = sel
    docs, partials = _decode_score_arrow(
        t.take(pa.array(np.flatnonzero(mask))), idf, avgdl, k1, b
    )
    inside = wand.mask_docs_to_ranges(docs, ranges)
    return _finish_topk(docs[inside], partials[inside], tombs, top_k)


def _finish_topk(
    docs: np.ndarray, partials: np.ndarray, tombs: np.ndarray, top_k: int
) -> list[tuple[int, float]]:
    if docs.size == 0:
        return []
    uniq, sums = _sum_by_doc(docs, partials)
    if tombs.size:
        keep = ~np.isin(uniq, tombs)
        uniq, sums = uniq[keep], sums[keep]
    return [(int(uniq[i]), float(-sums[i])) for i in top_k_order(sums, uniq, top_k)]


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
    otherwise. Warm queries hit the decoded-matrix cache: one matvec and
    a partition top-k (:func:`top_k_order`), no parquet IO."""
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
    return [(int(docs[i]), float(cos[i])) for i in top_k_order(cos, docs, top_k)]


# Cached per-file row-group [min,max] doc_ord ranges for the chunks
# table, keyed by file signature — pure METADATA (scales with row-group
# count, not rows), so this stays coordinator-sized at any corpus size.
# Saves re-opening and re-parsing every footer on every query.
_CHUNK_RG_CACHE: dict[str, tuple[tuple, list[tuple[str, int, int, int]]]] = {}

# what a cached chunks group holds: the result columns, never ``tokens``
CHUNK_DISPLAY_COLUMNS = ["doc_ord", "chunk_id", "url", "heading_path", "chunk_index", "content"]


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
    _drop_groups(key, {p for p, _, _ in sig})
    _CHUNK_RG_CACHE.clear()
    _CHUNK_RG_CACHE[key] = (sig, index)
    return sig, index


def _chunk_rg_index(store: IndexStore) -> list[tuple[str, int, int, int]]:
    return _chunk_rg_state(store)[1]


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
        t, rows = _group_rows(
            path, g, fsigs[path], "doc_ord", want[lo:hi], CHUNK_DISPLAY_COLUMNS
        )
        for row in t.select(cols).take(pa.array(rows)).to_pylist():
            out[int(row["doc_ord"])] = row
    return out
