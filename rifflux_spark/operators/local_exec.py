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
budget — one score of every matching posting, one sort to sum per doc,
a partition top-k — and takes the budgeted range closure over it;
block-max pruning does not pay at coordinator sizes (measurement in
:func:`bm25_topk_local`). The distributed plan reuses this module's df
lookup, idf weighting and per-doc sum, and operators/wand.py's budget
selection. Real distributed engines do the same thing — coordinator-
only execution for selective queries (e.g. single-node plans in
Trino/Presto-style engines) — while bulk scans stay on the cluster.

Like SQLite serving every query from its one page cache, everything the
coordinator keeps between queries — footers, decoded row groups of
postings, term_stats and chunks, each term's decoded posting lanes, the
vocabulary, the embedding matrix — lives in ONE cache (``_CACHE``: one
LRU, one lock, one byte budget, one validity rule). Row groups hold what
parquet returns (posting payloads varbyte-encoded); a term's postings in
one row group are decoded once, into ``(docs, tf, dl)`` lanes that both
coordinator evaluators read (the columnar posting arrays of PAPERS.md's
*Columnar Formatted Inverted Index*, ICDE 2025). Scoring and aggregation
run on every query; there is no per-query or result cache.

The SearchService picks the path per query (``engine="auto"``; the
routing constants in service.py say which queries reach Spark).
"""

from __future__ import annotations

import os
import sys
import threading
from bisect import bisect_left, bisect_right
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
from rifflux_spark.operators.codec import bm25_wtf, decode_posting_arrow
from rifflux_spark.operators.ftsquery import unit_idf
from rifflux_spark.sources.tables import IndexStore, _snapshot_dir_files


# One coordinator cache, the analog of SQLite's one page cache, holds all
# the coordinator keeps between queries, keyed by (kind, path[, row
# group[, term]]): "footer" (an open ParquetFile; a parse costs ~0.25 ms
# and a hybrid query touches ~40 files), "group", "lanes" (one term's
# decoded postings in one row group), "vocab", "ords", "matrix",
# "chunk_index" and "files" (a table's file list). One LRU by bytes under
# CACHE_MAX_BYTES; an entry larger than the budget is served but not
# kept. The lock guards the dict only (reads and decodes happen outside
# it): a background auto-reindex can commit while searches are served.
#
# One validity rule: a file under a ``g-*`` generation dir is immutable
# and its uuid-named path is never reused (as _snapshot_dir_files relies
# on), so an entry built from one is never stat'ed; one built from any
# other file (legacy flat layout, bare paths) is checked by its (mtime_ns,
# size). A table-level entry is checked against the table's file list,
# memoized per manifest entry: a warm check is one dict comparison. When
# a table's entry changes, every entry of a file that left the table is
# dropped; a dropped footer's file closes once no reader holds it.
#
# The budget is the sum of the two bounds that capped what stayed resident
# before: 128 MB of decoded row groups plus the service's 256 MB
# LOCAL_EXEC_BUDGET_BYTES line that caps the matrix. Before → after, 3
# interleaved runs a side (4-vCPU shared host, perfbench's config, seed-1
# corpora), µs as min / median of warm calls inside a pin:
#                                       before             after
#   os.stat per warm search_mixed query 40.9               2.5, no data file
#     lexical, hybrid, fts              41.5, 59.1, 50.6   2, 4, 2
#     semantic, phrase                  19.0, 13.2         3, 2
#   µs: term_stats_cached               192 / 209          5.0 / 5.4
#     _emb_matrix, _chunk_index         31 / 34, 24 / 26   3.4 / 3.7, 3.4 / 3.7
#     embeddings_bytes, local_tombstones 17/19, 12/14 (absent table)  2.7/2.9, 16/17
#   cold matrix MB: VmHWM min / median over RSS before, RSS left (median)
#     ingest (38.2 MB matrix)           183 / 184, 108     79 / 79, 50
#     search_mixed (19.0 MB matrix)     95 / 105, 68       38 / 38, 33
CACHE_MAX_BYTES = 384 << 20
_CACHE: OrderedDict[tuple, tuple[object, object, int]] = OrderedDict()
_BYTES = 0
_LOCK = threading.Lock()
# vocabularies over this many file bytes are read per query bucket instead
# (a route, not a cache bound: see term_stats_cached)
TS_CACHE_MAX_BYTES = 64 << 20
_NO_ROWS = np.empty(0, dtype=np.int64)


def _check(path: str) -> tuple[int, int] | None:
    """Validity token of an entry built from ``path``: None for a file of
    a generation dir, else its (mtime_ns, size)."""
    if f"{os.sep}g-" in path:
        return None
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _cached(key: tuple, check, build):
    """The value cached under ``key`` if its entry was built under a
    ``check`` equal to this one; else ``build()`` → (value, bytes), kept
    unless it alone exceeds the budget, least recently used evicted."""
    with _LOCK:
        hit = _CACHE.get(key)
        if hit is not None and (hit[0] is check or hit[0] == check):
            _CACHE.move_to_end(key)
            return hit[1]
    value, nbytes = build()
    with _LOCK:
        _keep(key, check, value, nbytes)
    return value


def _cached_many(keys, checks, build) -> list:
    """:func:`_cached` per key of ``keys`` (each with its ``checks``
    entry), the missing ones built together: ``build(missing keys, their
    checks)`` → one (value, bytes) per key."""
    got = {}
    with _LOCK:
        for key, check in zip(keys, checks):
            hit = _CACHE.get(key)
            if hit is not None and (hit[0] is check or hit[0] == check):
                _CACHE.move_to_end(key)
                got[key] = hit[1]
    if len(got) < len(keys):
        missing = [(k, c) for k, c in zip(keys, checks) if k not in got]
        built = build(*zip(*missing))
        with _LOCK:
            for (key, check), (value, nbytes) in zip(missing, built):
                got[key] = value
                _keep(key, check, value, nbytes)
    return [got[k] for k in keys]


def _keep(key: tuple, check, value, nbytes: int) -> None:
    # under _LOCK: (re)place the entry, unless it alone exceeds the
    # budget, then evict least recently used entries past the budget
    global _BYTES
    old = _CACHE.pop(key, None)
    if old is not None:
        _BYTES -= old[2]
    if nbytes <= CACHE_MAX_BYTES:
        _CACHE[key] = (check, value, nbytes)
        _BYTES += nbytes
        while _BYTES > CACHE_MAX_BYTES:
            _BYTES -= _CACHE.popitem(last=False)[1][2]


def _snapshot(store: IndexStore, table_dir: str, entry: dict):
    """(sorted data files, bytes on disk, files per bucket or None) of
    the table at ``table_dir`` under manifest ``entry``, listed once per
    entry; a new entry first drops the entries its files left behind."""

    def listing():
        global _BYTES
        parts = entry.get("partitions")
        dirs = {None: entry.get("dirs", [])} if parts is None else parts
        root = Path(store.root)
        per_dir = {b: [f for d in ds for f in _snapshot_dir_files(root / d)] for b, ds in dirs.items()}
        files = tuple(sorted(f for fs in per_dir.values() for f in fs))
        by_bucket = None if parts is None else {int(b): fs for b, fs in per_dir.items()}
        live = {str(f) for f in files}
        prefix = str(Path(table_dir)) + os.sep
        with _LOCK:
            prev = _CACHE.get(("files", table_dir))
            if prev is not None and prev[1][0] == files:
                files = prev[1][0]  # keep the identity table-level checks compare
            stale = [
                k
                for k, (check, _, _) in _CACHE.items()
                if (k[1].startswith(prefix) and k[1] not in live)
                or (k[1] == table_dir and k[0] != "files" and check != files)
            ]
            for k in stale:
                _BYTES -= _CACHE.pop(k)[2]
        disk = sum(f.stat().st_size for f in files)
        return (files, disk, by_bucket), sum(map(sys.getsizeof, files)) + sum(map(sys.getsizeof, live))

    return _cached(("files", table_dir), entry, listing)


def _table(store: IndexStore, table: str) -> tuple[str, tuple[Path, ...], object, int]:
    """(table dir, data files, validity token of a table-level entry
    built from them, their bytes on disk) of ``table``'s current
    snapshot."""
    table_dir = os.path.join(store.root, table)  # a key: no Path (~5 µs)
    entry = store._entry(table)
    if entry is not None:
        files, disk, _ = _snapshot(store, table_dir, entry)
        return table_dir, files, files, disk
    # legacy flat layout: listed and checked file by file on every call
    files = tuple(store.data_files(table))
    check = tuple((f, _check(str(f))) for f in files)
    return table_dir, files, check, sum(f.stat().st_size for f in files)


def _bucket_files(store: IndexStore, table: str, buckets: set[int]) -> list[Path]:
    # manifest-level partition pruning, from the memoized file list
    entry = store._entry(table)
    by_bucket = None if entry is None else _snapshot(store, os.path.join(store.root, table), entry)[2]
    if by_bucket is None:
        return store.partition_files(table, buckets)
    return [f for b in sorted(buckets) for f in by_bucket.get(b, ())]


def _open(path: str):
    pf = pq.ParquetFile(path)
    # a parsed footer's RSS is 0.3–1× its serialized size (2,000 open files)
    return pf, pf.metadata.serialized_size


def _footer(path: str) -> tuple[tuple[int, int] | None, pq.ParquetFile]:
    """(validity token of ``path``, its open ParquetFile)."""
    check = _check(path)
    return check, _cached(("footer", path), check, lambda: _open(path))


def pq_file(path) -> pq.ParquetFile:
    """ParquetFile with a cached footer (the coordinator analog of
    SQLite's always-open database handle)."""
    return _footer(str(path))[1]


def _cached_group(path: str, g: int, check, key: str, columns=None):
    """(table, stable sort order of its ``key`` column, sorted keys) of
    row group ``g`` of ``path`` — from the cache, or read once
    (``columns``, or every column) and kept. Read from parquet, an
    `ingest` head query's posting read decompressed ~2.8k block rows to
    keep ~430 (5.2–6.6 ms of a 17.6–19.5 ms scorer call on a loaded 4-core
    host; 0.8–0.9 ms from the cache). Posting entries hold what parquet
    returns — payloads varbyte-encoded, decoded per term into
    :func:`_decode_lanes`."""
    return _cached(("group", path, g), check, lambda: _read_group(path, g, key, columns))


def _read_group(path: str, g: int, key: str, columns):
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
    return (t, order, keys), nbytes


def _group_rows(path: str, g: int, check, key: str, want: np.ndarray, columns=None):
    """(cached table of row group ``g``, indices of its rows whose ``key``
    is in the sorted array ``want``, ascending — file row order)."""
    t, order, keys = _cached_group(path, g, check, key, columns)
    left = np.searchsorted(keys, want, side="left")
    right = np.searchsorted(keys, want, side="right")
    hits = [order[a:b] for a, b in zip(left, right) if b > a]
    return t, np.sort(np.concatenate(hits)) if hits else _NO_ROWS


def _take_rows(t: pa.Table, rows: np.ndarray) -> pa.Table:
    """Rows ``rows`` (ascending) of ``t``: a zero-copy slice of the cached
    buffers when they are one run (one term of a term-sorted group)."""
    if rows[-1] - rows[0] + 1 == rows.size:
        return t.slice(rows[0], rows.size)
    return t.take(pa.array(rows))


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
    varbyte-encoded."""
    want = np.array(sorted(set(terms)), dtype=object)
    tables = []
    for f in files:
        path = str(f)
        check, pf = _footer(path)
        md = pf.metadata
        term_col = md.schema.names.index("term")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(term_col).statistics
            if st is not None and st.min is not None and not any(
                st.min <= t <= st.max for t in want
            ):
                continue
            t, rows = _group_rows(path, g, check, "term", want)
            if rows.size:
                tables.append(_take_rows(t.select(columns), rows))
    if not tables:
        return None
    return pa.concat_tables(tables)


def read_postings(store: IndexStore, terms: list[str], columns: list[str]):
    """``columns`` of every posting block of ``terms`` (None when there
    are none): the query's term buckets only, through the row-group
    cache. The distributed plan reads its block metadata here."""
    buckets = {term_bucket(t, store.n_term_buckets) for t in terms}
    return _read_filtered(_bucket_files(store, "postings", buckets), columns, terms)


# posting columns a block decode reads (plus ``term``, which the
# distributed scorer weights by)
POSTING_COLUMNS = ["term", "n_docs", "first_doc", "gaps", "tfs", "dls"]


def _narrow(a: np.ndarray) -> np.ndarray:
    # tf and dl are token counts: int32 holds them (16 B a posting, not
    # 24), and they score as the same float64 values; a copy either way
    return a.copy() if a.size and a.max() > np.iinfo(np.int32).max else a.astype(np.int32)


def _decode_lanes(keys, checks) -> list:
    """(lanes, bytes) per ``("lanes", path, row group, term)`` key: the
    term's (docs, tf, dl) of its block rows in that group, in row order,
    and the block rows' posting offsets (a cumsum of ``n_docs``, from 0).
    The keys' rows, pulled from the cached groups, are decoded by one
    :func:`codec.decode_posting_arrow` call (every check of that decoder
    runs); each entry gets its own read-only arrays. A term the group
    does not hold gets empty lanes."""
    tables, counts = [], []
    for (_, path, g, term), check in zip(keys, checks):
        t, rows = _group_rows(path, g, check, "term", np.array([term], dtype=object))
        counts.append(rows.size)
        if rows.size:
            tables.append(_take_rows(t.select(POSTING_COLUMNS[1:]), rows))
    docs = tf = dl = ns = np.empty(0, dtype=np.int64)
    if tables:
        docs, tf, dl, ns = decode_posting_arrow(pa.concat_tables(tables))
    offs_all = np.concatenate(([0], np.cumsum(ns)))
    out = []
    block = 0
    for n in counts:
        offs = offs_all[block : block + n + 1] - offs_all[block]
        lo, hi = offs_all[block], offs_all[block + n]
        lanes = (docs[lo:hi].copy(), _narrow(tf[lo:hi]), _narrow(dl[lo:hi]), offs)
        for a in lanes:
            a.flags.writeable = False
        out.append((lanes, sum(a.nbytes for a in lanes)))
        block += n
    return out


def term_lanes(store: IndexStore, terms: list[str]):
    """[(path, row group, validity token, term, lanes)] of every posting
    row group holding one of ``terms``, in (file, row group, term) order
    — file row order on the term-sorted files every writer produces.
    Each term is looked up in its own bucket's files only, in the groups
    whose footer min/max can hold it. Its lanes (:func:`_decode_lanes`)
    are cached per (file, row group, term) under the group's validity
    token, empty ones too, so a warm lookup never touches the group;
    both coordinator evaluators read their postings here."""
    by_bucket: dict[int, list[str]] = {}
    for t in sorted(set(terms)):
        by_bucket.setdefault(term_bucket(t, store.n_term_buckets), []).append(t)
    keys, checks = [], []
    for bucket, want in sorted(by_bucket.items()):
        for f in _bucket_files(store, "postings", {bucket}):
            path = str(f)
            check, pf = _footer(path)
            md = pf.metadata
            term_col = md.schema.names.index("term")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(term_col).statistics
                if st is not None and st.min is not None:
                    held = want[bisect_left(want, st.min) : bisect_right(want, st.max)]
                else:
                    held = want
                keys.extend(("lanes", path, g, term) for term in held)
                checks.extend([check] * len(held))
    found = _cached_many(keys, checks, _decode_lanes)
    return [
        (path, g, check, term, lanes)
        for (_, path, g, term), check, lanes in zip(keys, checks, found)
        if lanes[0].size
    ]


def term_stats_cached(store: IndexStore) -> tuple[dict[str, int], pa.Table] | None:
    """(term→df_docs map, term/df table) for the whole vocabulary, or
    None when its files exceed TS_CACHE_MAX_BYTES (callers fall back to
    the filtered per-bucket read). Metadata-sized next to the postings:
    warm df lookups and prefix expansions make no parquet IO."""
    table_dir, files, check, disk = _table(store, "term_stats")
    if not files:
        return {}, pa.table({"term": pa.array([], pa.string()), "df_docs": pa.array([], pa.int64())})
    if disk > TS_CACHE_MAX_BYTES:
        return None
    return _cached(("vocab", table_dir), check, lambda: _read_vocab(files))


def _read_vocab(files):
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
    return (d, t), t.nbytes + sys.getsizeof(d) + sum(map(sys.getsizeof, d))


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


def _ord_set(store: IndexStore, name: str) -> np.ndarray:
    """The doc_ords of table ``name`` (tombstones or purged), cached: a
    re-read on every query would pay footer parses on the ~ms hot path."""
    table_dir, files, check, _ = _table(store, name)
    return _cached(("ords", table_dir), check, lambda: _read_ords(files))


def _read_ords(files):
    parts = [pq_file(f).read(columns=["doc_ord"]).column("doc_ord").to_numpy() for f in files]
    out = np.concatenate(parts).astype(np.int64) if parts else _NO_ROWS
    return out, out.nbytes


def local_tombstones(store: IndexStore) -> np.ndarray:
    """Ords dead but still present in postings (BM25 paths filter these;
    purged ords are already physically absent from the blocks)."""
    return _ord_set(store, "tombstones")


def local_dead_ords(store: IndexStore) -> np.ndarray:
    """tombstoned ∪ purged — what chunk/embedding readers must exclude."""
    return np.unique(np.concatenate([_ord_set(store, "tombstones"), _ord_set(store, "purged")]))


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
    Under the posting budget every matching block is scored in one
    vectorized pass over the query terms' decoded lanes
    (:func:`term_lanes`; a posting list is decoded once, by the first
    query that reads it), each doc's partials are summed after one
    stable sort, and the top k are picked by partition
    (:func:`top_k_order`).

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

    Decoding each posting list once into cached lanes, before (a varbyte
    decode of every block on every query) → after, ms min / median over
    3 interleaved processes a side, each the median over the queries of
    7 warm calls at top 20 (what a top-10 search asks for):

    ================================  ===========  ===========
    index / queries                   before       after
    ================================  ===========  ===========
    26.1k chunks, 48 head (Σdf ≤87k)  3.61 / 3.78  2.04 / 2.16
    ================================  ===========  ===========

    ``config.lexical_budget_postings > 0`` caps the scored posting
    count: a query whose blocks hold more postings than the budget
    scores only the impact-ordered range closure
    (:func:`operators.wand.budget_selection`), so every returned doc
    still carries its exact full score and the trade is coverage.
    Under-budget queries are exact; 0 opts back into exact FTS5-parity
    behavior at any cost. The distributed plan (operators/bm25.py) runs
    the same selection and idf, and the same math, decoding its blocks
    on executors.

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
    pieces = term_lanes(store, sorted(idf))
    if not pieces:
        return []
    sizes = [p[4][0].size for p in pieces]
    idf_per = np.repeat([idf[p[3]] for p in pieces], sizes)
    docs, tf, dl = (np.concatenate([p[4][i] for p in pieces]) for i in range(3))
    k1, b = config.bm25_k1, config.bm25_b
    budget = int(getattr(config, "lexical_budget_postings", 0) or 0)
    ranges = None
    if 0 < budget < docs.size:
        # budgeted: the selection reads the pieces' block metadata (from
        # the cached groups), and only the selected blocks' spans of the
        # lanes are scored
        metas = []
        for path, g, check, term, _ in pieces:
            t, rows = _group_rows(path, g, check, "term", np.array([term], dtype=object))
            metas.append(_take_rows(t.select(wand.BLOCK_META_COLUMNS), rows))
        mask, ranges = wand.budget_selection(pa.concat_tables(metas), idf, avgdl, k1, b, budget)
        keep = np.repeat(mask, np.concatenate([np.diff(p[4][3]) for p in pieces]))
        docs, tf, dl, idf_per = docs[keep], tf[keep], dl[keep], idf_per[keep]
    partials = bm25_wtf(tf, dl, avgdl, k1, b) * idf_per
    if ranges is not None:
        # keep only docs inside the selected intervals — each has ALL
        # its postings scored
        inside = wand.mask_docs_to_ranges(docs, ranges)
        docs, partials = docs[inside], partials[inside]
    return _finish_topk(docs, partials, local_tombstones(store), top_k)


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
    return _table(store, "embeddings")[3]


def _emb_matrix(store: IndexStore) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(doc_ords, float32 matrix, row norms) of the embeddings table: the
    first semantic query decodes it, later ones are one BLAS matvec. The
    service routes here only while the files fit LOCAL_EXEC_BUDGET_BYTES."""
    table_dir, files, check, _ = _table(store, "embeddings")
    return _cached(("matrix", table_dir), check, lambda: _read_matrix(files))


def _read_matrix(files):
    """Decode into one preallocated matrix, row group by row group, each
    ``vec`` chunk's data buffer copied into its rows and their norms
    taken there: the peak is the matrix plus one row group. (A whole-matrix
    norm temporary over 32 MB left glibc's trim threshold low: warm
    `ingest` queries then page-faulted ~500 times each, +1.4 ms.)"""
    pfs = [pq_file(f) for f in files]
    n_rows = sum(pf.metadata.num_rows for pf in pfs)
    if n_rows == 0:
        return None, 0
    docs, norms = np.empty(n_rows, dtype=np.int64), np.empty(n_rows, dtype=np.float32)
    mat, at = None, 0
    for pf in pfs:
        for g in range(pf.num_row_groups):
            t = pf.read_row_group(g, columns=["doc_ord", "dim", "vec"], use_threads=False)
            if t.num_rows == 0:
                continue
            if mat is None:
                dim = int(t.column("dim")[0].as_py())
                mat = np.empty((n_rows, dim), dtype=np.float32)
            docs[at : at + t.num_rows] = t.column("doc_ord").to_numpy()
            for ch in t.column("vec").chunks:
                width = np.int64 if pa.types.is_large_binary(ch.type) else np.int32
                offs = np.frombuffer(ch.buffers()[1], dtype=width)
                lo, hi = int(offs[ch.offset]), int(offs[ch.offset + len(ch)])
                if hi - lo != 4 * dim * len(ch):
                    raise ValueError(
                        f"embeddings payload is {(hi - lo) / 4:g} floats for {len(ch)} "
                        f"rows of dim {dim} — mixed dims or corrupt vec column"
                    )
                rows = mat[at : at + len(ch)]
                rows[:] = np.frombuffer(
                    ch.buffers()[2], dtype=np.float32, count=(hi - lo) // 4, offset=lo
                ).reshape(len(ch), dim)
                norms[at : at + len(ch)] = np.linalg.norm(rows, axis=1)
                at += len(ch)
    return (docs, mat, norms), docs.nbytes + mat.nbytes + norms.nbytes


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


# what a cached chunks group holds: the result columns, never ``tokens``
CHUNK_DISPLAY_COLUMNS = ["doc_ord", "chunk_id", "url", "heading_path", "chunk_index", "content"]


def _chunk_index(store: IndexStore) -> list[tuple[str, int, int, int]]:
    """(path, row group, min doc_ord, max doc_ord) of every chunks row
    group, from the footers — metadata, so coordinator-sized at any
    corpus size."""
    table_dir, files, check, _ = _table(store, "chunks")
    return _cached(("chunk_index", table_dir), check, lambda: _read_chunk_index(files))


def _read_chunk_index(files):
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
    return index, sys.getsizeof(index) + sum(map(sys.getsizeof, index))


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
    for path, g, mn, mx in _chunk_index(store):
        lo = np.searchsorted(want, mn, side="left")
        hi = np.searchsorted(want, mx, side="right")
        if lo >= hi:
            continue
        t, rows = _group_rows(
            path, g, _check(path), "doc_ord", want[lo:hi], CHUNK_DISPLAY_COLUMNS
        )
        for row in t.select(cols).take(pa.array(rows)).to_pylist():
            out[int(row["doc_ord"])] = row
    return out
