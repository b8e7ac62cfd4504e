"""Coordinator posting reads through the shared decoded row-group cache
(``local_exec._read_filtered``) and the per-term decoded lanes built from
it (``local_exec.term_lanes``): rows identical to a plain pyarrow read +
``is_in`` filter (absent terms, column subsets, appended generations, a
file not sorted by term), lanes identical to a decode of that read, zero
parquet row-group reads when warm — also for a query never run before —
and zero varbyte decodes, no cached group or lanes outliving its file
across apply / compaction / vacuum / gc, one byte budget over chunk and
posting groups, lanes and every other kind of entry, and threaded
posting reads mixed with rehydrates."""

from __future__ import annotations

import random
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.xxhash64 import term_bucket
from rifflux_spark.operators import codec, ftsquery, local_exec, wand
from rifflux_spark.plans.build import build_index
from rifflux_spark.plans.incremental import apply_incremental, compact, vacuum
from rifflux_spark.service import SearchService
from rifflux_spark.sources import tables as tables_mod
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=4, n_build_shards=1, embedding_dim=16
)
COLUMN_SETS = [
    local_exec.POSTING_COLUMNS,
    wand.BLOCK_META_COLUMNS,
    ["term", "n_docs"],
    ["dls", "term", "first_doc"],
    None,  # every column
]


@pytest.fixture()
def fresh_cache(monkeypatch):
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)


def _mutate(pages, every: int):
    """Next crawl: every ``every``-th page gains a paragraph, plus five
    new pages."""
    changed = pages.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % every == 0,
            F.concat(F.col("text"), F.lit("\n\nquokka zyzzyva appended paragraph.\n")),
        ).otherwise(F.col("text")),
    )
    new = synthetic_pages(pages.sparkSession, 5, seed=4243).withColumn(
        "url", F.concat(F.lit("https://fresh.example.com/"), F.col("url"))
    )
    return changed.unionByName(new)


def _build(spark, tmp_path_factory, name: str, n_pages: int, with_embeddings: bool = False):
    # small posting row groups: several per file, so footer pruning and
    # per-group lookups both matter
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "POSTINGS_ROW_GROUP_BYTES", 16 << 10)
        pages = synthetic_pages(spark, n_pages, seed=9)
        d = str(tmp_path_factory.mktemp(name))
        build_index(spark, pages, d, CONFIG, with_embeddings=with_embeddings)
    return IndexStore(spark, d, CONFIG.n_term_buckets), pages


@pytest.fixture(scope="module")
def gen_store(spark, tmp_path_factory) -> IndexStore:
    """An index with an appended postings generation on top of the build
    (and tombstones and embeddings, which share the cache's budget)."""
    store, pages = _build(spark, tmp_path_factory, "postcache", 120, with_embeddings=True)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "POSTINGS_ROW_GROUP_BYTES", 16 << 10)
        apply_incremental(spark, store, _mutate(pages, 7), CONFIG)
    return store


def _plain(files, columns, terms):
    """Oracle: every row group read plainly, filtered with ``is_in``."""
    parts = []
    for f in files:
        pf = pq.ParquetFile(f)
        t = pf.read_row_groups(list(range(pf.num_row_groups)), columns=columns)
        t = t.filter(pc.is_in(t.column("term"), value_set=pa.array(terms, pa.string())))
        if t.num_rows:
            parts.append(t)
    return pa.concat_tables(parts) if parts else None


def _same(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return got.schema == want.schema and got.to_pylist() == want.to_pylist()


def _vocab(files) -> list[str]:
    return sorted({t for f in files for t in pq.read_table(f, columns=["term"]).column("term").to_pylist()})


def _count_row_group_reads(monkeypatch) -> list:
    calls: list = []
    for name in ("read_row_group", "read_row_groups"):
        real = getattr(pq.ParquetFile, name)

        def counting(self, *a, _real=real, _name=name, **kw):
            calls.append((_name, id(self), repr(a)))
            return _real(self, *a, **kw)

        monkeypatch.setattr(pq.ParquetFile, name, counting)
    return calls


def _absent(vocab: list[str]) -> list[str]:
    # next to live terms in sort order, below the first and past the last
    near = ["", "\x00", vocab[0][:-1], vocab[len(vocab) // 2] + "x", "\uffff", "zzzz-absent"]
    return sorted(set(near) - set(vocab))


def test_read_matches_plain_read_multi_generation(gen_store, fresh_cache) -> None:
    store = gen_store
    files = store.data_files("postings")
    per_bucket = {b: store.partition_files("postings", {b}) for b in range(CONFIG.n_term_buckets)}
    assert any(len({f.parent for f in fs}) >= 2 for fs in per_bucket.values()), (
        "expected an appended postings generation"
    )
    assert sum(pq.ParquetFile(f).num_row_groups for f in files) > len(files), (
        "expected files with several row groups"
    )
    vocab = _vocab(files)
    absent = _absent(vocab)
    rng = random.Random(5)
    for trial in range(60):
        terms = rng.sample(vocab, rng.randint(0, 8)) + rng.sample(absent, rng.randint(0, 2))
        rng.shuffle(terms)
        cols = rng.choice(COLUMN_SETS) or tables_mod.POSTINGS_SCHEMA.fieldNames()
        for fs in (files, per_bucket[trial % CONFIG.n_term_buckets]):
            assert _same(local_exec._read_filtered(fs, cols, terms), _plain(fs, cols, terms)), trial
    assert local_exec._read_filtered(files, ["term"], absent) is None
    assert local_exec._read_filtered(files, ["term"], []) is None


def test_read_matches_plain_read_unsorted_file(tmp_path, fresh_cache) -> None:
    """No file is assumed sorted by term: a file written in shuffled term
    order (repeated terms scattered over row groups), next to a sorted one."""
    rng = np.random.default_rng(3)
    vocab = [f"t{i:03d}" for i in range(60)] + ["é", "\x01mark", "Zeta"]
    terms = rng.choice(vocab, size=700)
    t = pa.table({
        "term": pa.array(terms, pa.string()),
        "n_docs": pa.array(rng.integers(1, 16, 700), pa.int32()),
        "first_doc": pa.array(rng.integers(0, 1 << 40, 700), pa.int64()),
        "gaps": pa.array([bytes(rng.integers(0, 128, 3).astype(np.uint8)) for _ in range(700)], pa.binary()),
    })
    unsorted_f, sorted_f = tmp_path / "unsorted.parquet", tmp_path / "sorted.parquet"
    pq.write_table(t, unsorted_f, row_group_size=53)
    pq.write_table(t.sort_by("term"), sorted_f, row_group_size=53)
    files = [unsorted_f, sorted_f]
    pick = random.Random(8)
    for trial in range(80):
        q = pick.sample(vocab, pick.randint(1, 6)) + pick.sample(["t999", "a", "~"], pick.randint(0, 2))
        cols = pick.choice([["term", "n_docs"], ["gaps", "term", "first_doc"], ["first_doc", "term"]])
        for fs in (files, files[:1], files[::-1]):
            assert _same(local_exec._read_filtered(fs, cols, q), _plain(fs, cols, q)), trial
    # a rewritten file (new size) is never served from the old entry
    pq.write_table(t.slice(0, 400), unsorted_f, row_group_size=41)
    for q in (vocab[:5], vocab[10:30]):
        assert _same(
            local_exec._read_filtered(files, ["term", "n_docs"], q),
            _plain(files, ["term", "n_docs"], q),
        )


def _bucket_of(term: str) -> int:
    return term_bucket(term, CONFIG.n_term_buckets)


def _lanes_oracle(store: IndexStore, term: str):
    """Oracle: ``term``'s blocks read plainly from its bucket's files,
    decoded → (docs, tf, dl), or None when it has no blocks."""
    t = _plain(store.partition_files("postings", {_bucket_of(term)}), local_exec.POSTING_COLUMNS, [term])
    return None if t is None else codec.decode_posting_arrow(t)[:3]


def _by_term(pieces) -> dict[str, list[np.ndarray]]:
    """term → its lanes' (docs, tf, dl), pieces concatenated in order."""
    out: dict[str, list] = {}
    for *_, term, lanes in pieces:
        out.setdefault(term, []).append(lanes[:3])
    return {t: [np.concatenate(x) for x in zip(*ls)] for t, ls in out.items()}


def _lanes_ok(store: IndexStore, terms, want: dict) -> bool:
    got = _by_term(local_exec.term_lanes(store, terms))
    return set(got) == {t for t, w in want.items() if w is not None} and all(
        all(np.array_equal(g, w) for g, w in zip(got[t], want[t])) for t in got
    )


def test_lanes_match_plain_read(gen_store, fresh_cache) -> None:
    """Each (row group, term) entry equals a decode of a plain read of
    that group filtered to the term; each term's pieces, in order, equal
    a decode of its blocks read plainly; all pieces are in file row
    order."""
    store = gen_store
    files = store.data_files("postings")
    vocab = _vocab(files)
    absent = _absent(vocab)
    rng = random.Random(21)
    for trial in range(40):
        terms = rng.sample(vocab, rng.randint(1, 6)) + rng.sample(absent, rng.randint(0, 2))
        pieces = local_exec.term_lanes(store, terms)
        for path, g, check, term, (docs, tf, dl, offs) in pieces:
            assert check == local_exec._check(path)
            t = pq.ParquetFile(path).read_row_groups([g])
            want_docs, want_tf, want_dl, ns = codec.decode_posting_arrow(
                t.filter(pc.equal(t.column("term"), term))
            )
            for got, want in ((docs, want_docs), (tf, want_tf), (dl, want_dl)):
                np.testing.assert_array_equal(got, want)
                assert not got.flags.writeable, "cached lanes are read-only"
            np.testing.assert_array_equal(offs, np.concatenate(([0], np.cumsum(ns))))
        assert _lanes_ok(store, terms, {t: _lanes_oracle(store, t) for t in terms}), trial
        # (file, row group, term) order is file row order: every piece
        # concatenated equals a decode of the plain filtered read
        buckets = sorted({_bucket_of(t) for t in terms})
        plain = _plain([f for b in buckets for f in store.partition_files("postings", {b})],
                       local_exec.POSTING_COLUMNS, terms)
        if plain is None:
            assert pieces == []
            continue
        want = codec.decode_posting_arrow(plain)
        for i in range(3):
            np.testing.assert_array_equal(np.concatenate([p[4][i] for p in pieces]), want[i])
    # one entry per (file, row group, term) looked up, empty ones included
    keys = [k for k in local_exec._CACHE if k[0] == "lanes"]
    assert len(keys) == len(set(keys)) and any(
        local_exec._CACHE[k][1][0].size == 0 for k in keys
    ), "an absent term's lookup is kept empty"


def test_lanes_of_unsorted_file_match_plain_read(tmp_path, fresh_cache) -> None:
    """Lanes decoded together for several terms of groups whose block
    rows are in shuffled term order equal each term's own decode."""
    rng = np.random.default_rng(12)
    vocab = [f"t{i:02d}" for i in range(20)]
    rows = []
    for i, term in enumerate(rng.choice(vocab, size=300)):
        docs = np.sort(rng.choice(5000, size=int(rng.integers(1, 9)), replace=False)) + i
        tfs, dls = rng.integers(1, 300, docs.size), rng.integers(1, 70000, docs.size)
        rows.append({"term": str(term), **codec.encode_block(docs, tfs, dls)})
    t = pa.Table.from_pylist(rows)
    f = str(tmp_path / "unsorted.parquet")
    pq.write_table(t, f, row_group_size=70)
    cases = [(f, g) for g in range(pq.ParquetFile(f).num_row_groups)]
    # terms interleaved row by row: together their rows span one run
    # (0, 2, 1, 3) that is not in row order
    alt = str(tmp_path / "interleaved.parquet")
    pairs = [{**r, "term": "t01" if i % 2 else "t00"} for i, r in enumerate(rows[:4])]
    pq.write_table(pa.Table.from_pylist(pairs), alt)
    cases.append((alt, 0))
    for f, g in cases:
        terms = sorted(set(rng.choice(vocab + ["absent"], size=6).tolist()) | {"t00", "t01"})
        keys = [("lanes", f, g, term) for term in terms]
        got = local_exec._decode_lanes(keys, [local_exec._check(f)] * len(keys))
        plain = pq.ParquetFile(f).read_row_group(g)
        for term, ((docs, tf, dl, offs), nbytes) in zip(terms, got):
            one = plain.filter(pc.equal(plain.column("term"), term))
            want = codec.decode_posting_arrow(one)
            for a, b in zip((docs, tf, dl), want[:3]):
                np.testing.assert_array_equal(a, b)
            np.testing.assert_array_equal(offs, np.concatenate(([0], np.cumsum(want[3]))))
            assert nbytes == docs.nbytes + tf.nbytes + dl.nbytes + offs.nbytes


def _phrase_of(store: IndexStore) -> str:
    """Two adjacent tokens of an indexed chunk."""
    from rifflux_spark.functions.tokenizer import tokenize

    content = pq.read_table(store.data_files("chunks")[0], columns=["content"]).column("content")[3].as_py()
    toks = [t for t in tokenize(content) if t.isalpha()]
    return f"{toks[1]} {toks[2]}"


def test_warm_queries_decode_nothing(spark, gen_store, fresh_cache, monkeypatch) -> None:
    """A warm lexical, hybrid, fts and phrase call makes no varbyte
    decode: every posting comes from the cached lanes."""
    store = gen_store
    svc = SearchService(spark, store.root, CONFIG)
    vocab = [t for t in _vocab(store.data_files("postings")) if t.isalpha() and len(t) > 3]
    rng = random.Random(31)
    terms = rng.sample(vocab, 3)
    phrase = _phrase_of(store)
    calls: list[int] = []
    real = codec.decode_varbyte

    def counting(data, n=None):
        calls.append(len(data))
        return real(data, n)

    monkeypatch.setattr(codec, "decode_varbyte", counting)

    def serve():
        q = " ".join(terms)
        out = [svc.search(q, top_k=5, mode=mode) for mode in ("lexical", "hybrid", "fts")]
        out.append(svc.search(phrase, top_k=5, mode="phrase"))
        out.append(svc.fts(f"{terms[0][:2]}* OR ({terms[1]} NOT {terms[2]})", top_k=5))
        return out

    cold = serve()
    assert cold[0] and cold[3], "the probes need hits"
    assert calls, "a cold query decodes its postings"
    calls.clear()
    assert serve() == cold
    assert calls == []


def test_warm_reads_make_no_row_group_reads(gen_store, fresh_cache, monkeypatch) -> None:
    store = gen_store
    vocab = [t for t in _vocab(store.data_files("postings")) if t.isalpha()]
    rng = random.Random(13)
    seen = rng.sample(vocab, 3)
    calls = _count_row_group_reads(monkeypatch)
    cold = local_exec.bm25_topk_local(store, " ".join(seen), 10, CONFIG)
    assert cold and calls, "a cold query reads its covering groups"
    assert len(calls) == len(set(calls)), "each cold group is read once"
    calls.clear()
    assert local_exec.bm25_topk_local(store, " ".join(seen), 10, CONFIG) == cold
    assert calls == []

    # warm every row group of two buckets through earlier reads; a query
    # never run before, over terms of those buckets, then reads nothing
    warm_buckets = {_bucket_of(seen[0]), (_bucket_of(seen[0]) + 1) % CONFIG.n_term_buckets}
    in_warm = [t for t in vocab if _bucket_of(t) in warm_buckets]
    files = local_exec._bucket_files(store, "postings", warm_buckets)
    local_exec._read_filtered(files, ["term"], in_warm)
    fresh = [t for t in rng.sample(in_warm, 12) if t not in seen][:3]
    expected = local_exec.bm25_topk_local(store, " ".join(fresh), 10, CONFIG)
    calls.clear()
    assert local_exec.bm25_topk_local(store, " ".join(fresh), 10, CONFIG) == expected
    postings, _dl = ftsquery._local_postings(store, fresh[::-1])
    assert set(postings) == set(fresh)
    assert calls == []


def test_snapshot_changes_drop_stale_posting_groups(spark, tmp_path_factory, fresh_cache) -> None:
    store, pages = _build(spark, tmp_path_factory, "postcache_inval", 40)
    postings_dir = store.path("postings") + "/"
    vocab = [t for t in _vocab(store.data_files("postings")) if t.isalpha()]
    # one term per bucket: every query below syncs and reads all buckets
    probe = " ".join({_bucket_of(t): t for t in vocab}.values())

    fts_probe = " OR ".join(probe.split())

    def cached(kind: str = "group") -> set[str]:
        return {k[1] for k in local_exec._CACHE if k[0] == kind and k[1].startswith(postings_dir)}

    def check(step: str) -> set[str]:
        got = local_exec.bm25_topk_local(store, probe, 10, CONFIG)
        fts = ftsquery.fts_topk_local(store, fts_probe, 10, CONFIG)
        live = {str(f) for f in store.data_files("postings")}
        assert cached() <= live, f"{step}: cached groups of files outside the snapshot"
        assert cached("lanes") and cached("lanes") <= live, f"{step}: lanes of files outside the snapshot"
        # warm answers equal a cold cache's
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(local_exec, "_CACHE", OrderedDict())
            mp.setattr(local_exec, "_BYTES", 0)
            assert local_exec.bm25_topk_local(store, probe, 10, CONFIG) == got, step
            assert ftsquery.fts_topk_local(store, fts_probe, 10, CONFIG) == fts, step
        return live

    # warm every postings group of the build
    local_exec._read_filtered(
        local_exec._bucket_files(store, "postings", set(range(CONFIG.n_term_buckets))),
        ["term"], vocab,
    )
    check("build")
    res = apply_incremental(spark, store, _mutate(pages, 3), CONFIG, with_embeddings=False)
    assert res["tombstoned"] > 0
    check("apply")
    for step, fn in (("compact", compact), ("vacuum", vacuum)):
        before = cached() | cached("lanes")
        fn(spark, store, CONFIG)
        live = check(step)
        assert before - live, f"{step} should replace cached postings files"
    assert store.gc()["removed"] > 0
    check("gc")


def _rehydrate_oracle(store: IndexStore, ords) -> dict[int, dict]:
    want = pa.array(sorted(set(ords)), pa.int64())
    out: dict[int, dict] = {}
    for f in store.data_files("chunks"):
        t = pq.ParquetFile(f).read(columns=local_exec.CHUNK_DISPLAY_COLUMNS)
        for row in t.filter(pc.is_in(t.column("doc_ord"), value_set=want)).to_pylist():
            out[int(row["doc_ord"])] = row
    return out


def _mixed_batches(store: IndexStore, n: int):
    files = store.data_files("postings")
    vocab = _vocab(files)
    ords = sorted(
        o for f in store.data_files("chunks")
        for o in pq.read_table(f, columns=["doc_ord"]).column("doc_ord").to_pylist()
    )
    out = []
    for i in range(n):
        rng = random.Random(100 + i)
        terms = rng.sample(vocab, 4)
        cols = COLUMN_SETS[i % 3]
        chunk_ords = rng.sample(ords, 15)
        out.append((
            (files, cols, terms, _plain(files, cols, terms)),
            (chunk_ords, _rehydrate_oracle(store, chunk_ords)),
            {t: _lanes_oracle(store, t) for t in terms},
        ))
    return out


def _mixed_ok(store: IndexStore, batch) -> bool:
    (files, cols, terms, want_p), (ords, want_c), want_l = batch
    got_p = local_exec._read_filtered(files, cols, terms)
    lanes_ok = _lanes_ok(store, terms, want_l)
    got_c = local_exec.rehydrate_local(store, ords)
    return _same(got_p, want_p) and lanes_ok and list(got_c.items()) == list(want_c.items())


def _budget(store: IndexStore) -> int:
    """Room for every chunks group and about two posting groups: posting
    reads keep evicting, and both kinds of entry fit side by side."""
    chunks = 0
    for path, g, _, _ in local_exec._chunk_index(store):
        t = local_exec._cached_group(path, g, local_exec._check(path), "doc_ord", local_exec.CHUNK_DISPLAY_COLUMNS)[0]
        chunks += t.nbytes
    post = pq.ParquetFile(store.data_files("postings")[0]).read_row_group(0).nbytes
    return int(1.2 * chunks) + 3 * post


def _plain_tables(store: IndexStore):
    """Oracles of the table-level entries: vocabulary, dead ords and the
    embedding matrix, each read plainly."""
    ts = pa.concat_tables(pq.read_table(f, columns=["term", "df_docs"]) for f in store.data_files("term_stats"))
    vocab = dict(zip(ts.column("term").to_pylist(), ts.column("df_docs").to_pylist()))
    dead = sorted({
        o for name in ("tombstones", "purged") for f in store.data_files(name)
        for o in pq.read_table(f, columns=["doc_ord"]).column("doc_ord").to_pylist()
    })
    emb = pa.concat_tables(pq.read_table(f, columns=["doc_ord", "vec"]) for f in store.data_files("embeddings"))
    mat = np.stack([np.frombuffer(v, dtype=np.float32) for v in emb.column("vec").to_pylist()])
    return vocab, dead, emb.column("doc_ord").to_pylist(), mat


def _tables_ok(store: IndexStore, want) -> bool:
    vocab, dead, docs, mat = want
    got_docs, got_mat, _ = local_exec._emb_matrix(store)
    return (
        local_exec.term_stats_cached(store)[0] == vocab
        and local_exec.local_dead_ords(store).tolist() == dead
        and got_docs.tolist() == docs
        and np.array_equal(got_mat, mat)
    )


def test_shared_budget_holds_over_chunk_and_posting_entries(gen_store, fresh_cache, monkeypatch) -> None:
    """One budget over every kind of entry: row groups of chunks and
    postings, decoded posting lanes, footers, the vocabulary, dead-ord
    sets, the embedding matrix, the chunks row-group index and the
    tables' file lists."""
    store = gen_store
    batches = _mixed_batches(store, 16)
    tables_want = _plain_tables(store)
    assert tables_want[1], "expected tombstones"
    # plus room for the table-level entries and one batch's lanes
    assert _tables_ok(store, tables_want)
    tables = sum(e[2] for k, e in local_exec._CACHE.items() if k[0] in ("vocab", "ords", "matrix"))
    lanes = max(
        sum(sum(a.nbytes for a in p[4]) for p in local_exec.term_lanes(store, b[0][2])) for b in batches
    )
    bound = _budget(store) + tables + lanes + (1 << 10)
    monkeypatch.setattr(local_exec, "CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)
    chunks_dir = store.path("chunks") + "/"
    reads = _count_row_group_reads(monkeypatch)
    mixed = False
    seen: set[str] = set()
    for i, batch in enumerate(batches):
        assert _mixed_ok(store, batch), i
        assert _tables_ok(store, tables_want), i
        cache = local_exec._CACHE
        assert local_exec._BYTES <= bound
        assert local_exec._BYTES == sum(e[2] for e in cache.values())
        kinds = {k[1].startswith(chunks_dir) for k in cache if k[0] == "group"}
        mixed |= kinds == {True, False}
        seen |= {k[0] for k in cache}
    assert mixed, "chunk and posting entries should share the cache"
    assert seen == {"footer", "group", "lanes", "vocab", "ords", "matrix", "chunk_index", "files"}
    # every cold read inserts an entry: more reads than entries means
    # the bound evicted
    n_groups = sum(k[0] == "group" for k in local_exec._CACHE)
    assert len(reads) > n_groups + 10, "the bound should force evictions"


def test_concurrent_posting_reads_and_rehydrates(gen_store, fresh_cache, monkeypatch) -> None:
    """Eight threads mixing posting reads with rehydrates under a budget
    that forces constant eviction and a tiny switch interval: results
    stay exact and the byte count matches the entries."""
    import sys
    import threading

    store = gen_store
    batches = _mixed_batches(store, 12)
    bound = _budget(store)
    monkeypatch.setattr(local_exec, "CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)
    errors: list[str] = []

    def worker(w: int) -> None:
        for r in range(8):
            i = (w + r) % len(batches)
            if not _mixed_ok(store, batches[i]):
                errors.append(f"worker {w} batch {i}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    cache = local_exec._CACHE
    assert local_exec._BYTES == sum(e[2] for e in cache.values())
    assert local_exec._BYTES <= bound
