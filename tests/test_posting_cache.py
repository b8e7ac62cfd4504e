"""Coordinator posting reads through the shared decoded row-group cache
(``local_exec._read_filtered``): rows identical to a plain pyarrow read +
``is_in`` filter (absent terms, column subsets, appended generations, a
file not sorted by term), zero parquet row-group reads when warm — also
for a query never run before — no cached group outliving its file across
apply / compaction / vacuum, one byte budget over chunk and posting
entries, and threaded posting reads mixed with rehydrates."""

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
from rifflux_spark.operators import ftsquery, local_exec, wand
from rifflux_spark.plans.build import build_index
from rifflux_spark.plans.incremental import apply_incremental, compact, vacuum
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
    monkeypatch.setattr(local_exec, "_GROUP_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_GROUP_BYTES", 0)
    monkeypatch.setattr(local_exec, "_GROUP_SYNCED", {})


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


def _build(spark, tmp_path_factory, name: str, n_pages: int):
    # small posting row groups: several per file, so footer pruning and
    # per-group lookups both matter
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "POSTINGS_ROW_GROUP_BYTES", 16 << 10)
        pages = synthetic_pages(spark, n_pages, seed=9)
        d = str(tmp_path_factory.mktemp(name))
        build_index(spark, pages, d, CONFIG, with_embeddings=False)
    return IndexStore(spark, d, CONFIG.n_term_buckets), pages


@pytest.fixture(scope="module")
def gen_store(spark, tmp_path_factory) -> IndexStore:
    """An index with an appended postings generation on top of the build."""
    store, pages = _build(spark, tmp_path_factory, "postcache", 120)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "POSTINGS_ROW_GROUP_BYTES", 16 << 10)
        apply_incremental(spark, store, _mutate(pages, 7), CONFIG, with_embeddings=False)
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

    def cached() -> set[str]:
        return {p for p, _ in local_exec._GROUP_CACHE if p.startswith(postings_dir)}

    def check(step: str) -> set[str]:
        got = local_exec.bm25_topk_local(store, probe, 10, CONFIG)
        live = {str(f) for f in store.data_files("postings")}
        assert cached() <= live, f"{step}: cached groups of files outside the snapshot"
        # warm answers equal a cold cache's
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(local_exec, "_GROUP_CACHE", OrderedDict())
            mp.setattr(local_exec, "_GROUP_BYTES", 0)
            assert local_exec.bm25_topk_local(store, probe, 10, CONFIG) == got, step
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
        before = cached()
        fn(spark, store, CONFIG)
        live = check(step)
        assert before - live, f"{step} should replace cached postings files"


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
        ))
    return out


def _mixed_ok(store: IndexStore, batch) -> bool:
    (files, cols, terms, want_p), (ords, want_c) = batch
    got_p = local_exec._read_filtered(files, cols, terms)
    got_c = local_exec.rehydrate_local(store, ords)
    return _same(got_p, want_p) and list(got_c.items()) == list(want_c.items())


def _budget(store: IndexStore) -> int:
    """Room for every chunks group and about two posting groups: posting
    reads keep evicting, and both kinds of entry fit side by side."""
    sig, index = local_exec._chunk_rg_state(store)
    fsigs = {p: (m, s) for p, m, s in sig}
    chunks = 0
    for path, g, _, _ in index:
        t = local_exec._cached_group(path, g, fsigs[path], "doc_ord", local_exec.CHUNK_DISPLAY_COLUMNS)[0]
        chunks += t.nbytes
    post = pq.ParquetFile(store.data_files("postings")[0]).read_row_group(0).nbytes
    return int(1.2 * chunks) + 3 * post


def test_shared_budget_holds_over_chunk_and_posting_entries(gen_store, fresh_cache, monkeypatch) -> None:
    store = gen_store
    batches = _mixed_batches(store, 16)
    bound = _budget(store)
    monkeypatch.setattr(local_exec, "GROUP_CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_GROUP_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_GROUP_BYTES", 0)
    chunks_dir = store.path("chunks") + "/"
    reads = _count_row_group_reads(monkeypatch)
    mixed = False
    for i, batch in enumerate(batches):
        assert _mixed_ok(store, batch), i
        cache = local_exec._GROUP_CACHE
        assert local_exec._GROUP_BYTES <= bound
        assert local_exec._GROUP_BYTES == sum(e[4] for e in cache.values())
        kinds = {p.startswith(chunks_dir) for p, _ in cache}
        mixed |= kinds == {True, False}
    assert mixed, "chunk and posting entries should share the cache"
    # every cold read inserts an entry: more reads than entries means
    # the bound evicted
    assert len(reads) > len(local_exec._GROUP_CACHE) + 10, "the bound should force evictions"


def test_concurrent_posting_reads_and_rehydrates(gen_store, fresh_cache, monkeypatch) -> None:
    """Eight threads mixing posting reads with rehydrates under a budget
    that forces constant eviction and a tiny switch interval: results
    stay exact and the byte count matches the entries."""
    import sys
    import threading

    store = gen_store
    batches = _mixed_batches(store, 12)
    bound = _budget(store)
    monkeypatch.setattr(local_exec, "GROUP_CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_GROUP_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_GROUP_BYTES", 0)
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
    cache = local_exec._GROUP_CACHE
    assert local_exec._GROUP_BYTES == sum(e[4] for e in cache.values())
    assert local_exec._GROUP_BYTES <= bound
