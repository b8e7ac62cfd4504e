"""The decoded chunk row-group cache behind ``local_exec.rehydrate_local``:
rows identical to a plain pyarrow read (absent ordinals, appended
generations, narrowed columns), invalidation across incremental applies
and vacuum, the LRU byte bound, and zero parquet reads when warm; and a
lexical or semantic search rehydrating only the rows it returns, with
the same rows as a rehydrate of every candidate when a hit has no chunk
row."""

from __future__ import annotations

import json
import random
import shutil
from collections import OrderedDict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.operators import local_exec
from rifflux_spark.plans.build import build_index
from rifflux_spark.plans.incremental import apply_incremental, vacuum
from rifflux_spark.service import SearchService
from rifflux_spark.sources import tables as tables_mod
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=4, n_build_shards=1, embedding_dim=16
)
MARKER = "zyzzyva quokka marker paragraph"


def _mutate(pages, every: int):
    """Next crawl: every ``every``-th page gains a marker paragraph, plus
    five new pages (an appended generation either way)."""
    changed = pages.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % every == 0,
            F.concat(F.col("text"), F.lit(f"\n\n{MARKER}.\n")),
        ).otherwise(F.col("text")),
    )
    new = synthetic_pages(pages.sparkSession, 5, seed=4242).withColumn(
        "url", F.concat(F.lit("https://fresh.example.com/"), F.col("url"))
    )
    return changed.unionByName(new)


def _plain(store: IndexStore, ords, columns=None) -> dict[int, dict]:
    """Oracle: filter every chunks file read whole with pyarrow."""
    cols = columns or local_exec.CHUNK_DISPLAY_COLUMNS
    want = pa.array(sorted(set(ords)), pa.int64())
    out: dict[int, dict] = {}
    for f in store.data_files("chunks"):
        t = pq.ParquetFile(f).read(columns=cols)
        for row in t.filter(pc.is_in(t.column("doc_ord"), value_set=want)).to_pylist():
            out[int(row["doc_ord"])] = row
    return out


def _all_ords(store: IndexStore) -> dict:
    """doc_ords per chunks file."""
    return {
        f: pq.ParquetFile(f).read(columns=["doc_ord"]).column("doc_ord").to_pylist()
        for f in store.data_files("chunks")
    }


def _same(got: dict, want: dict) -> bool:
    # byte identity: row order, key order and values
    return json.dumps(list(got.items())) == json.dumps(list(want.items()))


@pytest.fixture()
def fresh_cache(monkeypatch):
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)


def _group_paths(prefix: str = "") -> set[str]:
    """Files with a decoded row group in the coordinator cache."""
    return {k[1] for k in local_exec._CACHE if k[0] == "group" and k[1].startswith(prefix)}


def _n_groups() -> int:
    return sum(k[0] == "group" for k in local_exec._CACHE)


def _build(spark, tmp_path_factory, name: str, n_pages: int) -> tuple[IndexStore, object]:
    # small row groups: many groups per file, so lookups cross groups
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "CHUNKS_ROW_GROUP_BYTES", 64 << 10)
        pages = synthetic_pages(spark, n_pages, seed=7)
        d = str(tmp_path_factory.mktemp(name))
        build_index(spark, pages, d, CONFIG, with_embeddings=False)
        store = IndexStore(spark, d, CONFIG.n_term_buckets)
    return store, pages


@pytest.fixture(scope="module")
def appended_store(spark, tmp_path_factory) -> IndexStore:
    """An index with an appended generation on top of the build."""
    store, pages = _build(spark, tmp_path_factory, "chunkcache", 120)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables_mod, "CHUNKS_ROW_GROUP_BYTES", 64 << 10)
        apply_incremental(spark, store, _mutate(pages, 9), CONFIG, with_embeddings=False)
    return store


def test_cache_matches_plain_read(appended_store, fresh_cache) -> None:
    store = appended_store
    per_file = _all_ords(store)
    gens = {}
    for f, ords in per_file.items():
        gens.setdefault(f.parent, []).extend(ords)
    assert len(gens) >= 2, "expected an appended chunks generation"
    total_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in per_file)
    assert total_groups >= 6
    first, *_, last = sorted(gens.values(), key=min)
    live = sorted(o for ords in per_file.values() for o in ords)
    # ordinals are sparse (salted runs): probe gaps next to live ones,
    # below the first and past the last
    absent = sorted(({o + 1 for o in live} | {o - 1 for o in live} | {-3, live[-1] + 40}) - set(live))
    assert absent, "sparse ordinals should leave gaps"

    rng = random.Random(11)
    for trial in range(40):
        ords = (
            rng.sample(first, min(len(first), rng.randint(0, 12)))
            + rng.sample(last, min(len(last), rng.randint(1, 8)))
            + rng.sample(absent, rng.randint(0, 6))
        )
        rng.shuffle(ords)
        assert _same(local_exec.rehydrate_local(store, ords), _plain(store, ords)), trial
        narrow = ["doc_ord", "content", "heading_path"]
        assert _same(
            local_exec.rehydrate_local(store, ords, columns=narrow),
            _plain(store, ords, narrow),
        ), trial
    assert local_exec.rehydrate_local(store, []) == {}
    assert local_exec.rehydrate_local(store, absent[:5]) == {}


def test_cache_stays_under_byte_bound(appended_store, fresh_cache, monkeypatch) -> None:
    store = appended_store
    live = sorted(o for ords in _all_ords(store).values() for o in ords)
    # room for ~two decoded groups
    one = _chunk_group_nbytes(store)
    bound = 2 * one + one // 2
    monkeypatch.setattr(local_exec, "CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)
    n_groups = len(local_exec._chunk_index(store))
    for i in range(0, len(live), 25):
        ords = live[i : i + 25]
        assert _same(local_exec.rehydrate_local(store, ords), _plain(store, ords))
        cache = local_exec._CACHE
        assert local_exec._BYTES <= bound
        assert local_exec._BYTES == sum(e[2] for e in cache.values())
    assert 0 < _n_groups() < n_groups


def _first_group(store: IndexStore):
    path, g, _, _ = local_exec._chunk_index(store)[0]
    return path, g, local_exec._check(path)


def _chunk_group_nbytes(store: IndexStore) -> int:
    t = local_exec._cached_group(
        *_first_group(store), "doc_ord", local_exec.CHUNK_DISPLAY_COLUMNS
    )[0]
    return t.nbytes


def test_warm_rehydrate_reads_no_row_groups(appended_store, fresh_cache, monkeypatch) -> None:
    store = appended_store
    live = sorted(o for ords in _all_ords(store).values() for o in ords)
    ords = random.Random(3).sample(live, 20)
    calls = []
    real = pq.ParquetFile.read_row_group

    def counting(self, *a, **kw):
        calls.append((id(self), *a))
        return real(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    cold = local_exec.rehydrate_local(store, ords)
    assert calls, "a cold rehydrate reads its covering groups"
    assert len(calls) == len(set(calls)), "each cold group is read once"
    calls.clear()
    assert _same(local_exec.rehydrate_local(store, ords), cold)
    local_exec.rehydrate_local(store, ords[:5], columns=["doc_ord", "content", "heading_path"])
    assert calls == []


def test_apply_and_vacuum_invalidate(spark, tmp_path_factory, fresh_cache) -> None:
    store, pages = _build(spark, tmp_path_factory, "chunkcache_apply", 40)
    before = _all_ords(store)
    # warm every group of the built generation
    local_exec.rehydrate_local(store, [o for ords in before.values() for o in ords])
    assert _group_paths()

    res = apply_incremental(spark, store, _mutate(pages, 4), CONFIG, with_embeddings=False)
    assert res["tombstoned"] > 0
    after = _all_ords(store)
    fresh = [o for f, ords in after.items() if f not in before for o in ords]
    got = local_exec.rehydrate_local(store, fresh)
    assert sorted(got) == sorted(fresh)
    assert any(MARKER in c["content"] for c in got.values())
    all_live = [o for ords in after.values() for o in ords]
    assert _same(local_exec.rehydrate_local(store, all_live), _plain(store, all_live))
    hits = SearchService(spark, store.root, CONFIG).search(MARKER, top_k=3, mode="lexical")
    assert hits and all(MARKER in h["content"] for h in hits)

    # vacuum rewrites the chunks table: no entry may outlive its file
    # postings groups share the cache (the search above): chunks only
    chunks_dir = store.path("chunks") + "/"
    cached_before = _group_paths(chunks_dir)
    vacuum(spark, store, CONFIG)
    live_files = {str(f) for f in store.data_files("chunks")}
    assert cached_before - live_files, "vacuum should replace cached files"
    final = [o for ords in _all_ords(store).values() for o in ords]
    assert _same(local_exec.rehydrate_local(store, final), _plain(store, final))
    cached = _group_paths(chunks_dir)
    assert cached <= live_files


def test_concurrent_rehydrates_keep_cache_consistent(appended_store, fresh_cache, monkeypatch) -> None:
    """Searches and a background reindex share the cache: with a budget
    that forces constant eviction and a tiny switch interval, threaded
    rehydrates stay correct and the byte count matches the entries."""
    import sys
    import threading

    store = appended_store
    live = sorted(o for ords in _all_ords(store).values() for o in ords)
    batches = [random.Random(i).sample(live, 20) for i in range(12)]
    want = [_plain(store, b) for b in batches]
    bound = 3 * _chunk_group_nbytes(store)
    monkeypatch.setattr(local_exec, "CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)
    errors: list[str] = []

    def worker(w: int) -> None:
        for r in range(10):
            i = (w + r) % len(batches)
            if not _same(local_exec.rehydrate_local(store, batches[i]), want[i]):
                errors.append(f"worker {w} batch {i}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    cache = local_exec._CACHE
    assert local_exec._BYTES == sum(e[2] for e in cache.values())
    assert local_exec._BYTES <= bound


def test_search_rehydrates_only_returned_rows(spark, tmp_path_factory, monkeypatch) -> None:
    """Lexical and semantic searches rehydrate their ``top_k`` rows, not
    all 2×``top_k`` candidates; when a top-``top_k`` hit has no chunk
    row (written out of a copy of the chunks table), later candidates
    fill in and the rows equal those of a rehydrate of every candidate
    (``lexical``/``semantic`` without ``limit``)."""
    pages = synthetic_pages(spark, 40, seed=11)
    src = str(tmp_path_factory.mktemp("rehydrate_src"))
    build_index(spark, pages, src, CONFIG)
    q, k = "cache ttl policy data", 5
    svc = SearchService(spark, src, CONFIG)
    cand = k * CONFIG.candidate_multiplier
    lex = svc.lexical(q, cand)
    sem = svc.semantic(svc.embed_query(q), cand)
    assert len(lex) == cand and len(sem) == cand, "the probe needs 2×top_k candidates"

    calls: list[int] = []
    real = local_exec.rehydrate_local

    def counting(store, ords, columns=None):
        calls.append(len(ords))
        return real(store, ords, columns)

    monkeypatch.setattr(local_exec, "rehydrate_local", counting)
    for mode in ("lexical", "semantic"):
        calls.clear()
        assert len(svc.search(q, top_k=k, mode=mode)) == k
        assert calls == [k], mode

    # drop the chunk rows of the lexical and semantic 2nd hits
    dropped = {r["chunk_id"] for r in (lex[1], sem[1])}
    root = str(tmp_path_factory.mktemp("rehydrate_copy")) + "/idx"
    shutil.copytree(src, root)
    copy = IndexStore(spark, root, CONFIG.n_term_buckets)
    for f in copy.data_files("chunks"):
        t = pq.read_table(f)
        keep = pc.invert(pc.is_in(t.column("chunk_id"), value_set=pa.array(sorted(dropped))))
        if not pc.all(keep).as_py():
            pq.write_table(t.filter(keep), f)
    svc = SearchService(spark, root, CONFIG)
    monkeypatch.undo()
    want_lex = [
        {**r, "score_breakdown": {"bm25": r["bm25_score"]}} for r in svc.lexical(q, cand)[:k]
    ]
    vec = svc.embed_query(q)
    want_sem = [
        {**r, "score_breakdown": {"cosine": r["cosine"]}} for r in svc.semantic(vec, cand)[:k]
    ]
    assert len(want_lex) == k and not dropped & {r["chunk_id"] for r in want_lex + want_sem}
    assert svc.search(q, top_k=k, mode="lexical") == want_lex
    assert svc.search(q, top_k=k, mode="semantic") == want_sem
