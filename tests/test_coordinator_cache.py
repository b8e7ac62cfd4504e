"""The one coordinator cache in ``operators/local_exec.py``: the embedding
matrix decoded into one preallocated array equals a plain pyarrow read,
a warm query of any mode stats no parquet file of a generation dir, and
no open handle outlives its file across apply, compaction, vacuum and
gc."""

from __future__ import annotations

import os
from collections import OrderedDict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.operators import local_exec
from rifflux_spark.plans.build import build_index
from rifflux_spark.plans.incremental import apply_incremental, compact, vacuum
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=4, n_build_shards=1, embedding_dim=16
)


@pytest.fixture()
def fresh_cache(monkeypatch):
    monkeypatch.setattr(local_exec, "_CACHE", OrderedDict())
    monkeypatch.setattr(local_exec, "_BYTES", 0)


def _emb_table(rng, ords, dim: int) -> pa.Table:
    vecs = rng.standard_normal((len(ords), dim)).astype(np.float32)
    vecs[::7] = 0.0  # zero-norm rows
    return pa.table({
        "doc_ord": pa.array(ords, pa.int64()),
        "chunk_id": pa.array([f"c{o}" for o in ords], pa.string()),
        "model": pa.array(["m"] * len(ords), pa.string()),
        "dim": pa.array([dim] * len(ords), pa.int32()),
        "vec": pa.array([v.tobytes() for v in vecs], pa.binary()),
    })


def _emb_store(spark, root: Path, tables: list[pa.Table]) -> IndexStore:
    """A store whose embeddings entry is one generation dir per table."""
    dirs = []
    for i, t in enumerate(tables):
        d = root / "embeddings" / f"g-test{i:04d}"
        d.mkdir(parents=True)
        pq.write_table(t, d / "part-0.parquet", row_group_size=37)
        dirs.append(f"embeddings/g-test{i:04d}")
    store = IndexStore(spark, str(root), CONFIG.n_term_buckets)
    store.manifest.commit({"embeddings": {"dirs": dirs}})
    return store


def test_matrix_matches_plain_read(spark, tmp_path, fresh_cache) -> None:
    rng = np.random.default_rng(17)
    tables = [
        _emb_table(rng, list(range(0, 300, 3)), 24),
        _emb_table(rng, [], 24),  # an empty file
        _emb_table(rng, list(range(1000, 1091)), 24),
        _emb_table(rng, [5000], 24),
    ]
    store = _emb_store(spark, tmp_path / "idx", tables)
    assert sum(pq.ParquetFile(f).num_row_groups for f in store.data_files("embeddings")) > 4
    docs, mat, norms = local_exec._emb_matrix(store)

    plain = pa.concat_tables(pq.read_table(f) for f in store.data_files("embeddings"))
    want = np.stack([np.frombuffer(v, dtype=np.float32) for v in plain.column("vec").to_pylist()])
    np.testing.assert_array_equal(docs, plain.column("doc_ord").to_numpy())
    assert mat.dtype == np.float32 and mat.flags.c_contiguous
    np.testing.assert_array_equal(mat, want)
    np.testing.assert_array_equal(norms, np.linalg.norm(want, axis=1))
    assert local_exec._emb_matrix(store)[1] is mat, "a warm call is served from the cache"

    empty = _emb_store(spark, tmp_path / "empty", [_emb_table(rng, [], 8)])
    assert local_exec._emb_matrix(empty) is None


def test_matrix_rejects_mixed_dims(spark, tmp_path, fresh_cache) -> None:
    rng = np.random.default_rng(3)
    store = _emb_store(
        spark, tmp_path / "idx",
        [_emb_table(rng, list(range(40)), 16), _emb_table(rng, list(range(40, 90)), 8)],
    )
    with pytest.raises(ValueError, match="mixed dims or corrupt vec"):
        local_exec._emb_matrix(store)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pages = synthetic_pages(spark, 60, seed=31)
    d = str(tmp_path_factory.mktemp("coordcache"))
    build_index(spark, pages, d, CONFIG)
    return IndexStore(spark, d, CONFIG.n_term_buckets), pages


def _serve_every_mode(svc: SearchService) -> None:
    for mode in ("lexical", "hybrid", "semantic", "phrase", "fts"):
        assert svc.search("cache ttl policy", top_k=5, mode=mode) is not None
    svc.fts("cache OR tt* NOT zzzz", top_k=5)
    svc.phrase("cache ttl", top_k=5)
    svc.highlight("cache ttl", top_k=5)


def test_warm_queries_stat_no_parquet_file(spark, built, monkeypatch) -> None:
    store, _ = built
    svc = SearchService(spark, store.root, CONFIG)
    assert svc.search("cache ttl policy", top_k=5, mode="lexical"), "the probe needs hits"
    _serve_every_mode(svc)
    stats: list[str] = []
    real = os.stat

    def counting(path, *a, **kw):
        if os.fspath(path).endswith(".parquet"):
            stats.append(os.fspath(path))
        return real(path, *a, **kw)

    with svc.store.read_snapshot():
        monkeypatch.setattr(os, "stat", counting)
        _serve_every_mode(svc)
        monkeypatch.undo()
    assert stats == []


def _deleted_handles(root: str) -> list[str]:
    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            target = os.readlink(f"/proc/self/fd/{fd}")
        except OSError:  # closed between listdir and readlink
            continue
        if target.startswith(root) and target.endswith("(deleted)"):
            out.append(target)
    return out


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="needs /proc/self/fd")
def test_no_handle_outlives_its_file(spark, built) -> None:
    store, pages = built
    root = os.path.realpath(store.root)
    svc = SearchService(spark, store.root, CONFIG)
    _serve_every_mode(svc)
    nxt = pages.filter(F.xxhash64("url") % 5 != 0).withColumn(
        "text",
        F.when(F.xxhash64("url") % 3 == 0, F.concat(F.col("text"), F.lit("\n\nquokka cache.\n")))
        .otherwise(F.col("text")),
    )
    res = apply_incremental(spark, store, nxt, CONFIG)
    assert res["tombstoned"] > 0
    _serve_every_mode(svc)
    compact(spark, store, CONFIG)
    _serve_every_mode(svc)
    vacuum(spark, store, CONFIG)
    _serve_every_mode(svc)
    assert store.gc()["removed"] > 0
    _serve_every_mode(svc)
    assert _deleted_handles(root) == []
