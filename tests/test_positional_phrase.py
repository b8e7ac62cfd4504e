"""Positional-postings gate (operators/positions.py, opt-in via
``EngineConfig.store_positions``).

Round-4 verdict item #5: phrase/NEAR should narrow by position
intersection, with the candidate-recheck path kept as the oracle. This
suite pins:

- codec roundtrip for the column-strided delta+varbyte poslists;
- rank+score identity of the positional phrase path against BOTH the
  recheck path (same queries, twin index without positions) AND real
  SQLite FTS5 phrase MATCH, on both execution engines;
- incremental applies append poslists and tombstoned docs never
  resurface — including across compact(), which must purge the
  positional blocks in the same snapshot commit;
- the distributed positional plan touches the positions table only:
  no chunk-table scan, candidates bounded by position-intersected df.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

from tests.sqlite_oracle import SqliteOracle
from tests.test_phrase_rank_identity import _corpus_phrases

N_DOCS = 120
CONFIG = EngineConfig(
    block_size=16,
    salt_range=64,
    n_term_buckets=8,
    n_build_shards=2,
    embedding_dim=64,
    store_positions=True,
)
CONFIG_PLAIN = EngineConfig(
    block_size=16,
    salt_range=64,
    n_term_buckets=8,
    n_build_shards=2,
    embedding_dim=64,
)


@pytest.fixture(scope="module")
def twin_indexes(spark, tmp_path_factory):
    pos_dir = str(tmp_path_factory.mktemp("positionalidx"))
    plain_dir = str(tmp_path_factory.mktemp("plainidx"))
    pages = synthetic_pages(spark, N_DOCS, seed=11)
    build_index(spark, pages, pos_dir, CONFIG, with_embeddings=False)
    build_index(spark, pages, plain_dir, CONFIG_PLAIN, with_embeddings=False)
    store = IndexStore(spark, pos_dir, CONFIG.n_term_buckets)
    assert store.has_positions()
    chunk_rows = (
        store.chunks()
        .orderBy("doc_ord")
        .select("doc_ord", "url", "chunk_id", "chunk_index", "heading_path", "content")
        .collect()
    )
    oracle = SqliteOracle()
    oracle.seed([r.asDict() for r in chunk_rows])
    yield pos_dir, plain_dir, oracle, [r.asDict() for r in chunk_rows]
    oracle.close()


def test_positions_codec_roundtrip() -> None:
    from rifflux_spark.operators.codec import (
        decode_positions_flat,
        encode_positions_flat,
    )

    rng = np.random.RandomState(3)
    for _ in range(100):
        pos = [
            np.unique(rng.randint(0, 2_200_000, size=rng.randint(0, 9)))
            for _ in range(rng.randint(1, 12))
        ]
        counts = np.array([len(p) for p in pos])
        flat = (
            np.concatenate(pos) if counts.sum() else np.array([], dtype=np.int64)
        )
        assert np.array_equal(
            decode_positions_flat(encode_positions_flat(flat, counts), counts), flat
        )


def test_phrase_instance_starts_semantics() -> None:
    from rifflux_spark.operators.codec import POS_COL_STRIDE
    from rifflux_spark.operators.positions import phrase_instance_starts

    a = np.array([0, 2, 3, 10], dtype=np.int64)
    b = np.array([1, 3, 4, 11], dtype=np.int64)
    # "a b": starts where a at p, b at p+1
    assert phrase_instance_starts([a, b]).tolist() == [0, 2, 3, 10]
    # repeated token "a a": overlap counting
    aa = np.array([5, 6, 7], dtype=np.int64)
    assert phrase_instance_starts([aa, aa]).tolist() == [5, 6]
    # column boundary: content-final + heading-first are NOT adjacent
    c = np.array([9], dtype=np.int64)
    h = np.array([POS_COL_STRIDE + 0], dtype=np.int64)
    assert phrase_instance_starts([c, h]).size == 0


@pytest.mark.parametrize("engine", ["local", "spark"])
def test_positional_matches_recheck_and_sqlite(twin_indexes, spark, engine) -> None:
    pos_dir, plain_dir, oracle, chunks = twin_indexes
    pos_svc = SearchService(spark, pos_dir, CONFIG)
    plain_svc = SearchService(spark, plain_dir, CONFIG_PLAIN)
    for q in _corpus_phrases(chunks) + ["cache cache", "the"]:
        got = pos_svc.phrase(q, top_k=10, engine=engine)
        recheck = plain_svc.phrase(q, top_k=10, engine=engine)
        want = oracle.phrase_search(q, top_k=10)
        key = lambda rs: [(r["chunk_id"], round(r["bm25_score"], 6)) for r in rs]
        assert key(got) == key(recheck), f"positional != recheck for {q!r}"
        assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want], (
            f"rank mismatch vs sqlite for {q!r} ({engine})"
        )
        for g, w in zip(got, want):
            assert abs(g["bm25_score"] - w["bm25_score"]) < 1e-6


def test_positional_plan_never_touches_chunks(twin_indexes, spark) -> None:
    """The distributed positional phrase plan: term filters pushed into
    the POSITIONS scan (partition + predicate), no chunks-table scan,
    no text rehydration join, top-k is TakeOrderedAndProject."""
    from rifflux_spark.operators.ftsquery import fts_topk
    from tests.test_physical_plans import explain_str

    pos_dir, _, _, _ = twin_indexes
    store = IndexStore(spark, pos_dir, CONFIG.n_term_buckets)
    df = fts_topk(spark, store, '"cache ttl"', top_k=5)
    plan = explain_str(df)
    assert "PartitionFilters" in plan and "term_bucket" in plan
    assert "In(term, [cache,ttl])" in plan
    assert "TakeOrderedAndProject" in plan
    # the whole plan reads ONLY the positions table — candidate volume
    # is position-intersected df, never text rehydration
    assert "/chunks/" not in plan and "content" not in plan
    assert "/positions/" in plan or "positions" in plan
    rows = df.collect()
    assert rows and all(r["bm25_score"] < 0 for r in rows)


def test_incremental_appends_and_compact_purges_positions(
    spark, tmp_path_factory
) -> None:
    from rifflux_spark.plans.incremental import apply_incremental, compact

    pages = synthetic_pages(spark, 60, seed=21)
    # next crawl: drop every 6th, change every 5th, add 8 new
    survivors = pages.filter(F.xxhash64("url") % 6 != 0)
    mutated = survivors.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n\nphrase probe tombstone varbyte appended.\n")),
        ).otherwise(F.col("text")),
    )
    extra = synthetic_pages(spark, 8, seed=4242).withColumn(
        "url", F.concat(F.lit("https://newsite.example.com/"), F.col("url"))
    )
    nxt = mutated.unionByName(extra.select(*mutated.columns))

    inc_dir = str(tmp_path_factory.mktemp("incpos"))
    build_index(spark, pages, inc_dir, CONFIG, with_embeddings=False)
    store = IndexStore(spark, inc_dir, CONFIG.n_term_buckets)
    res = apply_incremental(spark, store, nxt, CONFIG, with_embeddings=False)
    assert res["tombstoned"] > 0 and res["appended_chunks"] > 0

    full_dir = str(tmp_path_factory.mktemp("fullpos"))
    build_index(spark, nxt, full_dir, CONFIG, with_embeddings=False)

    inc_svc = SearchService(spark, inc_dir, CONFIG)
    full_svc = SearchService(spark, full_dir, CONFIG)

    def contents(rows):
        # tie-insensitive: doc_ord tie-breaks legitimately differ
        # between an incremental and a from-scratch index (different
        # ordinal assignment), so sort within equal scores by content
        return sorted((round(r["bm25_score"], 6), r["content"]) for r in rows)

    probes = ["phrase probe", "tombstone varbyte", "cache ttl", "the index"]
    for q in probes:
        for engine in ("local", "spark"):
            assert contents(inc_svc.phrase(q, top_k=300, engine=engine)) == contents(
                full_svc.phrase(q, top_k=300, engine=engine)
            ), f"incremental positional phrase diverges for {q!r} ({engine})"

    # compact() must purge dead docs from the positional blocks in the
    # same snapshot commit that drops the tombstone set
    before = {q: contents(inc_svc.phrase(q, top_k=300, engine="local")) for q in probes}
    stats = compact(spark, store, CONFIG)
    assert stats["purged"] > 0
    assert not store.exists("tombstones")
    inc_svc2 = SearchService(spark, inc_dir, CONFIG)
    for q in probes:
        assert (
            contents(inc_svc2.phrase(q, top_k=300, engine="local")) == before[q]
        ), f"compact changed positional phrase results for {q!r}"
        assert contents(inc_svc2.phrase(q, top_k=300, engine="spark")) == before[q]

    # vacuum: full physical rewrite must rebuild the positional table
    # from live chunks and keep every phrase result identical
    from rifflux_spark.plans.incremental import vacuum

    vstats = vacuum(spark, store, CONFIG)
    assert vstats["purged"] > 0
    inc_svc3 = SearchService(spark, inc_dir, CONFIG)
    assert store.has_positions()
    for q in probes:
        assert (
            contents(inc_svc3.phrase(q, top_k=300, engine="local")) == before[q]
        ), f"vacuum changed positional phrase results for {q!r}"
