"""FTS5-style prefix indexes (operators/prefix.py): prefix-query
results must be BIT-IDENTICAL with and without the index (vs real
SQLite FTS5 and vs the expansion path), the indexed path must never
touch the vocabulary, corpus stats must not inflate, and incremental
applies must maintain the marker postings."""

from __future__ import annotations

import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index
from rifflux_spark.plans.incremental import apply_incremental
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

from tests.sqlite_oracle import SqliteOracle

CONFIG_PLAIN = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=2,
    embedding_dim=16,
)
CONFIG_PFX = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=2,
    embedding_dim=16, prefix_lengths=(3,),
)
N_DOCS = 100


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    pages = synthetic_pages(spark, N_DOCS, seed=23)
    plain_dir = str(tmp_path_factory.mktemp("pfxplain"))
    pfx_dir = str(tmp_path_factory.mktemp("pfxidx"))
    build_index(spark, pages, plain_dir, CONFIG_PLAIN, with_embeddings=False)
    build_index(spark, pages, pfx_dir, CONFIG_PFX, with_embeddings=False)
    store = IndexStore(spark, plain_dir, CONFIG_PLAIN.n_term_buckets)
    chunk_rows = (
        store.chunks()
        .orderBy("doc_ord")
        .select("doc_ord", "url", "chunk_id", "chunk_index", "heading_path", "content")
        .collect()
    )
    oracle = SqliteOracle()
    oracle.seed([r.asDict() for r in chunk_rows])
    yield plain_dir, pfx_dir, oracle
    oracle.close()


QUERIES = [
    "cac*",                      # indexed length (3)
    "the*",
    "ins*",
    "cac* OR ttl",               # boolean with indexed prefix
    '"custom ins*"',             # phrase with indexed prefix tail
    "NEAR(cac* the, 5)",         # NEAR with indexed prefix member
    "content:cac*",              # column filter forces recheck anyway
    "ca*",                       # NON-indexed length (2): expansion path
    "cach*",                     # NON-indexed length (4)
    "^cac*",                     # anchored prefix forces recheck
]


def _results(svc, q):
    return [
        (r["chunk_id"], round(r["bm25_score"], 9))
        for r in svc.fts(q, top_k=10)
    ]


# the coordinator ("local") is the one MATCH evaluator
@pytest.mark.parametrize("engine", ["local"])
def test_prefix_index_identical_to_expansion_and_fts5(
    indexes, spark, engine
) -> None:
    plain_dir, pfx_dir, oracle = indexes
    plain = SearchService(spark, plain_dir, CONFIG_PLAIN)
    pfx = SearchService(spark, pfx_dir, CONFIG_PFX)
    nonempty = 0
    for q in QUERIES:
        a = _results(plain, q)
        b = _results(pfx, q)
        assert a == b, f"index-vs-expansion mismatch for {q!r} ({engine})"
        want = oracle.match_search(q, top_k=10)
        assert [cid for cid, _ in b] == [r["chunk_id"] for r in want], q
        for (cid, s), w in zip(b, want):
            assert abs(s - w["bm25_score"]) < 1e-6, q
        nonempty += bool(want)
    assert nonempty >= 6


def test_indexed_prefix_skips_vocabulary_scan(indexes, spark, monkeypatch) -> None:
    """A prefix of a configured length must resolve to its marker term
    without ever calling the vocabulary expansion."""
    from rifflux_spark.operators import ftsquery

    plain_dir, pfx_dir, oracle = indexes
    svc = SearchService(spark, pfx_dir, CONFIG_PFX)

    def boom(store, prefix):
        raise AssertionError(f"vocabulary expansion called for {prefix!r}")

    monkeypatch.setattr(ftsquery, "expand_prefix_local", boom)
    out = svc.fts("cac* OR the*", top_k=5)
    assert out  # served entirely from marker postings
    # a NON-indexed length still needs the expansion -> boom fires and
    # the execution-time fallback turns the query into bare terms
    out2 = svc.fts("ttl", top_k=5)
    assert out2  # plain term queries unaffected


def test_corpus_stats_not_inflated_by_markers(indexes, spark) -> None:
    plain_dir, pfx_dir, _ = indexes
    a = IndexStore(spark, plain_dir, 8).corpus_stats()
    b = IndexStore(spark, pfx_dir, 8).corpus_stats()
    assert a == b, (a, b)


def test_prefix_layout_persisted(indexes, spark) -> None:
    plain_dir, pfx_dir, _ = indexes
    assert IndexStore(spark, pfx_dir, 8).prefix_lengths == (3,)
    assert IndexStore(spark, plain_dir, 8).prefix_lengths == ()


def test_incremental_apply_maintains_prefix_index(
    spark, tmp_path_factory
) -> None:
    """After an incremental apply (deletes + changes + adds), prefix
    queries on the prefix-indexed store must equal a from-scratch
    prefix-indexed rebuild of the same snapshot."""
    from pyspark.sql import functions as F

    pages = synthetic_pages(spark, 60, seed=3)
    survivors = pages.filter(F.xxhash64("url") % 7 != 0)
    nxt = survivors.unionByName(
        synthetic_pages(spark, 8, seed=777).withColumn(
            "url", F.concat(F.lit("https://new.example.com/"), F.col("url"))
        )
    )

    inc_dir = str(tmp_path_factory.mktemp("pfxinc"))
    build_index(spark, pages, inc_dir, CONFIG_PFX, with_embeddings=False)
    store = IndexStore(spark, inc_dir, CONFIG_PFX.n_term_buckets)
    res = apply_incremental(spark, store, nxt, CONFIG_PFX, with_embeddings=False)
    assert res["tombstoned"] > 0 and res["appended_chunks"] > 0

    full_dir = str(tmp_path_factory.mktemp("pfxfull"))
    build_index(spark, nxt, full_dir, CONFIG_PFX, with_embeddings=False)

    inc_svc = SearchService(spark, inc_dir, CONFIG_PFX)
    full_svc = SearchService(spark, full_dir, CONFIG_PFX)
    for q in ["cac*", "the* OR ins*", '"custom ins*"']:
        assert _results(inc_svc, q) == _results(full_svc, q), q

    # compaction rewrites marker blocks like any term blocks: results
    # stay identical and the tombstone set clears
    from rifflux_spark.plans.incremental import compact

    c = compact(spark, store, CONFIG_PFX)
    assert c["purged"] > 0 and not store.exists("tombstones")
    inc_svc2 = SearchService(spark, inc_dir, CONFIG_PFX)
    for q in ["cac*", "the* OR ins*"]:
        assert _results(inc_svc2, q) == _results(full_svc, q), q
