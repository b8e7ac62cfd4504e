"""THE correctness gate: rank-identical BM25 top-k (docIDs + scores,
|Δ|<1e-6 on the negated-score convention) between the Spark posting index
and a real SQLite FTS5 database built from the same chunks (SURVEY.md §5
item 2), on the reference query set plus edge queries, on both
engines, in exact mode and under the default posting budget."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

from tests.sqlite_oracle import SqliteOracle

# reference scripts/benchmark_awesome_copilot.py:26-32 + test queries
QUERIES = [
    "custom instructions",
    "agent skills",
    "mcp server",
    "prompt files",
    "vscode settings",
    "cache ttl",
    "protocol tools",
    "cache policy",
    "streamable-http",
    "server setup, tools registration",
    "python mcp agent file .agent.md",
    "the data",          # stopword-heavy: exercises skew/many-block path
    "varbyte delta fusion",
]

N_DOCS = 120
CONFIG = EngineConfig(
    block_size=16,      # small blocks → many blocks per term
    salt_range=64,      # multiple salt runs per common term
    n_term_buckets=8,
    n_build_shards=2,
    embedding_dim=64,
)


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    pages = synthetic_pages(spark, N_DOCS, seed=7)
    build_index(spark, pages, index_dir, CONFIG, with_embeddings=True)
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)
    chunk_rows = (
        store.chunks()
        .orderBy("doc_ord")
        .select("doc_ord", "url", "chunk_id", "chunk_index", "heading_path", "content")
        .collect()
    )
    # doc ords must be strictly increasing in (url, chunk_index) order —
    # the rowid-parity invariant (values are sparse by design: stride gaps
    # at partition boundaries)
    ords = [r["doc_ord"] for r in chunk_rows]
    assert all(a < b for a, b in zip(ords, ords[1:]))
    assert sorted(chunk_rows, key=lambda r: (r["url"], r["chunk_index"])) == chunk_rows
    oracle = SqliteOracle()
    oracle.seed([r.asDict() for r in chunk_rows])
    yield index_dir, oracle
    oracle.close()


@pytest.mark.parametrize(
    "engine,exact",
    [("spark", False), ("spark", True), ("local", False), ("local", True)],
)
def test_bm25_rank_identity(built_index, spark, engine, exact) -> None:
    """Both execution paths — the distributed plan and the coordinator
    short-circuit (operators/local_exec.py) — must be rank- and
    score-identical to the FTS5 oracle, both in exact mode
    (``lexical_budget_postings=0``) and under the default budget, which
    every query here stays within."""
    index_dir, oracle = built_index
    config = dataclasses.replace(CONFIG, lexical_budget_postings=0) if exact else CONFIG
    assert (config.lexical_budget_postings == 0) == exact
    service = SearchService(spark, index_dir, config)
    for query in QUERIES:
        expected = oracle.lexical_search(query, top_k=10)
        got = service.lexical(query, top_k=10, engine=engine)
        exp_ids = [r["chunk_id"] for r in expected]
        got_ids = [r["chunk_id"] for r in got]
        assert got_ids == exp_ids, (
            f"query={query!r} engine={engine} exact={exact}\n exp={exp_ids}\n got={got_ids}"
        )
        for e, g in zip(expected, got):
            assert abs(e["bm25_score"] - g["bm25_score"]) < 1e-6, (
                f"query={query!r} chunk={e['chunk_id']}: "
                f"fts5={e['bm25_score']} engine={engine}={g['bm25_score']}"
            )
            assert e["path"] == g["path"]
            assert e["heading_path"] == g["heading_path"]
            assert e["chunk_index"] == g["chunk_index"]
            assert e["content"] == g["content"]


def test_punctuation_only_query_returns_empty(built_index, spark) -> None:
    index_dir, _ = built_index
    service = SearchService(spark, index_dir, CONFIG)
    assert service.search('.,:()"', top_k=5, mode="lexical") == []


def test_unknown_terms_return_empty(built_index, spark) -> None:
    index_dir, _ = built_index
    service = SearchService(spark, index_dir, CONFIG)
    assert service.lexical("zzzzqqqq xxyyzz", top_k=5) == []


def test_semantic_local_matches_spark(built_index, spark) -> None:
    """The coordinator semantic path must equal the distributed scan."""
    index_dir, _ = built_index
    service = SearchService(spark, index_dir, CONFIG)
    qv = service.embed_query("cache ttl policy")
    loc = service.semantic(qv, top_k=8, engine="local")
    spk = service.semantic(qv, top_k=8, engine="spark")
    assert [r["chunk_id"] for r in loc] == [r["chunk_id"] for r in spk]
    for a, b in zip(loc, spk):
        assert abs(a["cosine"] - b["cosine"]) < 1e-6


def test_topk_larger_than_matches(built_index, spark) -> None:
    index_dir, oracle = built_index
    service = SearchService(spark, index_dir, CONFIG)
    expected = oracle.lexical_search("tombstone", top_k=200)
    got = service.lexical("tombstone", top_k=200)
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in expected]
