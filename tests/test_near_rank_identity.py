"""NEAR operator gate: rank+score identity against real SQLite FTS5 on
a DENSE small-vocabulary corpus (repeated tokens force multi-instance
participation, the hard part of NEAR's bm25 tf), plus randomized
differential queries — the participation model
(operators/ftsquery.near_trim) was derived from probes, so the random
battery is the guard against a corner FTS5 behaves differently in."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index
from rifflux_spark.service import SearchService
from rifflux_spark.sources.tables import IndexStore

from tests.sqlite_oracle import SqliteOracle

CONFIG = EngineConfig(
    block_size=16,
    salt_range=64,
    n_term_buckets=8,
    n_build_shards=1,
    embedding_dim=16,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "xray"]


def _dense_pages(spark, n_docs: int, seed: int):
    rng = random.Random(seed)
    base_ts = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(n_docs):
        # long enough to clear min_chunk_chars (120) in one chunk
        n = rng.randrange(24, 48)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        rows.append(
            (
                f"https://dense.example.com/page/{i:05d}",
                base_ts,
                f"<html><body>{text}</body></html>".encode(),
                text,
                "en",
            )
        )
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("nearidx"))
    build_index(
        spark,
        _dense_pages(spark, 80, seed=31),
        index_dir,
        CONFIG,
        with_embeddings=False,
    )
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)
    chunk_rows = (
        store.chunks()
        .orderBy("doc_ord")
        .select("doc_ord", "url", "chunk_id", "chunk_index", "heading_path", "content")
        .collect()
    )
    oracle = SqliteOracle()
    oracle.seed([r.asDict() for r in chunk_rows])
    yield index_dir, oracle
    oracle.close()


FIXED = [
    "NEAR(alpha beta)",
    "NEAR(alpha beta, 0)",
    "NEAR(alpha beta, 1)",
    "NEAR(alpha beta gamma, 2)",
    "NEAR(alpha alpha, 1)",          # self-NEAR: repeated phrase
    "NEAR(alpha bet*, 1)",           # prefix member
    'NEAR("alpha beta" gamma, 2)',   # phrase member
    "NEAR(alpha beta, 0) OR gamma",  # in boolean context
    "delta NOT NEAR(alpha beta, 0)",
    "content:NEAR(alpha beta, 1)",   # column-filtered group
    "NEAR(alpha zznever, 3)",        # unknown member -> []
    '"alpha beta" gamma',            # phrase unit in boolean context
    "^alpha beta",                   # anchored phrase
    'content:"alpha beta"',          # column-filtered phrase
    '"alpha beta" OR xr* NOT gamma',
]


def _check(service, oracle, q: str, engine: str = "local") -> bool:
    got = service.fts(q, top_k=10)
    want = oracle.match_search(q, top_k=10)
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want], (
        f"rank mismatch for MATCH {q!r} ({engine}): "
        f"{[r['chunk_id'][:6] for r in got]} vs {[r['chunk_id'][:6] for r in want]}"
    )
    for g, w in zip(got, want):
        assert abs(g["bm25_score"] - w["bm25_score"]) < 1e-6, (
            f"score mismatch for {q!r} ({engine}): "
            f"{g['bm25_score']} vs {w['bm25_score']}"
        )
    return bool(want)


# the coordinator ("local") is the one MATCH evaluator
@pytest.mark.parametrize("engine", ["local"])
def test_near_fixed_battery(built_index, spark, engine) -> None:
    index_dir, oracle = built_index
    service = SearchService(spark, index_dir, CONFIG)
    nonempty = sum(_check(service, oracle, q, engine) for q in FIXED)
    assert nonempty >= 9, "battery mostly vacuous"


def test_near_randomized_differential(built_index, spark) -> None:
    """60 random NEAR queries (random members incl. phrases/prefixes,
    random N)."""
    index_dir, oracle = built_index
    service = SearchService(spark, index_dir, CONFIG)
    rng = random.Random(99)
    nonempty = 0
    for _ in range(60):
        k = rng.randrange(2, 4)
        members = []
        for _ in range(k):
            r = rng.random()
            if r < 0.55:
                members.append(rng.choice(VOCAB))
            elif r < 0.8:
                members.append(rng.choice(VOCAB)[:3] + "*")
            else:
                members.append(
                    f'"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"'
                )
        n = rng.randrange(0, 5)
        q = f"NEAR({' '.join(members)}, {n})"
        nonempty += _check(service, oracle, q)
    assert nonempty >= 15, f"only {nonempty}/60 queries matched anything"


def test_build_survives_all_subminimum_corpus(spark, tmp_path_factory) -> None:
    """A corpus whose every page falls below min_chunk_chars stages
    ZERO postings; the build must still commit an empty-but-valid
    index (regression: the tf_stage read used to crash on schema
    inference over the empty parquet dir)."""
    import datetime as dt2

    rows = [
        (f"https://tiny.example.com/p/{i:03d}", dt2.datetime(2026, 1, 1),
         b"<html></html>", "hi", "en")
        for i in range(5)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    idx = str(tmp_path_factory.mktemp("emptyidx"))
    build_index(spark, pages, idx, CONFIG, with_embeddings=False)
    store = IndexStore(spark, idx, CONFIG.n_term_buckets)
    assert store.chunks().count() == 0
    service = SearchService(spark, idx, CONFIG)
    assert service.search("anything", top_k=3, mode="lexical") == []
