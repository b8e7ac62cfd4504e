"""``highlight()`` parity gate: byte-identical highlighted text vs real
SQLite FTS5 over the dense NEAR corpus (multi-instance overlap-merge
cases) AND the regular synthetic corpus, across the whole MATCH
language — terms, phrases, prefixes, boolean, column filters, NEAR,
anchors. Offsets land in the ORIGINAL text, so this also gates
tokenize_with_offsets' parity with the index tokenizer."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.tokenizer import tokenize, tokenize_with_offsets
from rifflux_spark.plans.build import build_index
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
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
    rows = []
    for i in range(n_docs):
        n = rng.randrange(24, 48)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        rows.append(
            (
                f"https://hl.example.com/page/{i:05d}",
                dt.datetime(2026, 1, 1),
                f"<html><body>{text}</body></html>".encode(),
                text,
                "en",
            )
        )
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


@pytest.fixture(scope="module")
def dense_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("hlidx"))
    build_index(
        spark, _dense_pages(spark, 60, seed=47), index_dir, CONFIG,
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


QUERIES = [
    "alpha",
    "alpha beta",
    '"alpha beta"',
    '"alpha alpha"',                 # overlapping instances merge
    "alph*",
    "^alpha",
    "alpha OR beta NOT gamma",
    "content:alpha",
    "heading_path:alpha OR beta",    # filtered col: no content marks
    "NEAR(alpha gamma, 1)",          # only participating instances mark
    "NEAR(alpha beta gamma, 3)",
    "alpha + beta",
    '(alpha OR beta) AND gamma',
]


def _assert_identical(service, oracle, q):
    got = service.highlight(q, top_k=10, marks=("[", "]"))
    want = oracle.highlight_search(q, top_k=10)
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want], q
    for g, w in zip(got, want):
        assert g["content_highlighted"] == w["content_hl"], (
            q,
            g["content_highlighted"],
            w["content_hl"],
        )
        assert g["heading_path_highlighted"] == w["heading_hl"], q
    return bool(want)


def test_highlight_fixed_battery(dense_index, spark) -> None:
    index_dir, oracle = dense_index
    service = SearchService(spark, index_dir, CONFIG)
    nonempty = sum(_assert_identical(service, oracle, q) for q in QUERIES)
    assert nonempty >= 9, "battery mostly vacuous"


def test_highlight_randomized(dense_index, spark) -> None:
    index_dir, oracle = dense_index
    service = SearchService(spark, index_dir, CONFIG)
    rng = random.Random(7)
    nonempty = 0
    for _ in range(40):
        r = rng.random()
        if r < 0.3:
            q = f"NEAR({rng.choice(VOCAB)} {rng.choice(VOCAB)}, {rng.randrange(0, 4)})"
        elif r < 0.5:
            q = f'"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"'
        elif r < 0.7:
            q = f"{rng.choice(VOCAB)} OR {rng.choice(VOCAB)[:3]}*"
        else:
            q = f"{rng.choice(VOCAB)} NOT {rng.choice(VOCAB)}"
        nonempty += _assert_identical(service, oracle, q)
    assert nonempty >= 10


def test_highlight_on_markdown_corpus(spark, tmp_path_factory) -> None:
    """Real markdown text (punctuation, headings, code spans): the
    offset mapping must place marks in the original text."""
    index_dir = str(tmp_path_factory.mktemp("hlmd"))
    build_index(
        spark, synthetic_pages(spark, 60, seed=5), index_dir, CONFIG,
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
    try:
        service = SearchService(spark, index_dir, CONFIG)
        for q in ["cache ttl", '"cache ttl"', "cach* OR policy", "^the"]:
            _assert_identical(service, oracle, q)
    finally:
        oracle.close()


def test_tokenize_with_offsets_parity() -> None:
    cases = [
        "The cache, and TTL policy cache!",
        "Ápple CAFÉ naïve  — done",
        "tab\tcache\nnewline",
        "",
        "!!!",
        "a",
        "ﬁne ligature",
    ]
    for text in cases:
        withoff = tokenize_with_offsets(text)
        assert [t for t, _s, _e in withoff] == tokenize(text), text
        for t, s, e in withoff:
            assert 0 <= s < e <= len(text), (text, t, s, e)


def _snippet_pair(service, oracle, q, n_tokens=10):
    got = service.snippet(
        q, top_k=10, n_tokens=n_tokens, marks=("[", "]"), ellipsis="…"
    )
    want = oracle.snippet_search(q, top_k=10, col=0, n_tokens=n_tokens)
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want], q
    return got, want


def _snippet_fidelity(service, oracle, queries_n) -> tuple[int, int]:
    """(exact_matches, total) vs FTS5 snippet(); also asserts the
    structural contract on every row: a non-empty snippet, correct
    ellipsis budget, and marks rendered with the same open/close
    tokens."""
    exact = total = 0
    for q, n in queries_n:
        got, want = _snippet_pair(service, oracle, q, n)
        for g, w in zip(got, want):
            total += 1
            if g["snippet"] == w["snip"]:
                exact += 1
            body = g["snippet"].strip("…")
            n_body_tokens = len(
                tokenize(body.replace("[", " ").replace("]", " "))
            )
            assert 0 < n_body_tokens <= n, (q, n, g["snippet"])
    return exact, total


def test_snippet_fidelity_fixed(dense_index, spark) -> None:
    """Window selection now reimplements FTS5's actual algorithm
    (fts5_aux.c — see snippet_column docstring), so the gate is EXACT
    match on every row, not a fidelity floor."""
    index_dir, oracle = dense_index
    service = SearchService(spark, index_dir, CONFIG)
    qn = [(q, n) for q in QUERIES for n in (6, 10, 17)]
    exact, total = _snippet_fidelity(service, oracle, qn)
    assert total >= 100
    assert exact == total, f"snippet fidelity {exact}/{total}"


def test_snippet_fidelity_randomized(dense_index, spark) -> None:
    index_dir, oracle = dense_index
    service = SearchService(spark, index_dir, CONFIG)
    rng = random.Random(13)
    qn = []
    for _ in range(30):
        r = rng.random()
        if r < 0.35:
            q = f'"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"'
        elif r < 0.7:
            q = f"{rng.choice(VOCAB)} OR {rng.choice(VOCAB)[:3]}*"
        else:
            q = f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"
        qn.append((q, rng.choice([5, 8, 12, 20])))
    exact, total = _snippet_fidelity(service, oracle, qn)
    assert total >= 60
    assert exact == total, f"snippet fidelity {exact}/{total}"


def test_snippet_on_markdown_corpus(spark, tmp_path_factory) -> None:
    """Markdown text has real sentence punctuation — the regime the
    sentence-aware window rule was fitted for."""
    index_dir = str(tmp_path_factory.mktemp("snipmd"))
    build_index(
        spark, synthetic_pages(spark, 60, seed=5), index_dir, CONFIG,
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
    try:
        service = SearchService(spark, index_dir, CONFIG)
        qn = [
            (q, n)
            for q in ["cache ttl", '"cache ttl"', "cach* OR policy", "the data"]
            for n in (8, 15)
        ]
        exact, total = _snippet_fidelity(service, oracle, qn)
        assert exact == total, f"snippet fidelity {exact}/{total}"
    finally:
        oracle.close()
