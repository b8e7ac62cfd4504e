"""Phrase-mode correctness gate: rank- and score-identical top-k
between phrase mode (a one-phrase MATCH through operators/ftsquery.py)
and a real SQLite FTS5 phrase MATCH over the
same chunks — the same oracle discipline as
the term-query gate (test_bm25_rank_identity), extended to the
beyond-reference phrase operator.

Phrase picks are data-driven (bigrams/trigrams sampled from the built
corpus) so the test never goes vacuous when the synthetic vocabulary
shifts, plus fixed adversarial cases: a phrase whose tokens all exist
but never adjacently, a repeated-token phrase (overlap counting), a
single-token phrase (must equal the single-term lexical ranking), and
an unknown token (AND semantics -> [])."""

from __future__ import annotations

import random

import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.ftsparse import Unit
from rifflux_spark.functions.tokenizer import tokenize
from rifflux_spark.operators.ftsquery import count_unit, unit_instances
from rifflux_spark.plans.build import build_index
from rifflux_spark.service import SearchService
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

from tests.sqlite_oracle import SqliteOracle

N_DOCS = 120
CONFIG = EngineConfig(
    block_size=16,
    salt_range=64,
    n_term_buckets=8,
    n_build_shards=2,
    embedding_dim=64,
)


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("phraseidx"))
    build_index(
        spark,
        synthetic_pages(spark, N_DOCS, seed=11),
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
    yield index_dir, oracle, [r.asDict() for r in chunk_rows]
    oracle.close()


def _corpus_phrases(chunks) -> list[str]:
    """Sample real n-grams from the corpus: one common bigram, one rare
    bigram, one trigram, and a heading-path bigram (column isolation)."""
    from collections import Counter

    bigrams: Counter = Counter()
    trigrams: Counter = Counter()
    for c in chunks:
        toks = tokenize(c["content"])
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
        for a, b, c3 in zip(toks, toks[1:], toks[2:]):
            trigrams[(a, b, c3)] += 1
    assert bigrams and trigrams
    common_bg = " ".join(bigrams.most_common(1)[0][0])
    rare_bg = " ".join(
        min(bigrams.items(), key=lambda kv: (kv[1], kv[0]))[0]
    )
    tg = " ".join(trigrams.most_common(2)[-1][0])
    picks = [common_bg, rare_bg, tg]
    for c in chunks:
        htoks = tokenize(c["heading_path"])
        if len(htoks) >= 2:
            picks.append(" ".join(htoks[:2]))
            break
    return picks


def _nonadjacent_phrase(chunks) -> str | None:
    """Two tokens that co-occur in some doc but never adjacently."""
    from collections import Counter

    vocab: Counter = Counter()
    for c in chunks:
        vocab.update(tokenize(c["content"]))
    frequent = [t for t, _ in vocab.most_common(40)]
    for i, a in enumerate(frequent):
        for b in frequent[i + 1 :]:
            pair = Unit((a, b))
            coocc = adjacent = 0
            for c in chunks:
                toks = tokenize(c["content"]) + tokenize(c["heading_path"])
                if a in toks and b in toks:
                    coocc += 1
                    adjacent += count_unit(tokenize(c["content"]), pair)
                    adjacent += count_unit(tokenize(c["heading_path"]), pair)
            if coocc > 0 and adjacent == 0:
                return f"{a} {b}"
    return None


# the coordinator ("local") is the one MATCH evaluator
@pytest.mark.parametrize("engine", ["local"])
def test_phrase_rank_identity(built_index, spark, engine) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    # plus a repeated-token phrase (overlap counting) and a stopword
    for q in _corpus_phrases(chunks) + ["cache cache", "the"]:
        got = service.phrase(q, top_k=10)
        want = oracle.phrase_search(q, top_k=10)
        assert [r["chunk_id"] for r in got] == [
            r["chunk_id"] for r in want
        ], f"rank mismatch for phrase {q!r} ({engine})"
        for g, w in zip(got, want):
            assert abs(g["bm25_score"] - w["bm25_score"]) < 1e-6, (
                f"score mismatch for {q!r}: {g['bm25_score']} vs "
                f"{w['bm25_score']}"
            )
        assert want, f"vacuous phrase pick {q!r}"


# ``engine`` is the lexical engine the OR sanity check runs on
@pytest.mark.parametrize("engine", ["local", "spark"])
def test_phrase_adjacency_required(built_index, spark, engine) -> None:
    index_dir, oracle, chunks = built_index
    q = _nonadjacent_phrase(chunks)
    if q is None:
        pytest.skip("corpus has no co-occurring-but-never-adjacent pair")
    service = SearchService(spark, index_dir, CONFIG)
    assert service.phrase(q, top_k=10) == []
    assert oracle.phrase_search(q, top_k=10) == []
    # sanity: the same two tokens DO produce lexical (OR) hits
    assert service.lexical(q, top_k=10, engine=engine)


# a one-token phrase must equal lexical BM25 on either lexical engine
@pytest.mark.parametrize("engine", ["local", "spark"])
def test_single_token_phrase_equals_lexical(built_index, spark, engine) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    tok = tokenize(chunks[0]["content"])[0]
    ph = service.phrase(tok, top_k=10)
    lex = service.lexical(tok, top_k=10, engine=engine)
    assert [r["chunk_id"] for r in ph] == [r["chunk_id"] for r in lex]
    for a, b in zip(ph, lex):
        assert abs(a["bm25_score"] - b["bm25_score"]) < 1e-9


def test_phrase_edge_queries(built_index, spark) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    assert service.phrase("!!! ...", top_k=5) == []  # punctuation-only
    assert service.phrase("zzqqxxyyqq cache", top_k=5) == []  # unknown token
    assert service.search("!!!", top_k=5, mode="phrase") == []


def _instances_reference(tokens: list[str], unit: Unit) -> list[tuple[int, int]]:
    """Brute force: test every start position token by token."""
    p = unit.tokens
    m = len(p)
    if m == 0 or len(tokens) < m:
        return []
    out = []
    for i in [0] if unit.anchored else range(len(tokens) - m + 1):
        head = all(tokens[i + j] == p[j] for j in range(m - 1))
        tail = tokens[i + m - 1]
        if head and (tail.startswith(p[-1]) if unit.prefix else tail == p[-1]):
            out.append((i, i + m - 1))
    return out


def test_unit_instances_match_bruteforce() -> None:
    fixed = [
        # overlapping instances each count
        (["a", "a", "a"], Unit(("a", "a")), 2),
        (["a", "b", "a", "b", "a"], Unit(("a", "b", "a")), 2),
        (["x"], Unit(("x",)), 1),
        ([], Unit(("x",)), 0),
        (["x", "y"], Unit(()), 0),
        # prefix on the last token, anchored only at token 0
        (["ab", "abc", "b"], Unit(("ab",), prefix=True), 2),
        (["a", "abc", "a", "ab"], Unit(("a", "ab"), prefix=True), 2),
        (["a", "b", "a", "b"], Unit(("a", "b"), anchored=True), 1),
        (["b", "a", "b"], Unit(("a", "b"), anchored=True), 0),
    ]
    for tokens, unit, want in fixed:
        assert count_unit(tokens, unit) == want, (tokens, unit)
        assert unit_instances(tokens, unit) == _instances_reference(tokens, unit)

    rng = random.Random(7)
    vocab = ["a", "b", "ab", "ba", "abc", "c"]
    for _ in range(3000):
        tokens = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        unit = Unit(
            tuple(rng.choice(vocab) for _ in range(rng.randint(0, 4))),
            prefix=rng.random() < 0.3,
            anchored=rng.random() < 0.2,
        )
        want = _instances_reference(tokens, unit)
        assert unit_instances(tokens, unit) == want, (tokens, unit)
        assert count_unit(tokens, unit) == len(want)
