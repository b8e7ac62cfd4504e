"""FTS5 MATCH language gate: rank- and score-identical top-k between
operators/ftsquery.py and real SQLite FTS5 on
raw MATCH expressions — terms, ``tok*`` prefixes, quoted phrases,
AND / OR / NOT, parentheses, and their compositions.

Query picks are data-driven where adjacency/vocabulary matters so the
battery never goes vacuous, and every semantic pin the module claims
(structure-independent score sum, per-unit df, prefix tf summation,
operator precedence, implicit AND) is exercised by at least one query.
Parser unit tests live at the bottom.
"""

from __future__ import annotations

import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.ftsparse import (
    FtsSyntaxError,
    Unit,
    parse_fts,
)
from rifflux_spark.functions.tokenizer import tokenize
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
    index_dir = str(tmp_path_factory.mktemp("ftsidx"))
    build_index(
        spark,
        synthetic_pages(spark, N_DOCS, seed=23),
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


def _vocab(chunks):
    from collections import Counter

    vocab: Counter = Counter()
    bigrams: Counter = Counter()
    for c in chunks:
        toks = tokenize(c["content"])
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    return vocab, bigrams


def _queries(chunks) -> list[str]:
    vocab, bigrams = _vocab(chunks)
    common = [t for t, _ in vocab.most_common(6)]
    mid = [t for t, n in vocab.most_common() if 3 <= n <= 10][:4]
    assert len(common) >= 4 and len(mid) >= 2, "corpus too small for battery"
    # a prefix with >1 vocabulary expansion
    prefix = None
    by_prefix: dict[str, set] = {}
    for t in vocab:
        if len(t) >= 3:
            by_prefix.setdefault(t[:3], set()).add(t)
    for p, ts in sorted(by_prefix.items()):
        if len(ts) >= 2:
            prefix = p
            break
    assert prefix is not None
    bg = " ".join(bigrams.most_common(1)[0][0])
    c0, c1, c2, c3 = common[:4]
    m0, m1 = mid[:2]
    return [
        f"{c0} {m0}",                      # implicit AND
        f"{c0} AND {m0}",                  # explicit AND (same result)
        f"{c0} OR {m0}",                   # OR union + per-doc partial sums
        f"{c0} NOT {m0}",                  # NOT difference
        f"{prefix}*",                      # bare prefix (tf summed, df union)
        f"{c0} {prefix}*",                 # AND with prefix
        f'"{bg}" OR {m1}',                 # phrase unit in boolean context
        f"({c0} OR {m0}) NOT {m1}",        # parens + NOT
        f"{c0} OR {m0} AND {m1}",          # precedence: AND binds tighter
        f"({c0} OR {m0}) AND ({c1} OR {m1})",
        f"{c0} {c1} {c2} NOT {c3}",        # implicit AND chain + NOT
        f"{c0} OR {c0}",                   # repeated unit scores twice
        f"{m0} NOT zzqqxxyyneverthere",    # NOT of an unknown term
        f"zzqqxxyyneverthere OR {m0}",     # OR with an unknown term
        # column filters: scoped tf/df (probed), negated set, brace set
        f"content:{c0}",
        f"heading_path:{c0}",
        f"-content:{c0}",
        f"{{content heading_path}}:{c0}",  # = unfiltered
        f"content:{prefix}* OR {m0}",      # filtered prefix in boolean
        f'heading_path:"{bg}" OR content:{m1}',
        # '^' anchors (first token of a column) and '+' phrase glue
        f"^{c0}",
        f'^"{bg}"',
        f"content:^{c0} OR {m0}",
        bg.replace(" ", " + "),            # 'a + b' ≡ '"a b"'
        f"^{prefix}*",                     # anchored prefix
    ]


# the coordinator ("local") is the one MATCH evaluator
@pytest.mark.parametrize("engine", ["local"])
def test_fts_match_rank_identity(built_index, spark, engine) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    n_nonempty = 0
    for q in _queries(chunks):
        got = service.fts(q, top_k=10)
        want = oracle.match_search(q, top_k=10)
        assert [r["chunk_id"] for r in got] == [
            r["chunk_id"] for r in want
        ], f"rank mismatch for MATCH {q!r} ({engine})"
        for g, w in zip(got, want):
            assert abs(g["bm25_score"] - w["bm25_score"]) < 1e-6, (
                f"score mismatch for MATCH {q!r}: "
                f"{g['bm25_score']} vs {w['bm25_score']}"
            )
        n_nonempty += bool(want)
    assert n_nonempty >= 10, "battery mostly vacuous"


def test_fts_syntax_error_falls_back_to_bare_terms(built_index, spark) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    vocab, _ = _vocab(chunks)
    c0, c1 = [t for t, _ in vocab.most_common(2)]
    # unbalanced paren → reference contract: retry bare terms (= AND)
    got = service.fts(f"({c0} {c1}", top_k=10)
    want = oracle.match_search(f"{c0} {c1}", top_k=10)
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want]
    assert service.fts("!!! ...", top_k=5) == []


def test_fts_mode_in_search(built_index, spark) -> None:
    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    vocab, _ = _vocab(chunks)
    c0 = vocab.most_common(1)[0][0]
    out = service.search(f"{c0}*", top_k=3, mode="fts")
    assert out and all("bm25" in r["score_breakdown"] for r in out)


# ------------------------------------------------------------------ parser


def test_parser_shapes() -> None:
    u = parse_fts("cache")
    assert u == Unit(("cache",), False)
    assert parse_fts("cach*") == Unit(("cach",), True)
    assert parse_fts('"cache ttl"') == Unit(("cache", "ttl"), False)
    assert parse_fts('"cache tt"*') == Unit(("cache", "tt"), True)
    # foo_bar tokenizes to a 2-token phrase (FTS5 behavior)
    assert parse_fts("foo_bar") == Unit(("foo", "bar"), False)
    kind, l, r = parse_fts("a b OR c")
    assert kind == "or" and l == ("and", Unit(("a",),), Unit(("b",),))
    kind, l, r = parse_fts("a OR b AND c")
    assert kind == "or" and r[0] == "and"
    # juxtaposition binds TIGHTER than NOT (probed against FTS5):
    # 'a NOT b c' ≡ 'a NOT (b c)'
    kind, l, r = parse_fts("a NOT b c")
    assert kind == "not" and r == ("and", Unit(("b",),), Unit(("c",),))
    assert parse_fts("(a OR b) NOT c")[0] == "not"
    # '...' is an illegal bareword in FTS5 (ASCII punctuation) — raises,
    # and the service-level fallback turns it into [] (tested below)
    with pytest.raises(FtsSyntaxError):
        parse_fts("...")
    assert parse_fts("—") is None  # non-ASCII separator folds to nothing
    # lowercase keywords are terms
    assert parse_fts("a or b") == (
        "and",
        ("and", Unit(("a",),), Unit(("or",),)),
        Unit(("b",),),
    )
    from rifflux_spark.functions.ftsparse import NearGroup

    near = parse_fts("NEAR(a b, 3)")
    assert isinstance(near, NearGroup) and near.n == 3
    assert parse_fts("NEAR(a b)").n == 10  # default distance
    assert parse_fts("^a") == Unit(("a",), anchored=True)
    assert parse_fts("a + b") == parse_fts('"a b"')
    bad = [
        "(a", "a)", "AND a", "a OR", 'a "', "a NOT",
        "(a) (b)",          # juxtaposition joins units only (FTS5 errors)
        "a (b OR c)",       # ditto
        "NEAR(a b",         # unbalanced NEAR
        "NEAR(a b, x)",     # non-integer distance
        "badcol:a",         # unknown column
        "state-of-the-art", # FTS5-illegal bareword punctuation
        "don't",            # ditto
        "a +", "+ a",       # dangling phrase glue
        "a* + b",           # '*' only on the glued unit's last part
        "a*b",              # non-trailing star
    ]
    for q in bad:
        with pytest.raises(FtsSyntaxError):
            parse_fts(q)


def test_engines_agree_on_randomized_queries(built_index, spark) -> None:
    """The coordinator evaluator agrees with SQLite FTS5 on randomized
    MATCH queries — seeded compositions of phrases, prefixes, NEAR
    groups, column filters and bare terms under OR / NOT / AND /
    juxtaposition, the corners the fixed battery does not enumerate."""
    import random as _random

    index_dir, oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    vocab, bigrams = _vocab(chunks)
    common = [t for t, _ in vocab.most_common(8)]
    rng = _random.Random(31337)
    for _ in range(12):
        parts = []
        for _ in range(rng.randrange(1, 4)):
            r = rng.random()
            w = rng.choice(common)
            if r < 0.25:
                parts.append(f'"{w} {rng.choice(common)}"')
            elif r < 0.4:
                parts.append(f"{w[:3]}*")
            elif r < 0.55:
                parts.append(f"NEAR({w} {rng.choice(common)}, {rng.randrange(0, 6)})")
            elif r < 0.7:
                parts.append(f"content:{w}")
            else:
                parts.append(w)
        glue = rng.choice([" ", " OR ", " NOT ", " AND "])
        q = glue.join(parts)
        got = service.fts(q, top_k=10)
        want = oracle.match_search(q, top_k=10)
        assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in want], q
        for g, w in zip(got, want):
            assert abs(g["bm25_score"] - w["bm25_score"]) < 1e-6, q


def _jobs_started(spark, group: str, fn):
    """(fn's result, ids of the Spark jobs it started), counted by
    running it under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_match_queries_start_no_spark_job(built_index, spark) -> None:
    """fts, phrase, highlight and snippet run on the coordinator: once
    warm, none of them starts a Spark job — including a phrase of the
    index's two highest-df tokens, the class the widest candidate
    recheck comes from."""
    from collections import Counter

    index_dir, _oracle, chunks = built_index
    service = SearchService(spark, index_dir, CONFIG)
    df = Counter(
        t
        for c in chunks
        for t in set(tokenize(c["content"]) + tokenize(c["heading_path"]))
    )
    d0, d1 = [t for t, _ in df.most_common(2)]
    calls = [
        lambda: service.fts(f"{d0} OR {d1[:3]}* NOT zzqqxxyyneverthere", top_k=10),
        lambda: service.fts(f"NEAR({d0} {d1}, 5) OR content:{d1}", top_k=10),
        lambda: service.phrase(f"{d0} {d1}", top_k=10),
        lambda: service.highlight(f'"{d0} {d1}" OR {d0}', top_k=10),
        lambda: service.snippet(f"{d0} {d1}", top_k=10),
    ]
    for call in calls:
        call()  # warm-up: a first read may plan on Spark
    # the probe sees jobs: a Spark action under its group is counted
    _, control = _jobs_started(spark, "match-probe-control", spark.range(3).count)
    assert control
    results, jobs = _jobs_started(
        spark, "match-probe", lambda: [call() for call in calls]
    )
    assert results[0] and results[3], "vacuous MATCH probe"
    assert jobs == []
