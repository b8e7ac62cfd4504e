"""Parser/service robustness fuzz: arbitrary query strings must either
parse or raise FtsSyntaxError — never any other exception — and the
service-level fts() must ALWAYS return a list (the reference's
query-error fallback contract, sqlite_store.py:246-254, generalized to
the full MATCH language)."""

from __future__ import annotations

import random
import string

import pytest

from rifflux_spark.functions.ftsparse import (
    FtsSyntaxError,
    NearGroup,
    Unit,
    collect_units,
    leaf_groups,
    match_and_actives,
    parse_fts,
)

_CHARS = (
    string.ascii_letters
    + string.digits
    + ' ()"*^+-:{},'
    + "  ÀÉïß漢字🙂\t\n.!?"
)


def _random_query(rng: random.Random) -> str:
    n = rng.randrange(0, 40)
    return "".join(rng.choice(_CHARS) for _ in range(n))


def _structured_query(rng: random.Random) -> str:
    """Grammar-adjacent generator: mostly-valid with mutations."""
    parts = []
    for _ in range(rng.randrange(1, 6)):
        r = rng.random()
        w = rng.choice(["cache", "ttl", "alpha", "the", "naïve"])
        if r < 0.2:
            parts.append(f'"{w} {rng.choice(["x", "y"])}"')
        elif r < 0.3:
            parts.append(f"{w}*")
        elif r < 0.4:
            parts.append(rng.choice(["AND", "OR", "NOT"]))
        elif r < 0.5:
            parts.append(rng.choice(["(", ")", "^" + w, "content:" + w]))
        elif r < 0.6:
            parts.append(f"NEAR({w} ttl, {rng.randrange(0, 9)})")
        else:
            parts.append(w)
    return " ".join(parts)


def test_parser_never_crashes() -> None:
    rng = random.Random(1234)
    parsed = errors = 0
    for i in range(3000):
        q = _random_query(rng) if i % 2 else _structured_query(rng)
        try:
            ast = parse_fts(q)
        except FtsSyntaxError:
            errors += 1
            continue
        parsed += 1
        if ast is None:
            continue
        # the AST folds must be total as well
        units = collect_units(ast)
        assert len(leaf_groups(ast)) == len(units)
        presence = [bool(u.tokens) for u in units]
        # NB: with plain Python bools the NOT branch goes through
        # bitwise ~ (ints) — intermediate values stay in {0, 1} with
        # correct truthiness, which is what highlight's fold relies on
        m, act = match_and_actives(ast, lambda j: presence[j])
        assert int(m) in (0, 1)
        for v in act.values():
            assert int(v) in (0, 1)
    # both generators must actually exercise both outcomes
    assert parsed > 500 and errors > 500, (parsed, errors)


def test_service_fts_total_on_garbage(spark, tmp_path_factory) -> None:
    """End-to-end: fts()/phrase()/highlight()/snippet() return lists on
    arbitrary garbage without raising."""
    from rifflux_spark.config import EngineConfig
    from rifflux_spark.plans.build import build_index
    from rifflux_spark.service import SearchService
    from rifflux_spark.sources.pages import synthetic_pages

    cfg = EngineConfig(
        block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=1,
        embedding_dim=16,
    )
    idx = str(tmp_path_factory.mktemp("fuzzidx"))
    build_index(spark, synthetic_pages(spark, 40, seed=9), idx, cfg,
                with_embeddings=False)
    svc = SearchService(spark, idx, cfg)
    rng = random.Random(77)
    for i in range(40):
        q = _random_query(rng) if i % 2 else _structured_query(rng)
        assert isinstance(svc.fts(q, top_k=3), list), q
    for q in ['((((', 'NEAR(', '":"', "^*", "+ +", "a NOT NOT b"]:
        assert isinstance(svc.fts(q, top_k=3), list), q
        assert isinstance(svc.highlight(q, top_k=3), list), q
        assert isinstance(svc.snippet(q, top_k=3), list), q


def test_prefix_overexpansion_falls_back(spark, tmp_path_factory, monkeypatch) -> None:
    """FtsSyntaxError can surface at EXECUTION time (vocabulary
    expansion past MAX_PREFIX_EXPANSION); the service must apply the
    bare-terms fallback there too, not propagate (regression for the
    escape found in review)."""
    from rifflux_spark import service as service_mod
    from rifflux_spark.config import EngineConfig
    from rifflux_spark.operators import ftsquery
    from rifflux_spark.plans.build import build_index
    from rifflux_spark.service import SearchService
    from rifflux_spark.sources.pages import synthetic_pages

    cfg = EngineConfig(
        block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=1,
        embedding_dim=16,
    )
    idx = str(tmp_path_factory.mktemp("expidx"))
    build_index(spark, synthetic_pages(spark, 40, seed=9), idx, cfg,
                with_embeddings=False)
    svc = SearchService(spark, idx, cfg)
    monkeypatch.setattr(ftsquery, "MAX_PREFIX_EXPANSION", 1)
    # 'w*' expands to the whole synthetic vocab -> raises internally;
    # fallback runs the bare token 'w' (not an index term -> [])
    out = svc.fts("w* OR cache", top_k=5)
    assert isinstance(out, list)
    # a plain query still works under the tiny cap
    assert isinstance(svc.fts("cache ttl", top_k=5), list)
