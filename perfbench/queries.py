"""Query generator: queries derived from the built index's ``term_stats``
by document-frequency class, each recorded with its class and Σdf.

Classes and their boundaries (checked on every generated query, so a new
corpus or seed cannot silently move a query across a routing line):

- ``selective``: 2–3 rare/mid-df terms with Σdf ≤ 2% of live chunks —
  interactive traffic the coordinator path serves;
- ``head``: 2–4 Zipf-head terms, each in ≥ 50% of live chunks, so Σdf ≥
  the live chunk count — stopword-class queries whose cost is posting
  decode, not lookup;
- ``phrase``: an adjacent token pair sampled from a corpus page whose
  rarer token is selective (df ≤ 2% of live chunks), which bounds the
  candidates the phrase operator rehydrates;
- ``fts``: FTS5 MATCH boolean + prefix expressions over selective terms.

Only queries with at least ``top_k`` hits are emitted.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

from rifflux_spark.functions.tokenizer import tokenize
from rifflux_spark.sources.pages import make_page_text

SELECTIVE_MAX_FRAC = 0.02
HEAD_MIN_DF_FRAC = 0.5

@dataclass(frozen=True)
class Query:
    text: str
    mode: str
    klass: str
    sigma_df: int


def selective_terms(df: dict[str, int], n_chunks: int, top_k: int, rng: random.Random) -> list[str]:
    cap = int(SELECTIVE_MAX_FRAC * n_chunks)
    pool = sorted(t for t, d in df.items() if top_k <= d <= cap // 2)
    if len(pool) < 3:
        raise ValueError(f"corpus has {len(pool)} selective terms; need at least 3")
    for _ in range(1000):
        terms = rng.sample(pool, rng.choice((2, 3)))
        if sum(df[t] for t in terms) <= cap:
            return terms
    raise ValueError("no selective term set under the Σdf cap")


def head_terms(df: dict[str, int], n_chunks: int, k: int, rng: random.Random) -> list[str]:
    pool = sorted(t for t, d in df.items() if d >= HEAD_MIN_DF_FRAC * n_chunks)
    if len(pool) < 4:
        raise ValueError(f"corpus has {len(pool)} head terms; need at least 4")
    return rng.sample(pool, k)


def _rarest_df(df: dict[str, int], text: str) -> int:
    return min(df.get(t, 0) for t in text.split())


def _phrase(rng: random.Random, df: dict[str, int], cap: int,
            corpus_seed: int, page_scale: int, n_pages: int) -> str:
    """An adjacent token pair from a paragraph of a random corpus page,
    whose rarer token's df is at most ``cap``."""
    while True:
        text = make_page_text(rng.randrange(n_pages), corpus_seed, page_scale)
        lines = [ln for ln in text.splitlines() if ln[:1].isalpha() and " " in ln]
        toks = tokenize(rng.choice(lines)) if lines else []
        pairs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        pairs = [p for p in pairs if _rarest_df(df, p) <= cap]
        if pairs:
            return rng.choice(pairs)


def _fts(rng: random.Random, terms: list[str], prefix: str) -> str:
    if rng.random() < 0.5:
        return f"{terms[0]} OR {prefix}*"
    return f"({terms[0]} OR {prefix}*) NOT {terms[-1]}"


def generate(
    df: dict[str, int],
    n_chunks: int,
    cycle: tuple[str, ...],
    n_queries: int,
    seed: int,
    top_k: int,
    head: bool,
    corpus: tuple[int, int, int] = (0, 1, 1),
    hits: Callable[[str], int] | None = None,
) -> list[Query]:
    """``n_queries`` queries cycling through ``cycle``'s modes; lexical,
    hybrid and semantic queries are ``head`` or ``selective`` class.
    ``corpus`` is (seed, page_scale, pages) of the pages phrases are
    sampled from, and ``hits(match)`` counts an FTS5 MATCH expression's
    hits (phrase/fts modes need it); lexical classes reach ≥ top_k hits
    by df alone."""
    rng = random.Random(seed * 1_000_003 + 17)
    prefix_pool = sorted(
        t for t, d in df.items() if d < HEAD_MIN_DF_FRAC * n_chunks and len(t) > 4 and t[0].isalpha()
    )
    out: list[Query] = []
    attempts = 0
    while len(out) < n_queries:
        attempts += 1
        if attempts > 50 * n_queries:
            raise ValueError(f"generated {len(out)}/{n_queries} queries with ≥{top_k} hits")
        mode = cycle[len(out) % len(cycle)]
        match = None
        if mode == "phrase":
            text, klass = _phrase(rng, df, int(SELECTIVE_MAX_FRAC * n_chunks), *corpus), "phrase"
            resolved = set(text.split())
            match = f'"{text}"'
        elif mode == "fts":
            terms = selective_terms(df, n_chunks, top_k, rng)
            prefix = rng.choice(prefix_pool)[:4]
            text, klass = _fts(rng, terms, prefix), "fts"
            resolved = set(terms) | {t for t in df if t.startswith(prefix)}
            match = text
        elif head:
            terms = head_terms(df, n_chunks, 2 + len(out) % 3, rng)
            text, klass, resolved = " ".join(terms), "head", set(terms)
        else:
            terms = selective_terms(df, n_chunks, top_k, rng)
            text, klass, resolved = " ".join(terms), "selective", set(terms)
        if match is not None:
            if hits is None:
                raise ValueError(f"{klass} queries need a hit counter")
            if hits(match) < top_k:
                continue
        sigma = sum(df.get(t, 0) for t in resolved)
        out.append(Query(text=text, mode=mode, klass=klass, sigma_df=sigma))
    check_boundaries(out, df, n_chunks)
    return out


def check_boundaries(queries: list[Query], df: dict[str, int], n_chunks: int) -> None:
    for q in queries:
        if q.klass == "selective" and q.sigma_df > SELECTIVE_MAX_FRAC * n_chunks:
            raise ValueError(f"selective query {q.text!r} has Σdf {q.sigma_df} > 2% of {n_chunks}")
        if q.klass == "phrase" and _rarest_df(df, q.text) > SELECTIVE_MAX_FRAC * n_chunks:
            raise ValueError(f"phrase {q.text!r}: rarer token's df > 2% of {n_chunks}")
        if q.klass == "head" and q.sigma_df < n_chunks:
            raise ValueError(f"head query {q.text!r} has Σdf {q.sigma_df} < {n_chunks} chunks")
