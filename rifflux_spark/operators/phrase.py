"""Phrase search: the whole query as ONE FTS5 phrase.

SQLite FTS5 answers a phrase query as ``MATCH '"t1 t2 ..."'``; so does
this engine. :func:`phrase_match` compiles a query to that quoted MATCH
expression and the FTS5 MATCH evaluator (operators/ftsquery.py) runs
it on the coordinator by candidate recheck, FTS5-parity BM25 with the
phrase as the scoring unit (tf = occurrence count incl. overlaps, df =
phrase row count).
"""

from __future__ import annotations

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.operators.ftsquery import fts_topk_local
from rifflux_spark.sources.tables import IndexStore


def phrase_match(query: str) -> str | None:
    """``query``'s tokens as one quoted MATCH phrase; None when the
    query has no tokens (punctuation-only)."""
    tokens = compile_query(query)
    return '"' + " ".join(tokens) + '"' if tokens else None


def phrase_topk_local(
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
) -> list[tuple[int, float]]:
    """Coordinator-path phrase top-k: [(doc_ord, negated_score)]."""
    match = phrase_match(query)
    return fts_topk_local(store, match, top_k, config, cstats) if match else []
