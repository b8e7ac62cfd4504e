"""Search service — the reference's API surface over the Spark index.

Mirrors reference src/rifflux/retrieval/search.py:30-100 and the store
lookups (sqlite_store.py:202-229):

- ``search(query, top_k, mode)`` with modes lexical/semantic/hybrid,
  top_k*2 candidates per modality, RRF fusion (k=60), per-mode
  ``score_breakdown`` keys (``bm25`` / ``cosine`` / ``rrf`` +
  ``lexical_rank``/``semantic_rank`` nullable), hybrid rehydration
  preferring the semantic row instance (reference search.py:81);
- punctuation-only queries return ``[]`` without error (reference
  tests/test_search_modes.py:146-156);
- ``get_chunk`` / ``get_file`` / ``index_status`` point lookups.

Only the final ≤top_k rows are collected; everything upstream is a
DataFrame plan.
"""

from __future__ import annotations

import threading
import time
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.embedder import hash_embed
from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.operators.bm25 import bm25_topk
from rifflux_spark.operators.fusion import rrf_fuse
from rifflux_spark.operators.semantic import semantic_topk
from rifflux_spark.sources.tables import IndexStore


class SearchService:
    # auto-reindex check-and-claim state, keyed per index dir (reference
    # mcp/tools.py:287-326 `_reindex_lock` + `_LAST_AUTO_REINDEX_MONOTONIC`)
    _reindex_lock = threading.Lock()
    _last_auto_reindex: dict[str, float] = {}

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig | None = None,
        embed_query=None,
        pages_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or EngineConfig()
        self.index_dir = index_dir
        # The index's persisted layout wins: a service config that
        # disagrees would silently break bucket pruning, so on conflict
        # auto-detect and align the config. Legacy indexes (no persisted
        # layout) keep the caller's value.
        try:
            self.store = IndexStore(spark, index_dir, self.config.n_term_buckets)
        except ValueError:
            import dataclasses

            self.store = IndexStore(spark, index_dir)
            self.config = dataclasses.replace(
                self.config, n_term_buckets=self.store.n_term_buckets
            )
        self.embed_query = embed_query or (
            lambda q: hash_embed(q, dim=self.config.embedding_dim)
        )
        self._cstats: dict | None = None
        # crawl-pages parquet path used by auto-reindex-on-search (S3);
        # None disables the feature regardless of config
        self.pages_path = pages_path

    def _corpus_stats(self) -> dict:
        if self._cstats is None:
            self._cstats = self.store.corpus_stats()
        return self._cstats

    # --- modality primitives ---

    # engine="auto" routing. Which queries reach the distributed scorers:
    # - lexical: only in exact mode (``lexical_budget_postings=0``) with
    #   Σdf over LOCAL_EXEC_MAX_POSTINGS. The route compares the capped
    #   working set, min(Σdf, budget), so with the budget on (default 1M,
    #   below the constant) the coordinator serves every lexical query.
    #   Measured on a 20k-page stress index (259,856 chunks; 4-vCPU shared
    #   host, local[4]; median of 3): the ten highest-df terms (Σdf
    #   2,002,186) at the default budget take 876 ms on the coordinator
    #   and 3137 ms forced onto Spark, returning the same chunks.
    # - semantic: an embeddings table over LOCAL_EXEC_BUDGET_BYTES (a
    #   semantic scan is always corpus-sized).
    # FTS MATCH and phrase queries never reach Spark: the coordinator's
    # evaluator (operators/ftsquery.py) is the only one, because it beat
    # the deleted distributed plan on every class that plan served
    # (crossover table in that module's docstring).
    # The df lookups are driver-side term_stats reads (milliseconds).
    LOCAL_EXEC_MAX_POSTINGS = 2_000_000
    LOCAL_EXEC_BUDGET_BYTES = 256 << 20

    def lexical(
        self, query: str, top_k: int, engine: str = "auto", *, limit: int | None = None
    ) -> list[dict[str, Any]]:
        """BM25 top-k over the posting blocks. ``engine="auto"`` serves it
        on the coordinator unless the capped working set — min(Σdf,
        ``lexical_budget_postings``), or Σdf when the budget is 0 —
        exceeds ``LOCAL_EXEC_MAX_POSTINGS``; both engines score with the
        same kernel and apply the same posting budget. ``limit`` keeps
        the first ``limit`` rows of the ``top_k`` (see :meth:`_local_rows`)."""
        if engine not in {"auto", "local", "spark"}:
            raise ValueError(f"unknown engine: {engine}")
        with self.store.read_snapshot():
            return self._lexical(query, top_k, engine=engine, limit=limit)

    def _lexical(
        self, query: str, top_k: int, engine: str = "auto", limit: int | None = None
    ) -> list[dict[str, Any]]:
        from rifflux_spark.operators import local_exec

        dfs = None
        if engine == "auto":
            # the routing dfs are the scorer's: one lookup per query
            dfs = local_exec.local_df(self.store, sorted(set(compile_query(query))))
            work = sum(dfs.values())
            budget = int(self.config.lexical_budget_postings or 0)
            if budget > 0:
                work = min(work, budget)
            engine = "local" if work <= self.LOCAL_EXEC_MAX_POSTINGS else "spark"
        if engine == "local":
            return self._local_rows(
                local_exec.bm25_topk_local(
                    self.store, query, top_k, self.config,
                    cstats=self._corpus_stats(), dfs=dfs,
                ),
                limit=limit,
            )
        topk = bm25_topk(
            self.spark, self.store, query, top_k, self.config,
            cstats=self._corpus_stats(), dfs=dfs,
        )
        return self._spark_rows(topk)[:limit]

    def phrase(self, query: str, top_k: int = 10) -> list[dict[str, Any]]:
        """Exact-phrase search (beyond-reference): the whole query is ONE
        phrase — docs where its tokens appear contiguously within a
        single indexed column, BM25-ranked with the phrase as the
        scoring unit. It is the FTS5 ``MATCH '"..."'`` of the query's
        tokens (operators/phrase.phrase_match), evaluated by :meth:`fts`."""
        with self.store.read_snapshot():
            return self._phrase(query, top_k)

    def _phrase(self, query: str, top_k: int) -> list[dict[str, Any]]:
        from rifflux_spark.operators.phrase import phrase_match

        match = phrase_match(query)
        return self._fts(match, top_k) if match else []

    def fts(self, query: str, top_k: int = 10) -> list[dict[str, Any]]:
        """Full FTS5 MATCH evaluation on the coordinator
        (operators/ftsquery.py): terms, ``tok*`` prefixes, quoted
        phrases, AND/OR/NOT, parentheses — rank+score-identical to
        SQLite FTS5 (tests/test_fts_rank_identity.py). On a syntax error
        the reference's fallback contract applies (sqlite_store.py:246-254):
        retry with the bare space-joined terms (= implicit AND);
        punctuation-only queries return []."""
        with self.store.read_snapshot():
            return self._fts(query, top_k)

    def _parse_with_fallback(self, query: str):
        """Parse a MATCH expression; on a syntax error apply the
        reference's fallback contract (sqlite_store.py:246-254): retry
        the bare space-joined tokens (FTS5 implicit AND). Returns
        (ast_or_None, effective_query)."""
        from rifflux_spark.functions.ftsparse import FtsSyntaxError, parse_fts

        try:
            return parse_fts(query), query
        except FtsSyntaxError:
            fallback = " ".join(compile_query(query))
            if not fallback:
                return None, query
            try:
                return parse_fts(fallback), fallback
            except FtsSyntaxError:
                return None, query

    @staticmethod
    def _result_row(
        chunk: dict[str, Any] | Any, score: float, key: str = "bm25_score"
    ) -> dict[str, Any]:
        get = chunk.get if isinstance(chunk, dict) else chunk.__getitem__
        return {
            "chunk_id": get("chunk_id"),
            "path": get("url"),
            "heading_path": get("heading_path"),
            "chunk_index": get("chunk_index"),
            "content": get("content"),
            key: score,
        }

    def _local_rows(
        self, topk: list[tuple[int, float]], key: str = "bm25_score", limit: int | None = None
    ) -> list[dict[str, Any]]:
        """Coordinator top-k ``[(doc_ord, score)]`` → result rows, in
        top-k order (rows whose chunk is gone are dropped), the first
        ``limit`` of them. Only the first ``limit`` candidates are
        rehydrated; the rest only when one of those has no chunk row, so
        the rows equal a rehydrate of every candidate."""
        if not topk:
            return []
        from rifflux_spark.operators.local_exec import rehydrate_local

        head = topk[:limit]
        chunks = rehydrate_local(self.store, [d for d, _ in head])
        if len(chunks) < len(head) < len(topk):
            chunks.update(rehydrate_local(self.store, [d for d, _ in topk[len(head):]]))
        return [
            self._result_row(c, score, key)
            for doc_ord, score in topk
            if (c := chunks.get(doc_ord)) is not None
        ][:limit]

    def _spark_rows(
        self, topk, key: str = "bm25_score", descending: bool = False
    ) -> list[dict[str, Any]]:
        """Distributed top-k frame ``(doc_ord, key)`` → result rows: join
        the chunks, order by score then doc_ord, collect."""
        order = F.desc(key) if descending else F.asc(key)
        rows = (
            topk.join(self.store.chunks(), on="doc_ord", how="inner")
            .select(
                "chunk_id", "url", "heading_path", "chunk_index", "content",
                key, "doc_ord",
            )
            .orderBy(order, F.asc("doc_ord"))
            .collect()
        )
        return [self._result_row(r, r[key], key) for r in rows]

    def _fts(self, query: str, top_k: int) -> list[dict[str, Any]]:
        from rifflux_spark.functions.ftsparse import FtsSyntaxError
        from rifflux_spark.operators import ftsquery as FQ

        ast, query = self._parse_with_fallback(query)
        if ast is None:
            return []
        try:
            topk = FQ.fts_topk_local(
                self.store, query, top_k, self.config, cstats=self._corpus_stats()
            )
        except FtsSyntaxError:
            # errors can also surface at EXECUTION time (a prefix whose
            # vocabulary expansion blows the MAX_PREFIX_EXPANSION cap);
            # the fallback contract applies there too
            fallback = " ".join(compile_query(query))
            if not fallback or fallback == query:
                return []
            try:
                topk = FQ.fts_topk_local(
                    self.store, fallback, top_k, self.config,
                    cstats=self._corpus_stats(),
                )
            except FtsSyntaxError:
                return []
        return self._local_rows(topk)

    def highlight(
        self,
        query: str,
        top_k: int = 10,
        marks: tuple[str, str] = ("<b>", "</b>"),
    ) -> list[dict[str, Any]]:
        """FTS5 ``highlight()`` parity: run the MATCH query, then wrap
        the matched-and-active instance spans in each result's content
        and heading_path (operators/highlight.py — NEAR-trimmed,
        anchored-only, column-filter-aware, overlap-merged, probed
        against SQLite). Driver-side over the final k rows only."""
        from rifflux_spark.functions.ftsparse import FtsSyntaxError, parse_fts
        from rifflux_spark.operators.highlight import highlight_columns

        rows = self.fts(query, top_k=top_k)
        if not rows:
            return rows
        ast, _q = self._parse_with_fallback(query)
        if ast is None:
            return rows
        out = []
        for r in rows:
            hl = highlight_columns(
                ast,
                {"content": r["content"], "heading_path": r["heading_path"]},
                marks[0],
                marks[1],
            )
            out.append(
                {
                    **r,
                    "content_highlighted": hl["content"],
                    "heading_path_highlighted": hl["heading_path"],
                }
            )
        return out

    def snippet(
        self,
        query: str,
        top_k: int = 10,
        col: str = "content",
        n_tokens: int = 10,
        marks: tuple[str, str] = ("<b>", "</b>"),
        ellipsis: str = "…",
    ) -> list[dict[str, Any]]:
        """FTS5 ``snippet()`` parity: run the MATCH query, then render
        each result's best ``n_tokens`` window of ``col`` with the
        matches highlighted (operators/highlight.snippet_column —
        window selection and centering reverse-engineered against
        SQLite and pinned by randomized differential tests)."""
        from rifflux_spark.functions.ftsparse import FtsSyntaxError, parse_fts
        from rifflux_spark.operators.highlight import snippet_column

        rows = self.fts(query, top_k=top_k)
        if not rows:
            return rows
        ast, _q = self._parse_with_fallback(query)
        if ast is None:
            return rows
        return [
            {
                **r,
                "snippet": snippet_column(
                    ast,
                    {
                        "content": r["content"],
                        "heading_path": r["heading_path"],
                    },
                    col,
                    marks[0],
                    marks[1],
                    ellipsis,
                    n_tokens,
                ),
            }
            for r in rows
        ]

    def semantic(
        self, query_vector, top_k: int, engine: str = "auto", *, limit: int | None = None
    ) -> list[dict[str, Any]]:
        """Cosine top-k over the embeddings; ``limit`` as in :meth:`lexical`."""
        if query_vector is None:
            return []
        with self.store.read_snapshot():
            return self._semantic(query_vector, top_k, engine=engine, limit=limit)

    def _semantic(
        self, query_vector, top_k: int, engine: str = "auto", limit: int | None = None
    ) -> list[dict[str, Any]]:
        if engine != "spark":
            from rifflux_spark.operators import local_exec

            if engine == "local" or (
                local_exec.embeddings_bytes(self.store) <= self.LOCAL_EXEC_BUDGET_BYTES
            ):
                return self._semantic_local(query_vector, top_k, limit)
        emb = self.store.embeddings()
        if self.store.exists("tombstones") or self.store.exists("purged"):
            emb = emb.join(F.broadcast(self.store.dead_ords()), on="doc_ord", how="left_anti")
        topk = semantic_topk(emb, query_vector, top_k, id_cols=["doc_ord"])
        return self._spark_rows(topk, "cosine", descending=True)[:limit]

    def _semantic_local(
        self, query_vector, top_k: int, limit: int | None = None
    ) -> list[dict[str, Any]]:
        from rifflux_spark.operators.local_exec import semantic_topk_local

        return self._local_rows(
            semantic_topk_local(self.store, query_vector, top_k), "cosine", limit
        )

    # --- the reference search orchestration (search.py:30-100) ---

    def search(self, query: str, *, top_k: int = 10, mode: str = "hybrid") -> list[dict[str, Any]]:
        if self.config.auto_reindex_on_search and self.pages_path:
            self.maybe_auto_reindex()
        # ONE pinned snapshot for the whole search: lexical + semantic +
        # rehydration all resolve the same manifest version even if a
        # background reindex commits mid-query (snapshot isolation)
        with self.store.read_snapshot():
            return self._search(query, top_k=top_k, mode=mode)

    def _search(self, query: str, *, top_k: int = 10, mode: str = "hybrid") -> list[dict[str, Any]]:
        if mode == "fts":
            return [
                {**row, "score_breakdown": {"bm25": row["bm25_score"]}}
                for row in self._fts(query, top_k)
            ]
        if mode == "phrase":
            return [
                {**row, "score_breakdown": {"bm25": row["bm25_score"]}}
                for row in self._phrase(query, top_k)
            ]
        cand = top_k * self.config.candidate_multiplier
        # a lexical or semantic search rehydrates only the rows it
        # returns; hybrid fuses every candidate's chunk_id
        limit = None if mode == "hybrid" else top_k
        lexical = self.lexical(query, cand, limit=limit) if mode in {"hybrid", "lexical"} else []
        query_vec = (
            self.embed_query(query) if mode in {"hybrid", "semantic"} else None
        )
        semantic = (
            self.semantic(query_vec, cand, limit=limit) if mode in {"hybrid", "semantic"} else []
        )

        if mode == "lexical":
            return [
                {**row, "score_breakdown": {"bm25": row["bm25_score"]}}
                for row in lexical
            ]
        if mode == "semantic":
            return [
                {**row, "score_breakdown": {"cosine": row["cosine"]}}
                for row in semantic
            ]

        lexical_ids = [row["chunk_id"] for row in lexical]
        semantic_ids = [row["chunk_id"] for row in semantic]
        fused = rrf_fuse(
            {"lexical": lexical_ids, "semantic": semantic_ids}, k=self.config.rrf_k
        )
        lexical_map = {row["chunk_id"]: row for row in lexical}
        semantic_map = {row["chunk_id"]: row for row in semantic}

        output: list[dict[str, Any]] = []
        for chunk_id, score in list(fused.items())[:top_k]:
            base = semantic_map.get(chunk_id) or lexical_map.get(chunk_id)
            if base is None:
                continue
            lexical_rank = lexical_ids.index(chunk_id) + 1 if chunk_id in lexical_map else None
            semantic_rank = semantic_ids.index(chunk_id) + 1 if chunk_id in semantic_map else None
            output.append(
                {
                    "chunk_id": chunk_id,
                    "path": base["path"],
                    "heading_path": base["heading_path"],
                    "chunk_index": base["chunk_index"],
                    "content": base["content"],
                    "score_breakdown": {
                        "rrf": score,
                        "lexical_rank": lexical_rank,
                        "semantic_rank": semantic_rank,
                    },
                }
            )
        return output

    # --- lookups (sqlite_store.py:202-229) ---

    def get_chunk(self, chunk_id: str) -> dict[str, Any] | None:
        with self.store.read_snapshot():
            return self._get_chunk(chunk_id)

    def _get_chunk(self, chunk_id: str) -> dict[str, Any] | None:
        rows = (
            self.store.live_chunks()
            .filter(F.col("chunk_id") == chunk_id)
            .select("chunk_id", "url", "heading_path", "chunk_index", "content")
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        return {
            "chunk_id": r["chunk_id"],
            "path": r["url"],
            "heading_path": r["heading_path"],
            "chunk_index": r["chunk_index"],
            "content": r["content"],
        }

    def get_file(self, path: str) -> dict[str, Any] | None:
        with self.store.read_snapshot():
            return self._get_file(path)

    def _get_file(self, path: str) -> dict[str, Any] | None:
        rows = (
            self.store.live_chunks()
            .filter(F.col("url") == path)
            .orderBy(F.asc("chunk_index"))
            .select("chunk_id", "heading_path", "chunk_index", "content")
            .collect()
        )
        if not rows:
            return None
        return {
            "path": path,
            "chunks": [
                {
                    "chunk_id": r["chunk_id"],
                    "heading_path": r["heading_path"],
                    "chunk_index": r["chunk_index"],
                    "content": r["content"],
                }
                for r in rows
            ],
        }

    def maybe_auto_reindex(self, background: bool = True) -> dict[str, Any]:
        """Auto-reindex-on-search with a per-index throttle (S3, reference
        mcp/tools.py:287-326): an atomic check-and-claim under a lock keeps
        parallel searches from stampeding the incremental build — the slot
        is claimed BEFORE the work starts, so concurrent callers inside
        ``auto_reindex_min_interval_seconds`` see ``throttled``.

        ``background=True`` mirrors the reference's background-queue submit
        (a daemon thread driving the Spark incremental job — Spark job
        submission is thread-safe); ``background=False`` runs inline and
        returns the apply metrics.

        Concurrent searches during a background reindex are safe: every
        apply mutation is a snapshot transaction (sources/manifest.py) —
        readers resolve the old manifest pointer until the apply's single
        atomic commit, so no query can observe missing/partial files. A
        failed background run logs and RELEASES the throttle claim, so
        the next search retries instead of silently never reindexing."""
        if not self.pages_path:
            return {"enabled": False, "executed": False, "reason": "no pages_path"}
        min_interval = max(0.0, self.config.auto_reindex_min_interval_seconds)
        key = self.index_dir
        with SearchService._reindex_lock:
            now = time.monotonic()
            last = SearchService._last_auto_reindex.get(key)
            if last is not None and (now - last) < min_interval:
                return {
                    "enabled": True,
                    "executed": False,
                    "reason": "throttled",
                    "min_interval_seconds": min_interval,
                }
            SearchService._last_auto_reindex[key] = now

        def run() -> dict:
            from rifflux_spark.sources.iceberg import is_iceberg_table

            if is_iceberg_table(self.pages_path):
                # pages_path is an Iceberg table: the reindex reads only
                # the files appended since the last applied snapshot
                # (metadata-planned CDC) instead of re-diffing the corpus
                from rifflux_spark.plans.incremental import apply_from_iceberg

                metrics = apply_from_iceberg(
                    self.spark, self.store, self.pages_path, self.config
                )
            else:
                from rifflux_spark.plans.incremental import apply_incremental

                pages = self.spark.read.parquet(self.pages_path)
                metrics = apply_incremental(self.spark, self.store, pages, self.config)
            self._cstats = None  # corpus stats may have changed
            return metrics

        def run_background() -> None:
            try:
                run()
            except Exception:
                import logging

                logging.getLogger(__name__).exception("background auto-reindex failed")
                # release the claim: the slot must not stay burned with no
                # reindex done, or searches never retry until restart
                with SearchService._reindex_lock:
                    if SearchService._last_auto_reindex.get(key) == now:
                        SearchService._last_auto_reindex.pop(key, None)

        if background:
            t = threading.Thread(target=run_background, name="rifflux-auto-reindex", daemon=True)
            t.start()
            return {"enabled": True, "executed": "background", "thread": t.name}
        return {"enabled": True, "executed": True, "metrics": run()}

    def index_status(self) -> dict[str, int]:
        """Live counts: dead (tombstoned/purged) rows still physically in
        the chunk/embedding files are excluded."""
        # all three counts resolve inside ONE pinned snapshot — a commit
        # landing mid-call must not mix counters across two versions
        with self.store.read_snapshot():
            files = self.store.catalog().count() if self.store.exists("catalog") else 0
            chunks = self.store.live_chunks().count()
            embeddings = (
                self.store.live_embeddings().count() if self.store.exists("embeddings") else 0
            )
        return {"files": int(files), "chunks": int(chunks), "embeddings": int(embeddings)}
