"""In-test SQLite FTS5 oracle.

Builds a real FTS5 database with the reference DDL semantics (reference
src/rifflux/db/schema.sql:1-59: chunks + external-content chunks_fts over
(content, heading_path), tokenizer unicode61 remove_diacritics 2) and runs
the reference lexical SQL (reference src/rifflux/db/sqlite_store.py:150-182)
so Spark results can be compared rank-identically.
"""

from __future__ import annotations

import re
import sqlite3
from typing import Any

_SCHEMA = """
CREATE TABLE files (
  id INTEGER PRIMARY KEY,
  path TEXT NOT NULL UNIQUE
);
CREATE TABLE chunks (
  id INTEGER PRIMARY KEY,
  chunk_id TEXT NOT NULL UNIQUE,
  file_id INTEGER NOT NULL REFERENCES files(id) ON DELETE CASCADE,
  chunk_index INTEGER NOT NULL,
  heading_path TEXT NOT NULL DEFAULT '',
  content TEXT NOT NULL,
  token_count INTEGER NOT NULL DEFAULT 0
);
CREATE VIRTUAL TABLE chunks_fts USING fts5(
  content,
  heading_path,
  chunk_id UNINDEXED,
  content='chunks',
  content_rowid='id',
  tokenize='unicode61 remove_diacritics 2'
);
CREATE TRIGGER chunks_ai AFTER INSERT ON chunks BEGIN
  INSERT INTO chunks_fts(rowid, content, heading_path, chunk_id)
  VALUES (new.id, new.content, new.heading_path, new.chunk_id);
END;
"""


class SqliteOracle:
    """Seed with chunks in doc_ord order (rowid = doc_ord + 1)."""

    def __init__(self) -> None:
        self.conn = sqlite3.connect(":memory:")
        self.conn.row_factory = sqlite3.Row
        self.conn.executescript(_SCHEMA)

    def seed(self, chunks: list[dict[str, Any]]) -> None:
        """chunks: dicts with url, chunk_id, chunk_index, heading_path,
        content — must be sorted in doc_ord order."""
        file_ids: dict[str, int] = {}
        for c in chunks:
            url = c["url"]
            if url not in file_ids:
                cur = self.conn.execute("INSERT INTO files(path) VALUES (?)", (url,))
                file_ids[url] = cur.lastrowid
            self.conn.execute(
                "INSERT INTO chunks(chunk_id, file_id, chunk_index, heading_path, content, token_count)"
                " VALUES (?, ?, ?, ?, ?, ?)",
                (
                    c["chunk_id"],
                    file_ids[url],
                    c["chunk_index"],
                    c.get("heading_path", "") or "",
                    c["content"],
                    len(c["content"].split()),
                ),
            )
        self.conn.commit()

    def lexical_search(self, query: str, top_k: int) -> list[dict[str, Any]]:
        """Reference sqlite_store.py:150-182 incl. query compilation and
        error fallback."""
        terms = [t for t in re.findall(r"\w+", query, flags=re.UNICODE) if t]
        if not terms:
            return []
        compiled = " OR ".join(f'"{t}"' for t in terms)
        sql = """
            SELECT
              c.chunk_id,
              f.path,
              c.heading_path,
              c.chunk_index,
              c.content,
              chunks_fts.rowid AS rowid,
              bm25(chunks_fts) AS bm25_score
            FROM chunks_fts
            JOIN chunks c ON c.id = chunks_fts.rowid
            JOIN files f ON f.id = c.file_id
            WHERE chunks_fts MATCH ?
            ORDER BY bm25(chunks_fts)
            LIMIT ?
        """
        try:
            cur = self.conn.execute(sql, (compiled, top_k))
        except sqlite3.Error:
            cur = self.conn.execute(sql, (" ".join(terms), top_k))
        return [dict(r) for r in cur.fetchall()]

    def phrase_search(self, query: str, top_k: int) -> list[dict[str, Any]]:
        """The whole query as ONE FTS5 phrase: MATCH '"t1 t2 ..."' —
        the oracle for the engine's beyond-reference phrase mode
        (a one-phrase MATCH through operators/ftsquery.py)."""
        terms = [t for t in re.findall(r"\w+", query, flags=re.UNICODE) if t]
        if not terms:
            return []
        compiled = '"' + " ".join(terms) + '"'
        sql = """
            SELECT
              c.chunk_id,
              f.path,
              c.heading_path,
              c.chunk_index,
              c.content,
              chunks_fts.rowid AS rowid,
              bm25(chunks_fts) AS bm25_score
            FROM chunks_fts
            JOIN chunks c ON c.id = chunks_fts.rowid
            JOIN files f ON f.id = c.file_id
            WHERE chunks_fts MATCH ?
            ORDER BY bm25(chunks_fts)
            LIMIT ?
        """
        cur = self.conn.execute(sql, (compiled, top_k))
        return [dict(r) for r in cur.fetchall()]

    def match_search(self, match: str, top_k: int) -> list[dict[str, Any]]:
        """Run a raw FTS5 MATCH expression (terms/prefix/phrase/boolean)
        — the oracle for the engine's full MATCH evaluator
        (operators/ftsquery.py)."""
        sql = """
            SELECT
              c.chunk_id,
              f.path,
              c.heading_path,
              c.chunk_index,
              c.content,
              chunks_fts.rowid AS rowid,
              bm25(chunks_fts) AS bm25_score
            FROM chunks_fts
            JOIN chunks c ON c.id = chunks_fts.rowid
            JOIN files f ON f.id = c.file_id
            WHERE chunks_fts MATCH ?
            ORDER BY bm25(chunks_fts)
            LIMIT ?
        """
        cur = self.conn.execute(sql, (match, top_k))
        return [dict(r) for r in cur.fetchall()]

    def highlight_search(
        self, match: str, top_k: int, open_mark: str = "[", close_mark: str = "]"
    ) -> list[dict[str, Any]]:
        """Raw MATCH with FTS5 highlight() over both indexed columns."""
        sql = """
            SELECT
              c.chunk_id,
              highlight(chunks_fts, 0, ?, ?) AS content_hl,
              highlight(chunks_fts, 1, ?, ?) AS heading_hl,
              bm25(chunks_fts) AS bm25_score
            FROM chunks_fts
            JOIN chunks c ON c.id = chunks_fts.rowid
            WHERE chunks_fts MATCH ?
            ORDER BY bm25(chunks_fts)
            LIMIT ?
        """
        cur = self.conn.execute(
            sql, (open_mark, close_mark, open_mark, close_mark, match, top_k)
        )
        return [dict(r) for r in cur.fetchall()]

    def snippet_search(
        self,
        match: str,
        top_k: int,
        col: int = 0,
        n_tokens: int = 10,
        open_mark: str = "[",
        close_mark: str = "]",
        ellipsis: str = "…",
    ) -> list[dict[str, Any]]:
        """Raw MATCH with FTS5 snippet() over one indexed column."""
        sql = f"""
            SELECT
              c.chunk_id,
              snippet(chunks_fts, {col}, ?, ?, ?, {n_tokens}) AS snip,
              bm25(chunks_fts) AS bm25_score
            FROM chunks_fts
            JOIN chunks c ON c.id = chunks_fts.rowid
            WHERE chunks_fts MATCH ?
            ORDER BY bm25(chunks_fts)
            LIMIT ?
        """
        cur = self.conn.execute(
            sql, (open_mark, close_mark, ellipsis, match, top_k)
        )
        return [dict(r) for r in cur.fetchall()]

    def close(self) -> None:
        self.conn.close()
