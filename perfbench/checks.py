"""Output checks: every query result the benchmark times is compared
against an oracle, and a wrong result counts toward the error rate.

- lexical (selective), phrase and fts results: the SQLite FTS5 oracle
  built from the index's live chunks (``tests/sqlite_oracle``), rank and
  score;
- semantic results: a numpy brute-force cosine over the stored
  embeddings;
- hybrid results: RRF(k=60) recomputed from the service's own two
  candidate lists, which are themselves checked like the modes above;
- head lexical results: every returned doc's score must equal its exact
  BM25 score recomputed from its text (the posting budget's contract).
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any

import numpy as np

from rifflux_spark.functions.tokenizer import tokenize

RRF_K = 60
BM25_K1, BM25_B = 1.2, 0.75  # FTS5 bm25() constants


def close(a: float, b: float, rel: float = 1e-7) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def compare(got: list[tuple[str, float]], exp: list[tuple[str, float]], rel: float = 1e-7) -> str | None:
    """None when ``got`` equals ``exp`` (best first): scores match rank by
    rank, and ids match except for order inside a group of tied scores.
    The tie group cut off by k is only checked by score."""
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for i, ((_, g), (_, e)) in enumerate(zip(got, exp)):
        if not close(g, e, rel):
            return f"rank {i + 1}: score {g!r}, expected {e!r}"
    i = 0
    while i < len(exp):
        j = i + 1
        while j < len(exp) and close(exp[j][1], exp[i][1], rel):
            j += 1
        if j < len(exp) and {x for x, _ in got[i:j]} != {x for x, _ in exp[i:j]}:
            return f"ranks {i + 1}-{j}: ids {[x for x, _ in got[i:j]]}, expected {[x for x, _ in exp[i:j]]}"
        i = j
    return None


def scored(rows: list[dict[str, Any]], key: str) -> list[tuple[str, float]]:
    """(chunk_id, score) pairs from ``search`` rows (score under
    ``score_breakdown[key]``) or modality rows (``bm25_score``/``cosine``)."""
    flat = {"bm25": "bm25_score"}.get(key, key)
    return [
        (r["chunk_id"], float(r["score_breakdown"][key] if "score_breakdown" in r else r[flat]))
        for r in rows
    ]


def live_rows(store, table: str, columns: list[str]):
    """A table's live rows in doc_ord order, read from its parquet files
    with pyarrow: rows whose doc_ord is tombstoned or purged are left out,
    as ``IndexStore.live_chunks``/``live_embeddings`` leave them out."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows = pa.concat_tables(pq.read_table(f, columns=columns) for f in store.data_files(table))
    dead = [pq.read_table(f, columns=["doc_ord"]) for name in ("tombstones", "purged")
            for f in store.data_files(name)]
    if dead:
        dead_ords = pa.concat_tables(dead).column("doc_ord")
        rows = rows.filter(pc.invert(pc.is_in(rows.column("doc_ord"), value_set=dead_ords)))
    return rows.to_pandas().sort_values("doc_ord", ignore_index=True)


class Fts5Oracle:
    """A real SQLite FTS5 database over the index's live chunks, seeded in
    doc_ord order so its rowid tie-break matches the engine's."""

    def __init__(self, store) -> None:
        from tests.sqlite_oracle import SqliteOracle

        rows = live_rows(
            store, "chunks", ["doc_ord", "url", "chunk_id", "chunk_index", "heading_path", "content"]
        ).to_dict("records")
        self.chunk_ids = {r["doc_ord"]: r["chunk_id"] for r in rows}
        self.db = SqliteOracle()
        self.db.seed(rows)

    def hits(self, match: str) -> int:
        cur = self.db.conn.execute("SELECT count(*) FROM chunks_fts WHERE chunks_fts MATCH ?", (match,))
        return int(cur.fetchone()[0])

    def top(self, mode: str, text: str, k: int) -> list[tuple[str, float]]:
        search = {
            "lexical": self.db.lexical_search,
            "phrase": self.db.phrase_search,
            "fts": self.db.match_search,
        }[mode]
        return [(r["chunk_id"], float(r["bm25_score"])) for r in search(text, k)]

    def close(self) -> None:
        self.db.close()


class CosineOracle:
    """Brute-force cosine top-k over the live stored embeddings."""

    def __init__(self, store, chunk_ids: dict[int, str]) -> None:
        emb = live_rows(store, "embeddings", ["doc_ord", "vec"])
        self.docs = emb["doc_ord"].to_numpy()
        self.ids = np.array([chunk_ids[int(d)] for d in self.docs])
        flat = np.frombuffer(b"".join(emb["vec"]), dtype="<f4")
        self.mat = flat.reshape(len(emb), -1).astype(np.float64)
        self.norms = np.linalg.norm(self.mat, axis=1)

    def top(self, query_vector, k: int) -> list[tuple[str, float]]:
        q = np.asarray(query_vector, dtype=np.float64)
        denom = self.norms * np.linalg.norm(q)
        cos = np.divide(self.mat @ q, denom, out=np.zeros(len(denom)), where=denom != 0)
        order = np.lexsort((self.docs, -cos))[:k]
        return [(self.ids[i], float(cos[i])) for i in order]


class ExactBm25:
    """FTS5 BM25 of one chunk for a query, from the chunk's own text."""

    def __init__(self, df: dict[str, int], n_docs: int, avgdl: float) -> None:
        self.df, self.n, self.avgdl = df, n_docs, avgdl

    def score(self, query: str, content: str, heading_path: str) -> float:
        toks = tokenize(content) + tokenize(heading_path or "")
        tf, dl = Counter(toks), len(toks)
        total = 0.0
        for term, mult in Counter(tokenize(query)).items():
            if not tf[term] or term not in self.df:
                continue
            d = self.df[term]
            idf = math.log((self.n - d + 0.5) / (d + 0.5))
            idf = idf if idf > 0 else 1e-6
            norm = tf[term] * (BM25_K1 + 1) / (tf[term] + BM25_K1 * (1 - BM25_B + BM25_B * dl / self.avgdl))
            total += idf * mult * norm
        return -total


def rrf(lexical_ids: list[str], semantic_ids: list[str], k: int) -> list[tuple[str, float]]:
    scores: dict[str, float] = {}
    for ranked in (lexical_ids, semantic_ids):
        for rank, cid in enumerate(ranked, start=1):
            scores[cid] = scores.get(cid, 0.0) + 1.0 / (RRF_K + rank)
    return sorted(scores.items(), key=lambda kv: -kv[1])[:k]


class Checker:
    """Checks one query's result against the oracle for its class."""

    def __init__(self, svc, top_k: int, fts5: Fts5Oracle | None = None,
                 cosine: CosineOracle | None = None, exact: ExactBm25 | None = None) -> None:
        self.svc, self.top_k = svc, top_k
        self.fts5, self.cosine, self.exact = fts5, cosine, exact

    def _lexical(self, q, rows, k: int) -> str | None:
        if q.klass == "head":
            got = scored(rows, "bm25")
            if [s for _, s in got] != sorted(s for _, s in got):
                return "head result not in score order"
            for r, (_, s) in zip(rows, got):
                want = self.exact.score(q.text, r["content"], r["heading_path"])
                if not close(s, want):
                    return f"{r['chunk_id']}: score {s!r}, exact BM25 {want!r}"
            return None if len(rows) == k else f"{len(rows)} rows, expected {k}"
        return compare(scored(rows, "bm25"), self.fts5.top("lexical", q.text, k))

    def _semantic(self, q, rows, k: int) -> str | None:
        exp = self.cosine.top(self.svc.embed_query(q.text), k)
        return compare(scored(rows, "cosine"), exp, rel=1e-5)

    def check(self, q, rows: list[dict[str, Any]]) -> str | None:
        k = self.top_k
        if q.mode == "lexical":
            return self._lexical(q, rows, k)
        if q.mode in ("phrase", "fts"):
            return compare(scored(rows, "bm25"), self.fts5.top(q.mode, q.text, k))
        if q.mode == "semantic":
            return self._semantic(q, rows, k)
        cand = 2 * k
        lex = self.svc.lexical(q.text, cand)
        sem = self.svc.semantic(self.svc.embed_query(q.text), cand)
        bad = compare(scored(rows, "rrf"), rrf([r["chunk_id"] for r in lex], [r["chunk_id"] for r in sem], k), rel=1e-12)
        if bad:
            return f"rrf: {bad}"
        bad = self._lexical(q, lex, cand)
        if bad:
            return f"lexical candidates: {bad}"
        if self.cosine is not None:
            bad = compare(scored(sem, "cosine"), self.cosine.top(self.svc.embed_query(q.text), cand), rel=1e-5)
            if bad:
                return f"semantic candidates: {bad}"
        return None
