"""Deterministic hash embedder + dim normalization + backend factory.

Semantics match the reference exactly:

- :func:`hash_embed` — reference src/rifflux/embeddings/hash_embedder.py:8-25
  (sha256 bucket/sign/weight per token, L2-normalized float32, dim 384);
- :func:`normalize_dim` — reference embedder_factory.py:18-31 (reshape,
  truncate/zero-pad, re-normalize);
- :func:`resolve_embedder` — reference embedder_factory.py:41-69 (``hash`` /
  ``onnx`` / ``auto`` with onnx->hash fallback; the onnx backend is gated
  behind an optional import and falls back deterministically when fastembed
  is absent, as in CI for the reference).

Spark surface: :func:`embed_series` is the Arrow-batch body for a pandas
UDF producing ``array<float>`` columns; hashlib runs inside the batch (no
per-row Python UDF).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

TOKEN_RE = re.compile(r"[A-Za-z0-9_./-]+")


def hash_embed(text: str, dim: int = 384) -> np.ndarray:
    vec = np.zeros(dim, dtype=np.float32)
    tokens = TOKEN_RE.findall(text.lower())
    if not tokens:
        return vec
    for token in tokens:
        digest = hashlib.sha256(token.encode("utf-8")).digest()
        index = int.from_bytes(digest[:4], "big") % dim
        sign = -1.0 if digest[4] & 1 else 1.0
        weight = 1.0 + (digest[5] / 255.0)
        vec[index] += np.float32(sign * weight)
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec = vec / norm
    return vec.astype(np.float32)


def normalize_dim(vec: np.ndarray, target_dim: int) -> np.ndarray:
    arr = np.asarray(vec, dtype=np.float32)
    if arr.ndim != 1:
        arr = arr.reshape(-1)
    if arr.shape[0] == target_dim:
        out = arr
    elif arr.shape[0] > target_dim:
        out = arr[:target_dim]
    else:
        out = np.pad(arr, (0, target_dim - arr.shape[0]))
    norm = np.linalg.norm(out)
    if norm > 0:
        out = out / norm
    return out.astype(np.float32)


@dataclass(slots=True)
class EmbedderBundle:
    embed: Callable[[str], np.ndarray]
    model_label: str


def _hash_bundle(dim: int) -> EmbedderBundle:
    return EmbedderBundle(embed=lambda t: hash_embed(t, dim=dim), model_label=f"hash-{dim}")


def _onnx_bundle(model_name: str, dim: int) -> EmbedderBundle | None:
    try:
        from fastembed import TextEmbedding  # type: ignore
    except Exception:
        return None
    model = TextEmbedding(model_name=model_name)

    def embed(text: str) -> np.ndarray:
        vector = next(model.embed([text]))
        return normalize_dim(np.asarray(vector, dtype=np.float32), dim)

    return EmbedderBundle(embed=embed, model_label=f"onnx-{model_name.replace('/', '-')}-{dim}")


def resolve_embedder(
    backend: str = "auto",
    dim: int = 384,
    model_name: str = "BAAI/bge-small-en-v1.5",
) -> EmbedderBundle:
    backend = backend.lower().strip()
    if backend == "hash":
        return _hash_bundle(dim)
    onnx = _onnx_bundle(model_name, dim)
    if onnx:
        return onnx
    return _hash_bundle(dim)


# per-(process, dim) memo of token -> (bucket index, signed weight): web
# text is Zipf-distributed, so across an Arrow batch almost every token is
# a cache hit and the sha256 cost amortizes to ~0. Executor-local, bounded.
_TOKEN_CACHE: dict[int, dict[str, tuple[int, float]]] = {}
_TOKEN_CACHE_MAX = 1 << 20


def _token_params(token: str, dim: int) -> tuple[int, float]:
    cache = _TOKEN_CACHE.setdefault(dim, {})
    hit = cache.get(token)
    if hit is None:
        digest = hashlib.sha256(token.encode("utf-8")).digest()
        index = int.from_bytes(digest[:4], "big") % dim
        sign = -1.0 if digest[4] & 1 else 1.0
        weight = float(np.float32(sign * (1.0 + digest[5] / 255.0)))
        hit = (index, weight)
        if len(cache) < _TOKEN_CACHE_MAX:
            cache[token] = hit
    return hit


def _hash_embed_cached(text: str, dim: int) -> np.ndarray:
    vec = np.zeros(dim, dtype=np.float32)
    tokens = TOKEN_RE.findall(text.lower())
    if not tokens:
        return vec
    idx = np.empty(len(tokens), dtype=np.int64)
    w = np.empty(len(tokens), dtype=np.float32)
    for i, token in enumerate(tokens):
        idx[i], w[i] = _token_params(token, dim)
    np.add.at(vec, idx, w)
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec = (vec / norm).astype(np.float32)
    return vec


# ASCII twin of TOKEN_RE for the batch tokenizer: token chars (lowered)
# kept, uppercase folded, everything else → space; translate+split yields
# exactly TOKEN_RE.findall(text.lower()) on ASCII input (verified
# exhaustively in tests), ~2× cheaper than the regex scan.
_EMBED_KEEP = frozenset("abcdefghijklmnopqrstuvwxyz0123456789_./-")
_ASCII_EMBED_TBL = str.maketrans(
    {cp: (chr(cp).lower() if chr(cp).lower() in _EMBED_KEEP else " ") for cp in range(128)}
)


def _embed_matrix(texts, dim: int) -> np.ndarray:
    """(n, dim) float32 embedding matrix for a batch — bit-equivalent to
    per-text :func:`hash_embed` (np.add.at applies unbuffered adds in
    token order, and each row is normalized through the same 1-D
    np.linalg.norm / divide / float32-cast sequence). The batch wins:
    tokens are factorized ONCE per batch (C path) so the sha256/memo
    lookup runs per *unique* token, not per occurrence — web text is
    Zipf-distributed, so that is ~100× fewer Python-loop iterations."""
    tok_lists = []
    for t in texts:
        if not isinstance(t, str) or not t:
            tok_lists.append([])
        elif t.isascii():
            tok_lists.append(t.translate(_ASCII_EMBED_TBL).split())
        else:
            tok_lists.append(TOKEN_RE.findall(t.lower()))
    n = len(tok_lists)
    mat = np.zeros((n, dim), dtype=np.float32)
    all_toks = [tok for lst in tok_lists for tok in lst]
    if all_toks:
        lens = np.fromiter((len(t) for t in tok_lists), np.int64, n)
        codes, uniques = pd.factorize(np.asarray(all_toks, dtype=object))
        u_idx = np.empty(len(uniques), dtype=np.int64)
        u_w = np.empty(len(uniques), dtype=np.float32)
        for j, token in enumerate(uniques):
            u_idx[j], u_w[j] = _token_params(token, dim)
        rows = np.repeat(np.arange(n, dtype=np.int64), lens)
        np.add.at(mat, (rows, u_idx[codes]), u_w[codes])
    for i in range(n):
        vec = mat[i]
        norm = np.linalg.norm(vec)
        if norm > 0:
            mat[i] = (vec / norm).astype(np.float32)
    return mat


def embed_series(texts: pd.Series, dim: int = 384) -> pd.Series:
    """Arrow-batch pandas UDF body: text -> list[float] (len == dim).

    Bit-equivalent to :func:`hash_embed` (same float32 accumulate order);
    the batch kernel only changes how token parameters are looked up.
    """
    mat = _embed_matrix(list(texts), dim)
    return pd.Series([mat[i].tolist() for i in range(mat.shape[0])], index=texts.index)


def embed_series_packed(texts: pd.Series, dim: int = 384) -> pd.Series:
    """Like :func:`embed_series` but packs each vector as little-endian
    float32 bytes — the reference's own storage format (reference
    sqlite_store.py:81-94 ``np.ndarray.tobytes()`` BLOBs) and ~3× cheaper
    through Arrow/parquet than a ``list<float>`` of 384 Python floats."""
    mat = _embed_matrix(list(texts), dim)
    return pd.Series([mat[i].tobytes() for i in range(mat.shape[0])], index=texts.index)


def unpack_vectors(packed: pd.Series, dim: int | None = None) -> np.ndarray:
    """(n, dim) float32 matrix from a Series of packed-float32 bytes."""
    if len(packed) == 0:
        return np.zeros((0, dim or 0), dtype=np.float32)
    return np.frombuffer(b"".join(packed), dtype=np.float32).reshape(len(packed), -1)
