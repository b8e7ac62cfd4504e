"""Hash embedder + dim normalization + factory — ports of reference
tests/test_embedder_factory.py behaviors and hash_embedder semantics."""

from __future__ import annotations

import hashlib

import numpy as np

from rifflux_spark.functions.embedder import (
    embed_series,
    embed_series_packed,
    hash_embed,
    normalize_dim,
    resolve_embedder,
)


def test_hash_embed_deterministic_unit_norm() -> None:
    a = hash_embed("redis cache ttl policy and eviction")
    b = hash_embed("redis cache ttl policy and eviction")
    assert a.dtype == np.float32
    assert a.shape == (384,)
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-6


def test_hash_embed_empty_is_zero_vector() -> None:
    v = hash_embed("!!! ???")  # no tokens under [A-Za-z0-9_./-]+
    assert not v.any()


def test_hash_embed_token_placement_matches_reference_formula() -> None:
    # one token: vec[bucket] == ±(1 + d5/255) / norm — reference
    # hash_embedder.py:14-22
    token = "cache"
    digest = hashlib.sha256(token.encode()).digest()
    idx = int.from_bytes(digest[:4], "big") % 384
    sign = -1.0 if digest[4] & 1 else 1.0
    v = hash_embed(token)
    assert v[idx] != 0
    assert np.sign(v[idx]) == sign
    assert np.count_nonzero(v) == 1


def test_normalize_dim_truncate_pad_renormalize() -> None:
    v = np.ones(8, dtype=np.float32)
    t = normalize_dim(v, 4)
    assert t.shape == (4,)
    assert abs(float(np.linalg.norm(t)) - 1.0) < 1e-6
    p = normalize_dim(np.array([3.0, 4.0], dtype=np.float32), 4)
    assert p.shape == (4,)
    assert abs(float(np.linalg.norm(p)) - 1.0) < 1e-6
    assert p[2] == 0.0 and p[3] == 0.0
    z = normalize_dim(np.zeros(2, dtype=np.float32), 4)
    assert not z.any()
    m = normalize_dim(np.ones((2, 2), dtype=np.float32), 4)
    assert m.shape == (4,)


def test_resolve_embedder_hash_and_auto_fallback() -> None:
    h = resolve_embedder("hash", dim=64)
    assert h.model_label == "hash-64"
    assert h.embed("x").shape == (64,)
    # 'auto'/'onnx' fall back to hash when fastembed is absent (it is here)
    a = resolve_embedder("auto", dim=64)
    assert a.model_label == "hash-64"
    o = resolve_embedder("onnx", dim=64)
    assert o.model_label == "hash-64"


def test_embed_series_matches_scalar() -> None:
    import pandas as pd

    texts = pd.Series(["alpha beta", "", None, "gamma"])
    out = embed_series(texts, dim=32)
    assert len(out) == 4
    assert out[0] == hash_embed("alpha beta", 32).tolist()
    assert out[1] == [0.0] * 32
    assert out[2] == [0.0] * 32


def test_embed_series_keeps_input_index() -> None:
    """Direct callers align results back onto filtered frames by index."""
    import pandas as pd

    texts = pd.Series(["alpha beta", "gamma", "delta"], index=[7, 3, 42])
    out = embed_series(texts, dim=16)
    packed = embed_series_packed(texts, dim=16)
    assert list(out.index) == [7, 3, 42]
    assert list(packed.index) == [7, 3, 42]
    assert out[3] == hash_embed("gamma", 16).tolist()
    assert packed[42] == hash_embed("delta", 16).astype(np.float32).tobytes()
