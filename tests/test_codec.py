"""Posting-block codec: varbyte/delta roundtrips (property-based) and
block-max correctness."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rifflux_spark.operators.codec import (
    bm25_wtf,
    decode_block,
    decode_varbyte,
    encode_block,
    encode_varbyte,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values: list[int]) -> None:
    arr = np.array(values, dtype=np.uint64)
    assert decode_varbyte(encode_varbyte(arr)).tolist() == values


def test_varbyte_known_bytes() -> None:
    # classic LEB128: 300 = 0b1_0101100 -> 0xAC 0x02
    assert encode_varbyte(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert encode_varbyte(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varbyte(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varbyte(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**6),  # gap
            st.integers(min_value=1, max_value=500),    # tf
            st.integers(min_value=1, max_value=5000),   # dl
        ),
        min_size=1,
        max_size=256,
    ),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings: list[tuple[int, int, int]], base: int) -> None:
    gaps = np.array([p[0] for p in postings], dtype=np.int64)
    doc_ords = base + np.cumsum(gaps)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    block = encode_block(doc_ords, tfs, dls)
    got_docs, got_tfs, got_dls = decode_block(block)
    assert got_docs.tolist() == doc_ords.tolist()
    assert got_tfs.tolist() == tfs.tolist()
    assert got_dls.tolist() == dls.tolist()
    assert block["first_doc"] == int(doc_ords[0])
    assert block["last_doc"] == int(doc_ords[-1])
    # (max_tf, min_dl) dominate every per-posting wtf at ANY avgdl —
    # the avgdl-drift-proof block-max bound
    for avgdl in (1.0, float(dls.mean()), 10_000.0):
        wtf = bm25_wtf(tfs, dls, avgdl, 1.2, 0.75)
        bound = bm25_wtf(
            np.array([block["block_max_tf"]]),
            np.array([block["block_min_dl"]]),
            avgdl,
            1.2,
            0.75,
        )[0]
        assert bound >= float(wtf.max()) - 1e-12


def test_block_rejects_unsorted() -> None:
    import pytest

    with pytest.raises(ValueError):
        encode_block(np.array([5, 3]), np.array([1, 1]), np.array([10, 10]))


def _leb128(values: list[int]) -> bytes:
    """Scalar LEB128 encoder, independent of the vectorized one."""
    out = bytearray()
    for v in values:
        while True:
            low, v = v & 0x7F, v >> 7
            out.append(low | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def _unleb128(data: bytes) -> list[int]:
    """Scalar LEB128 reference decoder (one byte at a time)."""
    out, acc, shift = [], 0, 0
    for byte in data:
        acc |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append(acc)
            acc, shift = 0, 0
    if shift:
        raise ValueError("trailing continuation bit")
    return out


def _width_value(rng, width: int) -> int:
    """A value whose LEB128 encoding is exactly ``width`` bytes."""
    lo = 0 if width == 1 else 1 << (7 * (width - 1))
    hi = min(1 << (7 * width), 1 << 64) - 1
    return int(rng.integers(lo, hi, endpoint=True, dtype=np.uint64))


def test_varbyte_decode_matches_scalar_reference() -> None:
    """Differential fuzz of every decode lane (1-byte, 2-byte, general)
    against the scalar decoder: uniform widths 1–10, mixed-width streams
    (1/2/3-byte dls-like, and 1–10), single values and the extremes."""
    rng = np.random.default_rng(20240607)
    streams: list[list[int]] = [[0], [127], [128], [2**64 - 1], [2**63], [2**64 - 1, 0, 1]]
    for width in range(1, 11):
        streams.append([_width_value(rng, width)])
        streams.append([_width_value(rng, width) for _ in range(int(rng.integers(2, 300)))])
    for _ in range(300):
        n = int(rng.integers(1, 400))
        top = int(rng.choice([2, 3, 3, 4, 10]))
        p = rng.dirichlet(np.ones(top))
        widths = rng.choice(np.arange(1, top + 1), size=n, p=p)
        streams.append([_width_value(rng, int(w)) for w in widths])
    lanes = set()
    for values in streams:
        data = _leb128(values)
        assert _unleb128(data) == values
        lanes.add("1" if len(data) == len(values) else "2" if len(data) == 2 * len(values) else "g")
        got = decode_varbyte(data, len(values))
        assert got.dtype == np.uint64
        assert [int(x) for x in got] == values
        assert [int(x) for x in decode_varbyte(data)] == values
    assert lanes == {"1", "2", "g"}


def test_varbyte_decode_rejects_malformed() -> None:
    import pytest

    rng = np.random.default_rng(7)
    for values in ([300], [1, 2, 3], [5, 2**40, 7, 128]):
        data = _leb128(values)
        # a stream cut inside a multi-byte value ends on a continuation bit
        for cut in range(1, len(data)):
            if data[cut - 1] >= 0x80:
                with pytest.raises(ValueError, match="trailing continuation"):
                    decode_varbyte(data[:cut])
        for wrong in (len(values) - 1, len(values) + 1):
            with pytest.raises(ValueError, match="expected"):
                decode_varbyte(data, wrong)
    mixed = _leb128([_width_value(rng, int(w)) for w in rng.integers(1, 4, 50)])
    with pytest.raises(ValueError, match="trailing continuation"):
        decode_varbyte(mixed + b"\x80")
    with pytest.raises(ValueError, match="expected"):
        decode_varbyte(mixed, 49)
    with pytest.raises(ValueError, match="expected"):
        decode_varbyte(b"", 1)
