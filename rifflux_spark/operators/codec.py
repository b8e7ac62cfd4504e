"""Delta + varbyte posting-block codec with exact block-max impact scores.

The reference stores its inverted index inside SQLite FTS5 (reference
src/rifflux/db/schema.sql:21-28), whose C internals delta+varint-encode
posting lists per term. The rebuild materializes the same physical idea as
data: each posting block packs up to ``block_size`` postings as

- ``gaps``: varbyte(delta(doc_ord))  — first value is the gap from the
  block's predecessor context (we store absolute first_doc separately and
  encode the first gap relative to it, i.e. gaps[0] == 0);
- ``tfs``:  varbyte(tf per posting);
- ``dls``:  varbyte(total token length of the doc, content+heading — FTS5's
  bm25 D with unit column weights);
- ``block_max_tf`` / ``block_min_dl``: the block-max bound's raw inputs.
  The BM25 tf-normalization ``wtf = tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))``
  is monotone increasing in tf and decreasing in dl, so
  ``wtf(max_tf, min_dl, avgdl_now)`` upper-bounds every posting in the
  block *under the current corpus stats* — storing the raw ints instead
  of a precomputed score keeps the bound valid when incremental updates
  shift avgdl (the posting budget's block bounds, operators/wand.py).

Storing ``dl`` inline trades bytes for locality: query-time scoring never
joins a 10^12-row doc-length table — only the scalars N and avgdl ship
with the query.

Varbyte here is the classic LEB128 little-endian 7-bit group encoding.
Encode/decode are numpy-vectorized (no per-int Python loop on decode hot
path beyond byte-group scans).
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)


def encode_varbyte(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    # byte length per value: ceil(bitlen/7), min 1
    bitlen = np.zeros(vals.shape, dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp = tmp >> np.uint64(7)
    bitlen[bitlen == 0] = 1
    total = int(bitlen.sum())
    out = np.empty(total, dtype=np.uint8)
    # positions of each value's first byte
    starts = np.zeros(vals.shape, dtype=np.int64)
    starts[1:] = np.cumsum(bitlen)[:-1]
    maxlen = int(bitlen.max())
    rem = vals.copy()
    for k in range(maxlen):
        active = bitlen > k
        idx = starts[active] + k
        byte = (rem[active] & _MASK).astype(np.uint8)
        more = (bitlen[active] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | more
        rem = rem >> np.uint64(7)
    return out.tobytes()


def varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (max(1, ceil(bitlen/7))) — exact
    comparison ladder, no float log. Lets one global :func:`encode_varbyte`
    call be sliced into per-segment byte strings."""
    vals = np.asarray(values, dtype=np.uint64)
    lens = np.ones(vals.shape, dtype=np.int64)
    for k in range(7, 64, 7):
        lens += (vals >= np.uint64(1) << np.uint64(k)).astype(np.int64)
    return lens


def encode_varbyte_segments(values: np.ndarray, seg_starts: np.ndarray) -> list[bytes]:
    """Encode ``values`` ONCE and slice the byte stream at ``seg_starts``
    (value indices, first must be 0) → one bytes object per segment.
    Byte-identical to calling :func:`encode_varbyte` per segment (LEB128
    is per-value independent), without the ~15 µs fixed numpy cost per
    call — the difference between ~500k encoder invocations per build
    and three."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return [b"" for _ in range(len(seg_starts))]
    enc = encode_varbyte(vals)
    byte_offs = np.zeros(vals.size + 1, dtype=np.int64)
    np.cumsum(varbyte_lengths(vals), out=byte_offs[1:])
    starts = np.asarray(seg_starts, dtype=np.int64)
    bounds = byte_offs[np.append(starts, vals.size)]
    return [enc[bounds[i] : bounds[i + 1]] for i in range(len(starts))]


def decode_varbyte(data: bytes, n: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 (vectorized).

    Hot-path shapes get O(1)-dispatch fast lanes: posting payloads are
    overwhelmingly uniform-width (stopword gaps and tfs are 1 byte),
    where even the general gather lane costs several times the
    arithmetic. The uniform lanes are pure slicing + one shift-or;
    mixed streams (dls, ~1.3 bytes a value) take the general lane.
    Identical outputs by construction (fuzz-pinned against a scalar
    decoder in tests/test_codec.py)."""
    if not data:
        if n:  # empty payload must not silently satisfy an n>0 contract
            raise ValueError(f"decoded 0 values, expected {n}")
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw[-1] >= 0x80:
        # a terminated stream never ends on a continuation bit — the
        # trailing value would otherwise be silently dropped
        raise ValueError("truncated varbyte stream (trailing continuation bit)")
    is_cont = raw >= 0x80  # continuation bit set
    n_vals = raw.size - int(np.count_nonzero(is_cont))
    if n is not None and n_vals != n:
        raise ValueError(f"decoded {n_vals} values, expected {n}")
    # fast lane: every value single-byte
    if n_vals == raw.size:
        return raw.astype(np.uint64)
    # fast lane: every value exactly two bytes (low7 | high7<<7)
    if 2 * n_vals == raw.size:
        ev, od = is_cont[0::2], is_cont[1::2]
        if ev.all() and not od.any():
            out = (raw[0::2] & np.uint8(0x7F)).astype(np.uint64)
            out |= raw[1::2].astype(np.uint64) << np.uint64(7)
            return out
    # general lane: one full-width gather per byte of significance
    # (maxlen is tiny — ≤3 for doc gaps and dls, ≤10 ever). Byte j of a
    # value shorter than j+1 bytes re-reads its last byte (clamped
    # index) and is multiplied away, so no pass indexes by a mask
    # (masked scatter made this lane ~3.5× slower on a dls-like stream).
    # Values of ≤4 bytes fit 28 bits and are assembled in uint32, halving
    # the passes' memory traffic.
    ends = np.flatnonzero(~is_cont)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    maxlen = int((ends - starts).max()) + 1
    acc = np.uint32 if maxlen <= 4 else np.uint64
    low7 = raw & np.uint8(0x7F)
    out = low7[starts].astype(acc)
    for j in range(1, maxlen):
        at = starts + j
        byte = low7[np.minimum(at, ends)] * (at <= ends)
        out |= byte.astype(acc) << acc(7 * j)
    return out.astype(np.uint64, copy=False)


def bm25_wtf(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """BM25 tf normalization (the per-term factor multiplied by idf)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_block(
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
) -> dict:
    """Encode one sorted run of ≤block_size postings into a block row."""
    doc_ords = np.asarray(doc_ords, dtype=np.int64)
    assert doc_ords.size > 0
    gaps = np.empty_like(doc_ords)
    gaps[0] = 0
    gaps[1:] = np.diff(doc_ords)
    if (gaps[1:] <= 0).any():
        raise ValueError("doc_ords must be strictly increasing within a block")
    tfs = np.asarray(tfs)
    dls = np.asarray(dls)
    return {
        "n_docs": int(doc_ords.size),
        "first_doc": int(doc_ords[0]),
        "last_doc": int(doc_ords[-1]),
        "gaps": encode_varbyte(gaps),
        "tfs": encode_varbyte(tfs),
        "dls": encode_varbyte(dls),
        "block_max_tf": int(tfs.max()),
        "block_min_dl": int(dls.min()),
        # Σtf of the block: term_stats (df, cf) aggregates these metadata
        # rows instead of re-reading the corpus-sized tf table (128× fewer
        # rows at block_size=128 — the difference between a metadata agg
        # and another full pass at 10¹² docs)
        "block_tf_sum": int(tfs.sum()),
    }


def _cat_binary(col) -> bytes:
    """Concatenate a pyarrow binary column's values WITHOUT materializing
    per-row Python bytes objects: consecutive values share one contiguous
    data buffer, so the join is a single buffer slice per chunk. (The old
    ``b"".join(to_pylist())`` cost more than the varbyte decode itself on
    a 30k-block stopword read.)"""
    import pyarrow as pa

    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    parts = []
    for ch in chunks:
        n = len(ch)
        if n == 0:
            continue
        # offsets are int32 for binary, int64 for large_binary —
        # misreading the width silently truncates the payload
        if pa.types.is_large_binary(ch.type) or pa.types.is_large_string(ch.type):
            off_dtype = np.int64
        elif pa.types.is_binary(ch.type) or pa.types.is_string(ch.type):
            off_dtype = np.int32
        else:
            raise TypeError(f"_cat_binary: unsupported Arrow type {ch.type}")
        offs = np.frombuffer(ch.buffers()[1], dtype=off_dtype)
        o0, o1 = int(offs[ch.offset]), int(offs[ch.offset + n])
        parts.append(memoryview(ch.buffers()[2])[o0:o1])
    return b"".join(parts)


def decode_posting_arrow(t) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ords, tfs, dls, n_docs) decoded from an Arrow table or
    RecordBatch of posting-block rows — THE shared prologue of every
    Arrow-native posting reader (distributed BM25 scorer, coordinator
    scorer, MATCH evaluator). Payload bytes
    flow straight from the Arrow binary buffers into the varbyte
    decoder via :func:`_cat_binary`; a codec or block-schema change
    lands here once instead of in every scorer."""
    ns = t.column("n_docs").to_numpy().astype(np.int64)
    docs, tf, dl = decode_blocks_batch(
        [_cat_binary(t.column("gaps"))],
        [_cat_binary(t.column("tfs"))],
        [_cat_binary(t.column("dls"))],
        ns,
        t.column("first_doc").to_numpy().astype(np.int64),
    )
    return docs, tf, dl, ns


def decode_blocks_batch(
    gaps_list,
    tfs_list,
    dls_list,
    n_list,
    first_list,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized decode of MANY blocks at once → (doc_ords, tfs, dls).

    LEB128 is self-delimiting, so the concatenation of every block's bytes
    decodes in ONE vectorized pass; doc ordinals are then a segmented
    cumsum (per-block bases subtracted via np.repeat). Replaces a
    per-block Python loop — ~100k blocks for a stopword query decode in a
    handful of numpy ops instead of 100k interpreter iterations.
    """
    n = np.asarray(n_list, dtype=np.int64)
    if n.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    total = int(n.sum())
    # view, not astype: decoded values are far below 2^63, so the
    # uint64→int64 reinterpret is exact and copy-free (the decode of a
    # stopword query is these three arrays' allocation cost)
    gaps = decode_varbyte(b"".join(gaps_list), total).view(np.int64)
    tfs = decode_varbyte(b"".join(tfs_list), total).view(np.int64)
    dls = decode_varbyte(b"".join(dls_list), total).view(np.int64)
    ends = np.cumsum(n)
    g = np.cumsum(gaps)
    # per-segment base = running cumsum at the END of the previous segment
    base = np.concatenate(([0], g[ends[:-1] - 1]))
    within = g - np.repeat(base, n)
    doc_ords = within + np.repeat(np.asarray(first_list, dtype=np.int64), n)
    return doc_ords, tfs, dls


def decode_block(block: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_block` → (doc_ords, tfs, dls)."""
    n = int(block["n_docs"])
    gaps = decode_varbyte(block["gaps"], n).astype(np.int64)
    doc_ords = np.cumsum(gaps) + int(block["first_doc"])
    tfs = decode_varbyte(block["tfs"], n).astype(np.int64)
    dls = decode_varbyte(block["dls"], n).astype(np.int64)
    return doc_ords, tfs, dls

