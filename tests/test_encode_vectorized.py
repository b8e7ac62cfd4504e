"""Vectorized block encoders vs the per-block reference codec.

Round 6 rewrote ``encode_postings`` from a
per-(term,salt)-group Python loop (3 ``encode_varbyte`` calls per block)
to one global encode sliced at block boundaries. These tests pin the
contract: the segmented encoder is byte-identical to per-segment
``encode_varbyte`` calls on arbitrary inputs, and the full posting
encode produces rows whose payloads equal ``encode_block``'s, including
the unsorted-input repair path.
"""

from __future__ import annotations

import numpy as np
import pytest

from rifflux_spark.operators.codec import (
    decode_varbyte,
    encode_block,
    encode_varbyte,
    encode_varbyte_segments,
    varbyte_lengths,
)


def test_varbyte_lengths_matches_encoder() -> None:
    rng = np.random.default_rng(7)
    # values spanning every byte-length bucket incl. the 64-bit edge
    vals = np.concatenate(
        [
            rng.integers(0, 1 << 7, 50, dtype=np.uint64),
            rng.integers(0, 1 << 14, 50, dtype=np.uint64),
            rng.integers(0, 1 << 40, 50, dtype=np.uint64),
            np.array([0, 127, 128, (1 << 63) - 1, (1 << 64) - 1], dtype=np.uint64),
        ]
    )
    lens = varbyte_lengths(vals)
    for v, n in zip(vals, lens):
        assert len(encode_varbyte(np.array([v], dtype=np.uint64))) == int(n)


def test_segmented_encode_is_bytewise_per_segment() -> None:
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 1 << 21, 1000, dtype=np.uint64)
    cuts = np.unique(rng.integers(0, 1000, 17))
    if cuts.size == 0 or cuts[0] != 0:
        cuts = np.concatenate(([0], cuts))
    segs = encode_varbyte_segments(vals, cuts)
    bounds = np.append(cuts, vals.size)
    for i, seg in enumerate(segs):
        assert seg == encode_varbyte(vals[bounds[i] : bounds[i + 1]])
        back = decode_varbyte(seg, int(bounds[i + 1] - bounds[i])) if seg else decode_varbyte(seg)
        assert (back == vals[bounds[i] : bounds[i + 1]]).all()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_encode_postings_rows_match_reference(spark, seed, tmp_path) -> None:
    """Random thin tf frames through the vectorized encoder equal a
    per-block encode_block reference, including unsorted inputs."""
    from rifflux_spark.config import EngineConfig
    from rifflux_spark.operators.postings import encode_postings

    rng = np.random.default_rng(seed)
    cfg = EngineConfig(block_size=4, salt_range=32, n_term_buckets=4)
    terms = [f"t{i}" for i in range(6)]
    rows = []
    seen = set()
    for _ in range(300):
        t = terms[rng.integers(0, len(terms))]
        d = int(rng.integers(0, 200))
        if (t, d) in seen:
            continue
        seen.add((t, d))
        rows.append((t, d, int(rng.integers(1, 400)), int(rng.integers(1, 9))))
    df = spark.createDataFrame(rows, "term string, doc_ord long, dl int, tf long")
    out = encode_postings(df, cfg).collect()

    # reference: group by (term, salt), sort docs, cut into blocks
    by_group: dict[tuple, list] = {}
    for t, d, dl, tf in rows:
        by_group.setdefault((t, d // cfg.salt_range), []).append((d, tf, dl))
    expect = {}
    for (t, salt), triples in by_group.items():
        triples.sort()
        docs = np.array([x[0] for x in triples])
        tfs = np.array([x[1] for x in triples])
        dls = np.array([x[2] for x in triples])
        for seq, b0 in enumerate(range(0, len(docs), cfg.block_size)):
            b1 = min(b0 + cfg.block_size, len(docs))
            expect[(t, salt, seq)] = encode_block(docs[b0:b1], tfs[b0:b1], dls[b0:b1])
    assert len(out) == len(expect)
    for r in out:
        blk = expect[(r["term"], r["salt"], r["block_seq"])]
        for k in ("n_docs", "first_doc", "last_doc", "gaps", "tfs", "dls",
                  "block_max_tf", "block_min_dl", "block_tf_sum"):
            got = r[k]
            want = blk[k]
            assert (bytes(got) if isinstance(got, (bytes, bytearray)) else got) == want, (
                r["term"], r["salt"], r["block_seq"], k,
            )
