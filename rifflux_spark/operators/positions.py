"""Positional postings (opt-in, ``EngineConfig.store_positions``).

SQLite FTS5 stores a poslist — (column, offset) per occurrence — inside
every posting (reference src/rifflux/db/schema.sql:21-28 delegates to
FTS5's poslists), which is what lets its phrase/NEAR queries narrow
candidates before touching any row content. The rebuild's default
design verifies phrases by candidate-intersection + text recheck
(operators/ftsquery.py — df-bounded but still rehydration-bound for
phrases of two high-df terms). This module is the scale-path upgrade
the round-4 verdict called for: a ``positions`` table that rides the
SAME physical layout as the postings table — (term_bucket, salt)
partitioning, block rows, delta+varbyte codec, pruned reads, tombstone
filtering, compaction — so phrase/NEAR candidates narrow by position
intersection with ZERO chunk-table access.

Encoding: a token at offset ``i`` of column ``c`` is stored as
``c * POS_COL_STRIDE + i`` (codec.POS_COL_STRIDE), flattening FTS5's
(column, offset) pair into one monotone int; adjacency (``p+1``) and
NEAR windows can never cross a column boundary, matching FTS5's
per-column match semantics. Column order is (content, heading_path) —
the chunks table's indexed-column order.

Build shape (same discipline as operators/postings.py): ONE
``mapInArrow`` pass over the staged chunk table packs per-(term, salt)
binary position arrays map-side (~4 bytes/occurrence on the wire), ONE
(term_bucket, salt_slice) exchange, then a streaming block encoder.
The content/heading split is recovered WITHOUT re-tokenizing content:
``heading_len = len(tokenize(heading_path))`` (headings are tiny) and
``content_len = dl - heading_len`` — byte-consistent with the build's
token stream by construction, pinned in tests/test_positional_phrase.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.config import EngineConfig
from rifflux_spark.operators.codec import (
    POS_COL_STRIDE,
    decode_positions_flat,
    decode_varbyte,
    encode_positions_flat,
    encode_varbyte,
)

# map-side packed positions: ONE row per (term, salt, source-batch);
# doc offsets within the salt range as u4, per-doc position counts and
# dls as u2, positions as u4 (offset < 65536 + POS_COL_STRIDE fits)
PACKED_POS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.LongType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("doc_offs", T.BinaryType(), False),  # u4 LE per doc
        T.StructField("pos_counts", T.BinaryType(), False),  # u2 LE per doc
        T.StructField("dls", T.BinaryType(), False),  # u2 LE per doc
        T.StructField("positions", T.BinaryType(), False),  # u4 LE per occurrence
    ]
)

_U2_MAX = (1 << 16) - 1


def _pos_arrays(rb):
    """Per-batch position kernel → doc-level grouped arrays.

    Returns (codes_d, docs_d, counts_d, dls_d, pos_flat, vocab): one
    entry per (term, doc) in (term_code, doc) order, with ``pos_flat``
    the concatenated sorted column-strided positions."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from rifflux_spark.functions.tokenizer import tokenize_series

    toks = pc.fill_null(rb.column("tokens"), "")
    split = pc.split_pattern(toks, " ")
    lens = pc.list_value_length(split).to_numpy().astype(np.int64)
    flat = pc.list_flatten(split)
    dic = pc.dictionary_encode(flat)
    if isinstance(dic, pa.ChunkedArray):
        dic = dic.combine_chunks()
    codes = dic.indices.to_numpy().astype(np.int64)
    vocab = dic.dictionary
    n_vocab = len(vocab)

    # content/heading split: heading token count via the parity
    # tokenizer over the (tiny) heading column; content_len = dl - that
    heading = pd.Series(
        rb.column("heading_path").to_pandas() if "heading_path" in rb.schema.names else [""] * rb.num_rows
    ).fillna("")
    h_lens = np.array([len(t) for t in tokenize_series(heading)], dtype=np.int64)
    c_lens = lens - h_lens
    if (c_lens < 0).any():
        raise ValueError("heading token count exceeds total dl — token stream mismatch")

    row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    row_idx = np.repeat(np.arange(rb.num_rows, dtype=np.int64), lens)
    within = np.arange(codes.size, dtype=np.int64) - np.repeat(row_starts, lens)
    c_rep = np.repeat(c_lens, lens)
    pos = np.where(within < c_rep, within, POS_COL_STRIDE + within - c_rep)

    # drop empty-string tokens (blank streams), same rule as the tf path
    empty_mask = pc.equal(vocab, "").to_numpy(zero_copy_only=False)
    if empty_mask.any():
        empty_code = int(np.flatnonzero(empty_mask)[0])
        keep = codes != empty_code
        codes, row_idx, pos = codes[keep], row_idx[keep], pos[keep]

    doc_ord = rb.column("doc_ord").to_numpy()[row_idx]
    dl = rb.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)[row_idx]

    perm = np.lexsort((pos, doc_ord, codes))
    codes, doc_ord, dl, pos = codes[perm], doc_ord[perm], dl[perm], pos[perm]

    # doc-level groups: boundaries where (code, doc) changes
    if codes.size == 0:
        z = np.array([], dtype=np.int64)
        return z, z, z, z, z, vocab
    change = np.flatnonzero((codes[1:] != codes[:-1]) | (doc_ord[1:] != doc_ord[:-1])) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [codes.size]))
    return (
        codes[starts],
        doc_ord[starts],
        (ends - starts).astype(np.int64),
        dl[starts],
        pos,
        vocab,
    )


def packed_positions(chunks: DataFrame, config: EngineConfig) -> DataFrame:
    """Staged chunks (doc_ord, dl, tokens, heading_path) → map-side
    packed per-(term, salt) position arrays (PACKED_POS_SCHEMA),
    ready for :func:`encode_position_postings`. Zero shuffle."""
    salt_range = int(config.salt_range)

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes_d, docs_d, counts_d, dls_d, pos_flat, vocab = _pos_arrays(rb)
            if codes_d.size == 0:
                continue
            if int(counts_d.max()) > _U2_MAX or int(dls_d.max()) > _U2_MAX:
                raise ValueError("packed positions require tf and dl < 65536 per chunk")
            import pyarrow.compute as pc

            salts = docs_d // salt_range
            # doc groups are already in (code, doc) order so (code, salt)
            # groups are contiguous runs of the doc-level arrays
            change = np.flatnonzero(
                (codes_d[1:] != codes_d[:-1]) | (salts[1:] != salts[:-1])
            ) + 1
            g_starts = np.concatenate(([0], change))
            g_ends = np.concatenate((change, [codes_d.size]))
            offs_b = (docs_d - salts * salt_range).astype("<u4").tobytes()
            cnts_b = counts_d.astype("<u2").tobytes()
            dls_b = dls_d.astype("<u2").tobytes()
            pos_b = pos_flat.astype("<u4").tobytes()
            # position-slice bounds per doc-group, then per (code, salt)
            pos_ends = np.cumsum(counts_d)
            pos_starts = pos_ends - counts_d
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(vocab, pa.array(codes_d[g_starts])),
                    pa.array(salts[g_starts], pa.int64()),
                    pa.array(docs_d[g_starts], pa.int64()),
                    pa.array((g_ends - g_starts).astype(np.int32), pa.int32()),
                    pa.array([offs_b[4 * s : 4 * e] for s, e in zip(g_starts, g_ends)], pa.binary()),
                    pa.array([cnts_b[2 * s : 2 * e] for s, e in zip(g_starts, g_ends)], pa.binary()),
                    pa.array([dls_b[2 * s : 2 * e] for s, e in zip(g_starts, g_ends)], pa.binary()),
                    pa.array(
                        [
                            pos_b[4 * pos_starts[s] : 4 * pos_ends[e - 1]]
                            for s, e in zip(g_starts, g_ends)
                        ],
                        pa.binary(),
                    ),
                ],
                names=[f.name for f in PACKED_POS_SCHEMA.fields],
            )

    return chunks.select("doc_ord", "dl", "tokens", "heading_path").mapInArrow(
        gen, schema=PACKED_POS_SCHEMA
    )


def encode_position_postings(packed: DataFrame, config: EngineConfig) -> DataFrame:
    """Packed position arrays → position block rows (POSITIONS_BUCKETED
    layout): ONE (term_bucket, salt_slice) exchange +
    sortWithinPartitions, then a streaming block encoder — the exact
    physical shape of operators/postings.encode_postings, so the table
    inherits its pruning/skew properties."""
    from rifflux_spark.sources.tables import POSITIONS_BUCKETED_SCHEMA

    block_size = config.block_size
    salt_range = int(config.salt_range)
    cols = ["term_bucket", "term", "salt", "first_doc", "doc_offs", "pos_counts", "dls", "positions"]

    def encode_body(pdf: pd.DataFrame) -> pd.DataFrame:
        # ONE vectorized pass over every (term, salt) group (same
        # restructure as postings.encode_postings: three global varbyte
        # encodes sliced at block boundaries instead of ~15 µs of fixed
        # numpy cost per call per block; the position payload encodes
        # once with per-doc absolute restarts, and block slicing lands
        # on doc boundaries so the streams are byte-identical).
        from rifflux_spark.operators.codec import encode_varbyte_segments

        terms = pdf["term"].to_numpy()
        buckets = pdf["term_bucket"].to_numpy(dtype=np.int32)
        salts = pdf["salt"].to_numpy(dtype=np.int64)
        change = np.flatnonzero((terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])) + 1
        g_pack_starts = np.concatenate(([0], change))
        offs_col = pdf["doc_offs"].tolist()
        n_per_pack = np.fromiter((len(x) for x in offs_col), dtype=np.int64, count=len(offs_col)) // 4
        pack_offs = np.zeros(len(offs_col) + 1, dtype=np.int64)
        np.cumsum(n_per_pack, out=pack_offs[1:])
        total = int(pack_offs[-1])
        pg_starts = pack_offs[g_pack_starts]
        pg_ends = np.append(pg_starts[1:], total)
        offs_all = np.frombuffer(b"".join(offs_col), dtype="<u4").astype(np.int64)
        cnts_all = np.frombuffer(b"".join(pdf["pos_counts"].tolist()), dtype="<u2").astype(np.int64)
        dls_all = np.frombuffer(b"".join(pdf["dls"].tolist()), dtype="<u2").astype(np.int64)
        pos_all = np.frombuffer(b"".join(pdf["positions"].tolist()), dtype="<u4").astype(np.int64)
        docs_all = np.repeat(salts, n_per_pack) * salt_range + offs_all
        # per-doc position segment offsets (positions tile doc order)
        pdoc_offs = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(cnts_all, out=pdoc_offs[1:])
        # sortedness within groups; repair the rare arbitrary-input
        # group (reordering its position segments with its docs)
        interior = np.ones(total, dtype=bool)
        interior[pg_starts] = False
        diffs = np.empty_like(docs_all)
        if total:
            diffs[0] = 1
            np.subtract(docs_all[1:], docs_all[:-1], out=diffs[1:])
        if total and not np.all(diffs[interior] > 0):
            bad_pos = np.flatnonzero(interior & (diffs <= 0))
            bad_groups = np.unique(np.searchsorted(pg_starts, bad_pos, side="right") - 1)
            for gi in bad_groups:
                s, e = pg_starts[gi], pg_ends[gi]
                order = np.argsort(docs_all[s:e], kind="stable")
                seg_s, seg_e = pdoc_offs[s:e], pdoc_offs[s + 1 : e + 1]
                seg = pos_all[pdoc_offs[s] : pdoc_offs[e]]
                if seg.size:
                    pos_all[pdoc_offs[s] : pdoc_offs[e]] = np.concatenate(
                        [pos_all[seg_s[i] : seg_e[i]] for i in order]
                    )
                docs_all[s:e] = docs_all[s:e][order]
                cnts_all[s:e] = cnts_all[s:e][order]
                dls_all[s:e] = dls_all[s:e][order]
            np.cumsum(cnts_all, out=pdoc_offs[1:])
        # block tiling
        n_group = pg_ends - pg_starts
        nblocks = (n_group + block_size - 1) // block_size
        grp_of_block = np.repeat(np.arange(len(pg_starts), dtype=np.int64), nblocks)
        blk_offs = np.zeros(len(pg_starts) + 1, dtype=np.int64)
        np.cumsum(nblocks, out=blk_offs[1:])
        n_blocks_total = int(blk_offs[-1])
        seq = np.arange(n_blocks_total, dtype=np.int64) - np.repeat(blk_offs[:-1], nblocks)
        b_starts = pg_starts[grp_of_block] + seq * block_size
        b_ends = np.minimum(b_starts + block_size, pg_ends[grp_of_block])
        gaps = np.empty_like(docs_all)
        if total:
            gaps[0] = 0
            np.subtract(docs_all[1:], docs_all[:-1], out=gaps[1:])
        gaps[b_starts] = 0
        nonstart = np.ones(total, dtype=bool)
        nonstart[b_starts] = False
        if total and not np.all(gaps[nonstart] > 0):
            raise ValueError("doc_ords must be strictly increasing within a block")
        # position deltas: per-doc firsts absolute, rest strictly
        # increasing (exactly encode_positions_flat's layout)
        pdeltas = np.empty_like(pos_all)
        if pos_all.size:
            pdeltas[0] = pos_all[0]
            np.subtract(pos_all[1:], pos_all[:-1], out=pdeltas[1:])
            doc_starts = pdoc_offs[:-1][pdoc_offs[:-1] < pos_all.size]
            pdeltas[doc_starts] = pos_all[doc_starts]
            pnonstart = np.ones(pos_all.size, dtype=bool)
            pnonstart[doc_starts] = False
            if not np.all(pdeltas[pnonstart] > 0):
                raise ValueError("positions must be strictly increasing within a doc")
        g_idx = g_pack_starts[grp_of_block]
        return pd.DataFrame(
            {
                "term": terms[g_idx],
                "salt": salts[g_idx],
                "block_seq": seq,
                "n_docs": b_ends - b_starts,
                "first_doc": docs_all[b_starts] if total else docs_all,
                "last_doc": docs_all[b_ends - 1] if total else docs_all,
                "gaps": encode_varbyte_segments(gaps, b_starts),
                "pos_counts": encode_varbyte_segments(cnts_all, b_starts),
                "dls": encode_varbyte_segments(dls_all, b_starts),
                "positions": encode_varbyte_segments(pdeltas, pdoc_offs[b_starts]),
                "n_pos": np.add.reduceat(cnts_all, b_starts) if total else cnts_all,
                "term_bucket": buckets[g_idx],
            }
        )

    def encode_stream(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            terms = pdf["term"].to_numpy()
            salts = pdf["salt"].to_numpy(dtype=np.int64)
            in_last = (terms == terms[-1]) & (salts == salts[-1])
            cut = len(pdf) - int(np.argmin(in_last[::-1])) if not in_last.all() else 0
            carry = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body):
                yield encode_body(body)
        if carry is not None and len(carry):
            yield encode_body(carry)

    salted = packed.withColumn(
        "term_bucket",
        F.pmod(F.xxhash64("term"), F.lit(config.n_term_buckets)).cast("int"),
    ).withColumn(
        "salt_slice",
        F.pmod(F.xxhash64("salt"), F.lit(int(config.n_bucket_splits))),
    )
    parted = salted.repartition("term_bucket", "salt_slice").sortWithinPartitions(
        "term_bucket", "term", "salt", "first_doc"
    )
    return parted.select(*cols).mapInPandas(encode_stream, schema=POSITIONS_BUCKETED_SCHEMA)


def decode_position_blocks(pdf: pd.DataFrame):
    """Vectorized decode of MANY position block rows →
    (doc_ords, counts, dls, pos_flat, block_row_idx). ``pos_flat`` is
    segmented by ``counts``; ``block_row_idx`` repeats each input row's
    index per doc so callers can recover term labels."""
    ns = pdf["n_docs"].to_numpy(dtype=np.int64)
    if ns.size == 0:
        z = np.array([], dtype=np.int64)
        return z, z, z, z, z
    total = int(ns.sum())
    gaps = decode_varbyte(b"".join(bytes(x) for x in pdf["gaps"]), total).astype(np.int64)
    ends = np.cumsum(ns)
    g = np.cumsum(gaps)
    base = np.concatenate(([0], g[ends[:-1] - 1]))
    docs = g - np.repeat(base, ns) + np.repeat(
        pdf["first_doc"].to_numpy(dtype=np.int64), ns
    )
    counts = decode_varbyte(
        b"".join(bytes(x) for x in pdf["pos_counts"]), total
    ).astype(np.int64)
    dls = decode_varbyte(b"".join(bytes(x) for x in pdf["dls"]), total).astype(np.int64)
    # per-block position payloads decode independently (delta restarts
    # per doc, segment firsts absolute) so the concatenation decodes in
    # one pass segmented by the concatenated counts
    pos_flat = decode_positions_flat(
        b"".join(bytes(x) for x in pdf["positions"]), counts
    )
    row_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), ns)
    return docs, counts, dls, pos_flat, row_idx


def phrase_instance_starts(pos_lists: list[np.ndarray]) -> np.ndarray:
    """Start positions of exact-phrase instances given per-slot position
    arrays (slot j = positions of the phrase's j-th token in one doc):
    ``p`` is an instance start iff ``p + j`` ∈ pos_lists[j] for all j.
    Column-crossing runs are impossible by the POS_COL_STRIDE encoding."""
    cur = pos_lists[0]
    for j in range(1, len(pos_lists)):
        if cur.size == 0:
            break
        cur = cur[np.isin(cur + j, pos_lists[j], assume_unique=False)]
    return cur


COL_INDEX = {"content": 0, "heading_path": 1}


def filter_unit_starts(
    starts: np.ndarray, anchored: bool, cols: tuple[str, ...] | None
) -> np.ndarray:
    """Apply FTS5 unit modifiers to strided instance starts: ``^`` keeps
    only column-initial instances (offset-within-column == 0); a column
    filter keeps instances whose column (start // POS_COL_STRIDE) is
    allowed — an instance lives entirely in one column by the stride
    encoding."""
    if anchored and starts.size:
        starts = starts[starts % POS_COL_STRIDE == 0]
    if cols is not None and starts.size:
        allowed = np.array(sorted(COL_INDEX[c] for c in cols), dtype=np.int64)
        starts = starts[np.isin(starts // POS_COL_STRIDE, allowed)]
    return starts


# ------------------------------------------------------------- query paths

_POS_ROW = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("pos", T.BinaryType(), False),  # u4 LE absolute
    ]
)

_PHRASE_COUNT_ROW = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("tfp", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)


def _decode_to_rows(blocks: DataFrame) -> DataFrame:
    """Position blocks → one row per (doc, term) carrying the doc's
    absolute positions as a u4 binary (stays binary through the shuffle:
    ~4 bytes/occurrence, no per-position rows)."""

    def decode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            docs, counts, dls, pos_flat, row_idx = decode_position_blocks(pdf)
            terms = pdf["term"].to_numpy()[row_idx]
            pos_b = pos_flat.astype("<u4").tobytes()
            ends = np.cumsum(counts)
            starts = ends - counts
            yield pd.DataFrame(
                {
                    "doc_ord": docs,
                    "term": terms,
                    "dl": dls,
                    "pos": [pos_b[4 * s : 4 * e] for s, e in zip(starts, ends)],
                }
            )

    cols = ["term", "gaps", "pos_counts", "dls", "positions", "n_docs", "first_doc"]
    return blocks.select(*cols).mapInPandas(decode, schema=_POS_ROW)


def positional_phrase_counts(store, phrase: list[str]) -> DataFrame | None:
    """Distributed (doc_ord, tfp, dl) for an exact phrase from the
    positional table: pruned position scan → vectorized block decode →
    ONE groupBy(doc_ord) exchange (pivoting each unique term's position
    binary into a column) → Arrow-batched instance counting. Zero
    chunk-table access — the round-4 verdict's scale upgrade: phrase
    candidate volume is bounded by position-intersected df, not text
    rehydration."""
    uniq = sorted(set(phrase))
    if not uniq:
        return None
    rows = _decode_to_rows(store.positions_for_terms(uniq))
    aggs = [F.count("*").alias("n_terms"), F.max("dl").alias("dl")]
    for i, t in enumerate(uniq):
        aggs.append(F.max(F.when(F.col("term") == t, F.col("pos"))).alias(f"p{i}"))
    cand = rows.groupBy("doc_ord").agg(*aggs).filter(F.col("n_terms") == len(uniq))
    slot_of = [uniq.index(t) for t in phrase]

    def count(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            per_uniq = [
                [np.frombuffer(b, dtype="<u4").astype(np.int64) for b in pdf[f"p{i}"]]
                for i in range(len(uniq))
            ]
            tfp = np.fromiter(
                (
                    phrase_instance_starts([per_uniq[s][r] for s in slot_of]).size
                    for r in range(len(pdf))
                ),
                dtype=np.int64,
                count=len(pdf),
            )
            out = pd.DataFrame(
                {"doc_ord": pdf["doc_ord"], "tfp": tfp, "dl": pdf["dl"]}
            )
            yield out[out["tfp"] > 0]

    return cand.mapInPandas(count, schema=_PHRASE_COUNT_ROW)


def encode_position_block_fields(
    docs: np.ndarray, cnts: np.ndarray, dls: np.ndarray, pos_flat: np.ndarray
) -> dict:
    """Re-encode one position block's payload fields (compaction path)."""
    gaps = np.empty_like(docs)
    gaps[0] = 0
    gaps[1:] = np.diff(docs)
    return {
        "n_docs": int(docs.size),
        "first_doc": int(docs[0]),
        "last_doc": int(docs[-1]),
        "gaps": encode_varbyte(gaps),
        "pos_counts": encode_varbyte(cnts),
        "dls": encode_varbyte(dls),
        "positions": encode_positions_flat(pos_flat, cnts),
        "n_pos": int(cnts.sum()),
    }


def compact_positions_stream(b_ords):
    """mapInPandas generator factory dropping tombstoned docs from
    position block rows — the positional twin of compact()'s postings
    rewrite. Miss rows pass through byte-equal; whole-dead blocks drop.
    ``b_ords`` is the sorted-tombstone Spark broadcast (one copy per
    executor, not one per task closure)."""

    def stream(batches):
        t = b_ords.value
        for pdf in batches:
            if pdf.empty:
                continue
            firsts = pdf["first_doc"].to_numpy()
            lasts = pdf["last_doc"].to_numpy()
            idx = np.searchsorted(t, firsts)
            hits = (idx < t.size) & (t[np.minimum(idx, t.size - 1)] <= lasts)
            keep_rows = []
            for i in np.flatnonzero(hits):
                row = pdf.iloc[[i]]
                docs, cnts, dls, pos_flat, _ = decode_position_blocks(row)
                pos = np.searchsorted(t, docs)
                dead = (pos < t.size) & (t[np.minimum(pos, t.size - 1)] == docs)
                if dead.all():
                    continue
                if not dead.any():
                    keep_rows.append(row)
                    continue
                seg_ends = np.cumsum(cnts)
                seg_starts = seg_ends - cnts
                live = ~dead
                new_pos = np.concatenate(
                    [pos_flat[seg_starts[j] : seg_ends[j]] for j in np.flatnonzero(live)]
                )
                blk = encode_position_block_fields(
                    docs[live], cnts[live], dls[live], new_pos
                )
                new = row.copy()
                for k, v in blk.items():
                    new[k] = [v]
                keep_rows.append(new)
            parts = [pdf.loc[~hits]] + keep_rows
            out = pd.concat(parts, ignore_index=True)
            if len(out):
                yield out

    return stream


def local_positions(store, terms: list[str]):
    """Coordinator-path read of the positional table for ``terms`` →
    ({term: {doc: positions array}}, {doc: dl}) — bucket- and
    row-group-pruned, df-proportional bytes."""
    from rifflux_spark.operators.local_exec import _bucket_files, _read_filtered
    from rifflux_spark.functions.xxhash64 import term_bucket

    per_term: dict[str, dict[int, np.ndarray]] = {t: {} for t in terms}
    dl_map: dict[int, int] = {}
    if not terms:
        return per_term, dl_map
    buckets = {term_bucket(t, store.n_term_buckets) for t in terms}
    files = _bucket_files(store, "positions", buckets)
    t = _read_filtered(
        files,
        ["term", "n_docs", "first_doc", "gaps", "pos_counts", "dls", "positions"],
        terms,
    )
    if t is None:
        return per_term, dl_map
    pdf = t.to_pandas()
    docs, counts, dls, pos_flat, row_idx = decode_position_blocks(pdf)
    terms_rep = pdf["term"].to_numpy()[row_idx]
    ends = np.cumsum(counts)
    starts = ends - counts
    for i in range(docs.size):
        d = int(docs[i])
        per_term[str(terms_rep[i])][d] = pos_flat[starts[i] : ends[i]]
        dl_map[d] = int(dls[i])
    return per_term, dl_map
