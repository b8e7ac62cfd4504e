"""Deduplication operators for training-data pipelines.

Scale shapes (the part that matters at 10^12 docs):

- **exact**: hash-groupBy — one shuffle on a 16-byte key;
- **MinHash + LSH**: shingle → per-doc signature (one pass, vectorized) →
  band → ``groupBy(band, band_hash)`` → candidate pairs only *within*
  buckets (never the O(N²) cross join) → exact-Jaccard verify on the
  candidates;
- **SimHash**: 64-bit signature per doc; near-dup candidates via b-bit
  band tables (4×16-bit here), verified by Hamming distance;
- **embedding cosine**: LSH over random hyperplane sign bits (see ann.py)
  or brute-force for small candidate sets.

All signatures are md5-derived so every stage is deterministic and (for
the oracle-checked entries) reproducible in ANSI SQL. Signature
computation is a Catalyst expression tree (transform/aggregate over token
arrays) — no Python on the hot path.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.functions.text_analysis import ascii_tokens, shingles


def exact_dupes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, keep_id) for every duplicated content hash."""
    return (
        df.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def _minhash_col(grams: Column, seed: int) -> Column:
    """One minhash value: lexicographic min of md5(seed || gram).

    md5 is available in both Spark and DuckDB, making signatures
    oracle-checkable; min-of-hash over the shingle set is the classic
    single-permutation estimator per seed.
    """
    return F.array_min(F.transform(grams, lambda g: F.md5(F.concat(F.lit(str(seed) + "|"), g))))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<string> of n_hashes minhashes).

    The shingle array is let-bound (``_let``) so the tokenize+n-gram
    tree is evaluated ONCE per row, not once per hash seed — higher-
    order functions are CodegenFallback and get no common-subexpression
    elimination (same fix as the Gopher rules; values bit-identical)."""
    from rifflux_spark.functions.text_analysis import _let

    grams = shingles(F.col(text_col), shingle_n)
    sig = _let(grams, lambda g: F.array(*[_minhash_col(g, s) for s in range(n_hashes)]))
    return df.select(F.col(id_col).alias("id"), sig.alias("sig")).filter(F.size("sig") > 0)


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` before the
    within-bucket self-join. A degenerate bucket of b docs (boilerplate,
    empty-text signatures) would emit b(b-1)/2 pairs — at web scale one
    hot bucket turns the stage quadratic. Oversized buckets are almost
    always exact boilerplate, which the exact-dedup pass already catches;
    dropping them bounds the join at b_max²/2 pairs per bucket. The count
    is a window over the same key the join shuffles on, so no extra
    shuffle is introduced."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= max_bucket_size)
        .drop("_bucket_n")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any full band collide.

    Pairs are generated per bucket via a self-join on the band key —
    shuffle is on (band, band_hash); a bucket of b docs yields b(b-1)/2
    pairs, so hot buckets (boilerplate) are dropped above
    ``max_bucket_size`` (see ``_cap_buckets``).
    """
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash"))
    banded = _cap_buckets(banded, ["band", "band_hash"], max_bucket_size)
    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def verify_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard check of candidate pairs (joins shingle sets back —
    candidates only, never the full corpus square)."""
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_n).alias("sh"))
    joined = (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Full pipeline: signatures → LSH candidates → verified near-dup
    pairs (id_a < id_b, jaccard ≥ threshold)."""
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, n_bands, rows_per_band, max_bucket_size)
    return verify_jaccard(cands, df, text_col, id_col, shingle_n, threshold)


# ---------------------------------------------------------------- SimHash


# Column i of the unpacked (little-endian, per-byte) md5 bit matrix that
# holds bit i of the big-endian uint64 of the digest's first 8 bytes:
# byte j = 7 - i//8 holds bits 8j..8j+7 (LSB first), so column 8*(7-i//8)+i%8.
_SIMHASH_BIT_COLS = np.array([8 * (7 - i // 8) + (i % 8) for i in range(64)])
_SIMHASH_WEIGHTS = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over tokens: per bit, sum ±1 votes across token
    occurrences; bit i of md5(token) (big-endian first 8 bytes) decides
    the vote sign. Arrow-batched pandas UDF, vectorized at batch level:
    the batch's token stream is integer-coded in one ``pd.factorize``
    (C-speed hashing), md5 runs once per *unique* token, the digest
    bytes unpack to a (vocab, 64) ±1 matrix in one ``np.unpackbits``,
    and each doc's votes are one tf-weighted matvec over its *unique*
    token rows (``np.unique`` + ``counts @ bitpm[uids]`` — sparse-aware:
    cost scales with the doc's distinct terms × 64, never with the batch
    vocabulary, unlike a dense counts-matrix matmul which loses 50× on
    realistic Zipf web text). The 64 sign bits pack to int64 with one
    matrix-vector product. Result is a signed int64 (two's complement).

    (id, simhash: bigint)
    """
    token_re = re.compile(r"[0-9a-z]+")

    @F.pandas_udf(T.LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype="int64")
        toks_per_doc = [token_re.findall((t or "").lower()) for t in texts]
        lengths = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
        flat_tokens: list[str] = [t for toks in toks_per_doc for t in toks]
        if not flat_tokens:
            return pd.Series(np.zeros(n, dtype=np.int64))
        fi, uniques = pd.factorize(np.asarray(flat_tokens, dtype=object))
        digests = np.frombuffer(
            b"".join(hashlib.md5(t.encode()).digest()[:8] for t in uniques), dtype=np.uint8
        ).reshape(-1, 8)
        bitpm = (
            np.unpackbits(digests, axis=1, bitorder="little")[:, _SIMHASH_BIT_COLS].astype(np.int64)
            * 2
            - 1
        )
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        votes = np.zeros((n, 64), dtype=np.int64)
        for d in range(n):
            if lengths[d]:
                uids, counts = np.unique(
                    fi[starts[d] : starts[d] + lengths[d]], return_counts=True
                )
                votes[d] = counts @ bitpm[uids]
        vals = ((votes > 0).astype(np.uint64) * _SIMHASH_WEIGHTS).sum(
            axis=1, dtype=np.uint64
        ).view(np.int64)
        vals = np.where(lengths > 0, vals, 0)
        return pd.Series(vals, dtype="int64")

    return df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_dupes(
    sim: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = 10000
) -> DataFrame:
    """Candidate pairs via 4×16-bit band tables (two signatures within
    Hamming ≤3 of each other share at least one 16-bit band), verified by
    popcount of xor. Oversized band buckets are dropped (see
    ``_cap_buckets``). Returns (id_a, id_b, hamming)."""
    bands = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    bands = _cap_buckets(bands, ["band", "band_val"], max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def token_segments(text: Column, seg_len: int = 10) -> Column:
    """NON-overlapping ``seg_len``-token segments as strings (tail tokens
    that don't fill a segment are dropped). The segment is the unit of
    CCNet-style corpus-level boilerplate removal — coarser than a shingle,
    cheap to hash, and aligned so a ``seg_len``-multiple boilerplate
    prefix segments identically in every document that carries it."""
    from rifflux_spark.functions.text_analysis import _let

    # the token array MUST be let-bound: unbound, the `transform` lambda
    # body re-evaluates the whole ascii_tokens split once per SEGMENT
    # (O(n_tokens) work × n_segments per row — the dominant cost of the
    # boilerplate pass); bound, the slice reads one materialized array
    def from_toks(toks: Column) -> Column:
        n_full = F.floor(F.size(toks) / seg_len).cast("int")
        idx = F.sequence(F.lit(0), n_full - 1)
        segs = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i * seg_len + 1, seg_len))
        )
        return F.when(n_full > 0, segs).otherwise(F.array().cast("array<string>"))

    return _let(ascii_tokens(text), from_toks)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style corpus-level line deduplication with document
    reassembly: every distinct non-empty (trimmed) line is kept only at
    its globally-FIRST occurrence — smallest ``(doc_id, line_idx)`` —
    and each document is rebuilt from its surviving lines in original
    order (C4, Raffel et al. 2020 §2.2 removes repeated three-sentence
    spans the same way; the unit here is the line).

    Differs from :func:`boilerplate_segment_stats` in both rule and
    output: that op *flags* segments by document frequency; this one
    *removes* every non-first occurrence (threshold 1) and pins the
    exact reconstructed text via its md5.

    Returns ``(id, n_lines, n_kept, cleaned_len, cleaned_md5)`` where
    ``cleaned_md5`` hashes the kept lines re-joined with ``\\n``.

    Scale shape: posexplode → ONE ``groupBy(line)`` keeping
    ``min(struct(doc_id, idx))`` — a partial-aggregating struct-min, so
    a line repeated a billion times collapses map-side instead of
    hot-keying a window — then a per-doc re-agg whose ordering is a
    ``sort_array`` INSIDE the row (no sort exchange). Two shuffles
    total, both partial-agged; the corpus text is never the shuffle key
    (lines are).
    """
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "raw"),
        )
        .select("id", "idx", F.trim(F.col("raw")).alias("line"))
        .filter(F.col("line") != "")
    )
    keepers = (
        lines.groupBy("line")
        .agg(F.min(F.struct("id", "idx", "line")).alias("k"))
        .select(F.col("k.id").alias("id"), F.col("k.idx").alias("idx"), F.col("k.line").alias("line"))
    )
    rebuilt = (
        keepers.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("idx", "line"))).alias("kl"))
        .select(
            "id",
            F.size("kl").cast("long").alias("n_kept"),
            F.concat_ws("\n", F.transform("kl", lambda s: s["line"])).alias("cleaned"),
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(
            F.filter(
                F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
                lambda x: x != F.lit(""),
            )
        )
        .cast("long")
        .alias("n_lines"),
    )
    return base.join(rebuilt, "id", "left").select(
        "id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.length("cleaned"), F.lit(0)).cast("long").alias("cleaned_len"),
        F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_md5"),
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """RefinedWeb-style per-domain document cap: keep at most ``cap``
    documents per domain, chosen deterministically in md5(text) hash
    order (≈ an unbiased shuffle both engines agree on; ties break on
    ``id_col``). Web crawls are Zipf-skewed by domain — capping stops a
    handful of mega-domains from dominating the training mix.

    Scale shape: a single ``row_number`` window partitioned by domain
    funnels a mega-domain's 10^8 rows through ONE reducer sort. This
    runs the salted two-stage top-N instead: stage 1 ranks within
    ``(domain, salt)`` slices (``n_salts``-way parallel per domain) and
    keeps each slice's top-``cap``; stage 2 re-ranks only the ≤
    ``cap * n_salts`` survivors per domain. Any row in a domain's true
    top-``cap`` ranks ≤ ``cap`` inside its own slice too, so the result
    is exactly the unsalted top-``cap`` — stage 2's window is over a
    bounded set, never the raw corpus.

    Returns ``(id_col, domain_col, domain_rank)`` for the kept docs.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.md5(F.col(text_col)).alias("h"),
    ).withColumn("salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
    w1 = Window.partitionBy(domain_col, "salt").orderBy("h", id_col)
    survivors = (
        t.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= cap)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy(domain_col).orderBy("h", id_col)
    return (
        survivors.withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .select(id_col, domain_col, F.col("domain_rank").cast("long"))
    )


def boilerplate_segment_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """Per-doc boilerplate stats after CCNet-style corpus-duplicate
    segment detection (reference has no distributed analog — this is the
    web-pipeline op its single-node design never needed; cf. CCNet,
    Wenzek et al. 2020).

    A segment is *boilerplate* when it occurs in >= ``min_docs`` distinct
    documents. Returns ``(id, n_segments, n_boiler_segments,
    kept_tokens)``.

    Scale shape at 10^12 docs: explode → ONE ``groupBy(segment)`` with
    map-side partial ``countDistinct`` → filter to the (by construction
    high-df, therefore small) boilerplate set → join back on segment →
    per-doc re-agg. The boilerplate side shrinks by ~``min_docs``× vs the
    corpus, so AQE converts the join-back to broadcast when it fits; no
    O(N²) stage anywhere."""
    segs = df.select(
        F.col(id_col).alias("id"),
        token_segments(F.col(text_col), seg_len).alias("segs"),
    )
    exploded = segs.select("id", F.explode("segs").alias("seg"))
    boiler = (
        exploded.groupBy("seg")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg")
    )
    per_doc_boiler = (
        exploded.join(boiler, "seg")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_boiler_segments"))
    )
    base = segs.select("id", F.size("segs").cast("long").alias("n_segments"))
    return (
        base.join(per_doc_boiler, "id", "left")
        .select(
            "id",
            "n_segments",
            F.coalesce("n_boiler_segments", F.lit(0)).cast("long").alias("n_boiler_segments"),
            ((F.col("n_segments") - F.coalesce("n_boiler_segments", F.lit(0))) * seg_len)
            .cast("long")
            .alias("kept_tokens"),
        )
    )


def decontaminate_flags(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    ``gram_n``-gram with a held-out benchmark set (the standard guard
    against train/eval leakage in LLM data pipelines; cf. GPT-3 appendix C
    13-gram overlap).

    Returns ``(id, n_overlap_grams, contaminated)`` where
    ``n_overlap_grams`` counts DISTINCT shared grams.

    Scale shape: the benchmark side is tiny by definition — its distinct
    gram set is collected into a broadcast hash join; the corpus side is
    explode → broadcast-semi-join → per-doc agg (ONE shuffle, map-side
    combine). The 100 TB corpus is never shuffled on the gram key."""
    bench_grams = (
        benchmark.select(F.explode(shingles(F.col(text_col), gram_n)).alias("gram"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), gram_n)).alias("gram"),
    )
    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.countDistinct("gram").cast("long").alias("n_overlap_grams"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(overlap, "id", "left")
        .select(
            "id",
            F.coalesce("n_overlap_grams", F.lit(0)).cast("long").alias("n_overlap_grams"),
            (F.coalesce("n_overlap_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ------------------------------------------------- Connected components


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, component)``
    where ``component`` is the smallest node id in the component.

    A pair list is not a dedup decision: to keep ONE canonical doc per
    duplicate group the pairs must be closed transitively (a~b, b~c ⇒
    {a,b,c} is one cluster). The reference never needs this — its corpus
    fits one SQLite file and dupes are resolved row-at-a-time on insert
    (catalog upsert, sqlite_store.py) — but a 10^12-doc pipeline must
    cluster distributively.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond" — what
    GraphFrames' connectedComponents implements). Each round is a
    ``groupBy(node) → min`` plus a join on node id (two shuffles), and
    the edge set converges to stars pointing at the component minimum in
    O(log² n) rounds — no per-node driver state, no O(diameter) naive
    propagation. Lineage is cut per round with an eager
    ``localCheckpoint`` (bounded by ``max_iter``); convergence is a
    single count+checksum aggregate, not an EXCEPT anti-join.

    Edge sets of ≤ ``driver_max_edges`` (counted off the materialized
    edge table, so the decision is size-adaptive, not config-pinned)
    close on the driver instead: a vectorized min-label propagation over
    one numpy array, identical labels, none of the per-round fixed job
    cost. Web-scale dedup graphs route to the star rounds unchanged."""
    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # materialize the deduped edge set ONCE (it feeds the count, the
    # driver fast path, and every star round) and size-route like the
    # build's driver_agg_max_bytes aggregations: below the threshold the
    # closure is a vectorized min-label propagation on the driver — the
    # distributed version pays ~2 jobs x 4 exchanges of fixed overhead
    # PER ROUND x O(log² n) rounds, pure Amdahl serial fraction for an
    # edge set that fits one numpy array. Above it the star rounds run
    # unchanged (the 100-TB shape). Identical labels by construction:
    # component = min node id either way.
    canon = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = canon.count()
    if n_edges == 0:
        return canon.select(F.col("u").alias("id"), F.col("v").alias("component"))
    if n_edges <= driver_max_edges:
        import numpy as np
        import pandas as pd

        pdf = canon.toPandas()
        u = pdf["u"].to_numpy(np.int64)
        v = pdf["v"].to_numpy(np.int64)
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u) :]
        # Root hooking with pointer jumping: every round each root hooks
        # under the smallest root it shares an edge with, then labels
        # jump to their roots until every tree is a star. Roots only
        # hook to smaller ids, so the fixpoint root is the component
        # minimum (nodes is sorted, so min index == min id). Hooking
        # roots, not nodes, keeps rounds logarithmic on chains whose ids
        # are shuffled along them (1e6 nodes: 14 rounds), where plain
        # min-label propagation needs ~n/2. Bounded like the star
        # rounds: not converged fails loud.
        lbl = np.arange(len(nodes), dtype=np.int64)
        max_rounds = 2 * math.ceil(math.log2(max(len(nodes), 2))) + 4

        def _to_stars(lbl: np.ndarray) -> np.ndarray:
            for _ in range(max_rounds):
                nxt = lbl[lbl]
                if np.array_equal(nxt, lbl):
                    return lbl
                lbl = nxt
            raise RuntimeError(f"label pointer jumping did not converge in {max_rounds} steps")

        for _ in range(max_rounds):
            ru, rv = lbl[ui], lbl[vi]
            cross = ru != rv
            if not cross.any():
                break
            np.minimum.at(lbl, np.maximum(ru[cross], rv[cross]), np.minimum(ru[cross], rv[cross]))
            lbl = _to_stars(lbl)
        else:
            raise RuntimeError(
                f"driver-side connected_components did not converge in {max_rounds} rounds"
            )
        out = pd.DataFrame({"id": nodes, "component": nodes[lbl]})
        return pairs.sparkSession.createDataFrame(out, schema="id long, component long")

    def _sym(d: DataFrame) -> DataFrame:
        return d.unionAll(d.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _fingerprint(d: DataFrame) -> tuple[int, int]:
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # canonical direction: u > v (each undirected edge once) — already
    # materialized above
    edges = canon
    fp = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        # -- large star: every neighbor v > u links to m = min(Γ(u) ∪ {u})
        sym = _sym(edges)
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small star: on edges directed large→small, every v (and u)
        #    links to the minimum smaller neighbor of u
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("n"),
                F.col("m"),
            )
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        edges = small.localCheckpoint(eager=True)
        new_fp = _fingerprint(edges)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # a non-converged edge set is NOT a star forest — labels read off
        # it could give one node two components and silently corrupt the
        # dedup decision downstream. O(log² n) rounds is astronomically
        # inside max_iter=25 for any real graph, so fail loud.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )

    # converged edge set is a star forest (u > v = component root);
    # labels: leaves from the edges, roots label themselves
    leaves = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component")).distinct()
    return leaves.unionAll(roots).distinct()


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Near-dup clusters with a canonical-doc flag: MinHash+LSH verified
    pairs → connected components → ``(doc_id, component, cluster_size,
    is_canonical)`` for every doc in a cluster of size ≥ 2. Keeping rows
    where ``is_canonical OR cluster_size IS NULL`` after a left join is
    the standard "drop near-dups, keep one representative" pass of an
    LLM data pipeline (cf. Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better").

    ``max_bucket_size`` is the LSH skew guard (an LSH bucket bigger than
    this is dropped from candidate generation rather than exploded into
    O(bucket²) pairs). A boilerplate-heavy corpus with a >cap set of
    near-identical docs will therefore NOT form that one giant cluster —
    pass ``None`` to disable the cap when exact closure matters more
    than skew safety (the oracle twin is cap-free)."""
    pairs = minhash_lsh_dedup(
        df, text_col, id_col, n_hashes=n_hashes, n_bands=n_bands,
        shingle_n=shingle_n, threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        F.col("id").alias(id_col),
        F.col("component").cast("long").alias("component"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def _pair_cosine(va: Column, vb: Column) -> Column:
    """Exact cosine between two ``array<float>`` columns as a Catalyst
    expression tree (zip_with + aggregate — JVM-side, no Python UDF on
    the verify path). Zero-norm vectors score 0.0.

    Every shared subexpression is let-bound (``_let``): unbound, the
    cast-transform of each vector appeared 3× and each norm aggregate 2×
    (once in the ``when`` guard, once in the division) — higher-order
    functions are CodegenFallback, so nothing de-duplicated them.
    Values are bit-identical; only the evaluation count changes."""
    from rifflux_spark.functions.text_analysis import _let

    def _dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    return _let(F.transform(va, lambda x: x.cast("double")), lambda a:
        _let(F.transform(vb, lambda x: x.cast("double")), lambda b:
            _let(_dot(a, b), lambda dot:
                _let(F.sqrt(_dot(a, a)), lambda na:
                    _let(F.sqrt(_dot(b, b)), lambda nb:
                        F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(
                            F.lit(0.0)
                        ))))))


def semdedup_pairs(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 7,
    threshold: float = 0.95,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Verified semantic-duplicate PAIRS ``(id_a, id_b)`` — the lazy
    candidate-generation + exact-verify stage of :func:`semdedup` (see
    there for semantics and scale shape). Exposed separately so the pair
    list is reusable and the physical plan is testable before the
    iterative components stage executes."""
    from rifflux_spark.operators.ann import hyperplanes, lsh_bucket_udf

    bits = n_planes // n_bands
    if bits * n_bands != n_planes:
        raise ValueError("n_planes must be divisible by n_bands")
    mask = (1 << bits) - 1

    sig = embeddings.select(
        F.col(id_col).alias("id"),
        lsh_bucket_udf(hyperplanes(dim, n_planes, seed))(F.col(vec_col)).alias("sig"),
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sig", bits * b).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    banded = _cap_buckets(banded, ["band", "band_val"], max_bucket_size)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(_pair_cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )


def semdedup(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 7,
    threshold: float = 0.95,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): cluster vectors cheaply, compare
    pairwise ONLY within clusters, drop all but one representative of
    each semantic-duplicate group.

    Scale shape (the point of the paper): the O(N²) cosine matrix is
    never materialized. Candidate generation is hyperplane-LSH — the
    ``n_planes`` sign-bit signature (ann.hyperplanes — same family the
    ANN index uses) split into ``n_bands`` band tables, so the self-join
    shuffles on (band, band_val) and a pair is compared only when some
    band of sign bits agrees exactly. Two vectors at cosine ≥ 0.95 are
    ≤ 18° apart, so a plane splits them with p ≈ 0.1 and a 4-bit band
    agrees with p ≈ 0.66 — four bands put candidate recall ≈ 99.9%
    while unrelated vectors (p_agree ≈ 0.5/plane) collide on a band only
    ~6% of the time. Oversized buckets (embedding-space boilerplate) are
    capped exactly like the MinHash path (`_cap_buckets`). Candidates
    are then verified with EXACT cosine (Catalyst zip_with/aggregate),
    closed transitively (connected_components), and each cluster keeps
    its min-id member as canonical.

    Returns ``(id_col, component, cluster_size, is_canonical)`` for every
    vector in a duplicate cluster of size ≥ 2; rows absent from the
    output are unique. The reference has no semantic dedup at all — its
    embeddings live row-at-a-time in SQLite (sqlite_store.py) — this is
    a beyond-reference training-data operator.
    """
    pairs = semdedup_pairs(
        embeddings, dim, id_col, vec_col, n_planes, n_bands, seed,
        threshold, max_bucket_size,
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        F.col("id").alias(id_col),
        F.col("component").cast("long").alias("component"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact-substring deduplication at k-token window granularity
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — the ExactSubstr pass, re-shaped for Spark: their
    suffix-array over the concatenated corpus is a single-machine
    construction; the distributed equivalent fingerprints every k-token
    window and removes every token position covered by a window that
    occurs more than once ANYWHERE in the corpus, the conservative
    all-occurrences variant of their tool).

    Pipeline (all Catalyst, no Python):
    1. per doc: token array → md5 fingerprint of each of the n-k+1
       sliding k-token windows, built as an ARRAY expression (the token
       stream is never exploded until the window table);
    2. ONE ``groupBy(window_hash)`` with map-side partial counts finds
       fingerprints occurring ≥ 2 times — the only corpus-wide shuffle,
       carrying (16-byte hash, count);
    3. duplicated window starts join back (shuffle on the same hash key)
       and aggregate per doc; covered = union of [start, start+k) spans,
       computed map-side as array math;
    4. surviving tokens are re-joined in order. Windows straddling a
       duplicated passage's boundary are unique in context, so
       neighbouring original text is never removed.

    Returns ``(id_col, clean_text, n_tokens, n_removed)`` — every doc,
    with ``clean_text`` the space-joined surviving tokens (token-stream
    granularity: the pass normalizes whitespace/punctuation like every
    downstream tokenizer would). Note the md5-of-joined-window
    fingerprint is exact on the token stream — no probabilistic
    bucketing, so the result is deterministic and SQL-twin-checkable.
    """
    tk = ascii_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), tk.alias("tk")).withColumn(
        "n_tokens", F.size("tk").cast("long")
    )
    wins = base.withColumn(
        "wins",
        F.when(
            F.col("n_tokens") >= k,
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens") - k),
                lambda i: F.md5(F.concat_ws(" ", F.slice("tk", i + 1, k))),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    win_rows = wins.select(
        "id", F.posexplode("wins").alias("start", "whash")
    )
    dup_hashes = (
        win_rows.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("whash")
    )
    covered = (
        win_rows.join(dup_hashes, "whash")
        .groupBy("id")
        .agg(F.collect_set("start").alias("starts"))
        .select(
            "id",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "starts", lambda s: F.sequence(s, s + F.lit(k - 1))
                    )
                )
            ).alias("covered"),
        )
    )
    out = (
        wins.join(covered, "id", "left")
        .withColumn(
            "kept_pos",
            F.filter(
                F.sequence(F.lit(0), F.col("n_tokens") - 1),
                lambda p: F.coalesce(
                    ~F.array_contains(F.col("covered"), p), F.lit(True)
                ),
            ),
        )
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(
                " ", F.transform("kept_pos", lambda p: F.element_at("tk", (p + 1).cast("int")))
            ).alias("clean_text"),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.size("kept_pos")).cast("long").alias("n_removed"),
        )
    )
    return out
