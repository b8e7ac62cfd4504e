"""BM25 top-k over the block-compressed posting index, with optional
block-max pruning.

Reproduces FTS5 bm25 exactly (verified against SQLite in
tests/test_bm25_rank_identity.py; reference sqlite_store.py:150-182):

    idf(t)  = ln((N - df_t + 0.5) / (df_t + 0.5)), clamped to 1e-6 if <= 0
    wtf     = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),  k1=1.2 b=0.75
    score   = Σ_t idf(t) * wtf          (returned negated, FTS5 convention)

``dl`` is the summed token length of both indexed columns (content +
heading_path, unit weights) — stored inline in the blocks, so scoring
needs **no join against a doc-length table**: only the scalars N and
avgdl ship with the query. Ranking ties break on ``doc_ord`` ascending =
SQLite rowid order (SURVEY.md §4).

Block-max pruning (SURVEY.md §2 Q3): per-term per-block upper bounds
``UB(B_t) = idf_t * block_max_wtf(B_t)``. For a disjunctive query any
doc touching block ``B_t`` has total score ≤ UB(B_t) + Σ_{t'≠t}
max_B UB(B_t'). If that bound is below a threshold θ that itself lower-
bounds the true k-th best score, every doc in the block is globally out
of the top-k — so skipped blocks cannot affect membership *or* the exact
scores of survivors. θ comes from fully scoring the highest-impact blocks
per term. Pruning on/off is correctness-invariant (tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.operators import wand
from rifflux_spark.operators.codec import bm25_wtf, decode_posting_arrow
from rifflux_spark.operators.ftsquery import unit_idf
from rifflux_spark.sources.tables import IndexStore

_SCORE_ROW = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("partial", T.DoubleType(), False),
    ]
)


def idf_for_terms(store: IndexStore, terms: list[str], n_docs: int) -> dict[str, float]:
    """FTS5 ln-idf with the observed 1e-6 clamp; terms absent from the
    index simply contribute nothing (df lookup returns no row)."""
    if not terms:
        return {}
    stats = (
        store.term_stats()
        .filter(F.col("term").isin(terms))
        .select("term", "df_docs")
        .collect()
    )
    return {row["term"]: unit_idf(n_docs, int(row["df_docs"])) for row in stats}


def _score_blocks(
    blocks: DataFrame,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Decode blocks → per-(doc, term) partial scores, pre-aggregated per
    Arrow batch to shrink the shuffle. ``ranges`` (budgeted mode): keep
    only docs inside the selected doc intervals, so every emitted doc
    has ALL its postings decoded — scores stay exact."""
    idf_b = dict(idf)

    def score(batches):
        # Arrow-native (mapInArrow): payload bytes flow straight from
        # the record batch's contiguous binary buffers into the varbyte
        # decoder (_cat_binary) — no per-blob Python bytes objects; the
        # per-batch partial agg is a sorted reduceat, not a pandas
        # groupby hash
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            docs, tf, dl, ns = decode_posting_arrow(rb)
            idf_per = np.repeat(
                np.array([idf_b[t] for t in rb.column("term").to_pylist()]), ns
            )
            partials = bm25_wtf(tf, dl, avgdl, k1, b) * idf_per
            if ranges is not None:
                inside = wand.mask_docs_to_ranges(docs, ranges)
                docs, partials = docs[inside], partials[inside]
                if docs.size == 0:
                    continue
            order = np.argsort(docs, kind="stable")
            docs, partials = docs[order], partials[order]
            uniq, starts = np.unique(docs, return_index=True)
            sums = np.add.reduceat(partials, starts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq, pa.int64()), pa.array(sums, pa.float64())],
                names=["doc_ord", "partial"],
            )

    cols = ["term", "gaps", "tfs", "dls", "n_docs", "first_doc"]
    return blocks.select(*cols).mapInArrow(score, schema=_SCORE_ROW)


def bm25_topk(
    spark,
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    prune: bool = True,
    cstats: dict | None = None,
    min_blocks_to_prune: int = 64,
) -> DataFrame:
    """Top-k lexical search → (doc_ord, bm25_score) with FTS5's negated
    score convention, best first.

    Physical shape: posting scan (partition+rowgroup pruned by term) →
    decode/score mapInPandas → groupBy(doc_ord).sum → TakeOrderedAndProject.
    """
    config = config or EngineConfig()
    terms = compile_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "doc_ord long, bm25_score double"
        )
    cstats = cstats or store.corpus_stats()
    n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])
    idf = idf_for_terms(store, sorted(set(terms)), n_docs)
    # FTS5 scores every phrase instance: a term repeated in the query
    # contributes once per occurrence (observed vs the oracle), so weight
    # idf by query-term multiplicity.
    mult: dict[str, int] = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1
    idf = {t: v * mult[t] for t, v in idf.items()}
    terms = sorted(idf)
    if not terms:
        return spark.createDataFrame([], "doc_ord long, bm25_score double")

    blocks = store.postings_for_terms(terms)

    ranges = None
    if prune or int(getattr(config, "lexical_budget_postings", 0) or 0) > 0:
        blocks, ranges = _prune_blocks(
            blocks, idf, top_k, avgdl, config, min_blocks_to_prune,
            store=store, prune=prune,
        )

    scored = _score_blocks(
        blocks, idf, avgdl, config.bm25_k1, config.bm25_b, ranges=ranges
    )
    agg = scored.groupBy("doc_ord").agg(F.sum("partial").alias("score"))
    # incremental deletes: drop tombstoned docs (set is small between
    # compactions — broadcast anti-join; compaction clears it)
    if store.exists("tombstones"):
        agg = agg.join(F.broadcast(store.tombstones()), on="doc_ord", how="left_anti")
    topk = agg.orderBy(F.desc("score"), F.asc("doc_ord")).limit(top_k)
    return topk.select("doc_ord", (-F.col("score")).alias("bm25_score"))


def _key_col():
    return F.concat_ws(
        "\x00", "term", F.col("salt").cast("string"), F.col("block_seq").cast("string")
    )


def _keys_of(terms, salts, seqs, idxs) -> list[str]:
    return [
        "\x00".join((terms[i], str(int(salts[i])), str(int(seqs[i]))))
        for i in idxs
    ]


# past this many keys an In(...) literal list costs more to COMPILE than
# the scan it guards (measured: 3.9k keys ≈ 2.7 s of Catalyst time);
# switch to a broadcast semi-join on the key triple
_ISIN_KEY_MAX = 256


def _filter_blocks_by_keys(
    spark, blocks: DataFrame, terms, salts, seqs, idxs
) -> DataFrame:
    idxs = list(int(i) for i in idxs)
    if len(idxs) <= _ISIN_KEY_MAX:
        return blocks.filter(_key_col().isin(_keys_of(terms, salts, seqs, idxs)))
    # pandas → Arrow-batched transfer: a stopword-class budgeted query
    # can keep ~100k block keys, where row-tuple serialization costs
    # seconds and the Arrow path milliseconds
    import pandas as pd

    keydf = spark.createDataFrame(
        pd.DataFrame(
            {
                "term": [terms[i] for i in idxs],
                "salt": pd.array([int(salts[i]) for i in idxs], dtype="int64"),
                "block_seq": pd.array(
                    [int(seqs[i]) for i in idxs], dtype="int64"
                ),
            }
        ),
        schema="term string, salt long, block_seq long",
    )
    return blocks.join(
        F.broadcast(keydf), on=["term", "salt", "block_seq"], how="left_semi"
    )


def _prune_blocks(
    blocks: DataFrame,
    idf: dict[str, float],
    top_k: int,
    avgdl: float,
    config: EngineConfig,
    min_blocks_to_prune: int = 64,
    store: IndexStore | None = None,
    prune: bool = True,
) -> tuple[DataFrame, list[tuple[int, int]] | None]:
    """Drop blocks that provably cannot host any top-k doc; optionally
    apply the posting budget. Returns (blocks, ranges) — ranges non-None
    only in budgeted mode (the scorer masks docs to them).

    Driver-side on block *metadata* only (one row per block for the
    query's terms), with the same range-aligned bound math as the
    coordinator path (operators/wand.py):

    - bounds near-uniform (stopword-class, clamped idfs) → no-op: no θ
      can beat a flat bound, the seed job would be pure overhead —
      UNLESS ``config.lexical_budget_postings`` caps the scan, in which
      case the impact-ordered range closure picks what to decode and
      every returned doc still carries its exact full score.
    - otherwise: seed the highest-aligned-bound blocks, θ = k-th best
      live seed score, keep blocks whose bound ≥ θ (exactness proof in
      the module docstring).

    The budget branch runs at any block count. ``prune=False`` applies
    ONLY the budget branch (what the coordinator path does for every
    query); under budget it is a no-op — no seed job, no metadata-
    derived pruning. ``min_blocks_to_prune`` gates only exact pruning.
    """
    budget = int(getattr(config, "lexical_budget_postings", 0) or 0)
    # EXACT-prune cap only: past this many blocks the seed machinery
    # costs more than it saves. Budgeted mode takes the FULL metadata
    # picture at any block count — the coordinator path (local_exec)
    # holds strictly more per block and does the same, so both engines
    # apply the budget identically however large the query.
    max_blocks_to_prune = 200_000
    cap = None if budget else max_blocks_to_prune
    cols = [
        "term", "salt", "block_seq", "n_docs", "first_doc", "last_doc",
        "block_max_tf", "block_min_dl",
    ]
    t = None
    if store is not None:
        # block METADATA via a driver-side row-group-pruned Arrow read
        # (the coordinator path's machinery) — a Spark collect of the
        # same rows costs ~1 s of job overhead per query
        from rifflux_spark.functions.xxhash64 import term_bucket
        from rifflux_spark.operators.local_exec import _bucket_files, _read_filtered

        qterms = sorted(idf)
        files = _bucket_files(
            store, "postings", {term_bucket(t, store.n_term_buckets) for t in qterms}
        )
        t = _read_filtered(files, cols, qterms)
        if t is not None and cap is not None:
            t = t.slice(0, cap + 1)
        terms_arr = np.array([] if t is None else t.column("term").to_pylist())
        def _col(name):
            return (
                np.array([], dtype=np.int64)
                if t is None
                else t.column(name).to_numpy().astype(np.int64)
            )
    else:
        q = blocks.select(*cols)
        if cap is not None:
            q = q.limit(cap + 1)
        rows = q.collect()
        terms_arr = np.array([r["term"] for r in rows])
        def _col(name):
            return np.array([int(r[name]) for r in rows], dtype=np.int64)
    n_blocks = len(terms_arr)
    if cap is not None and n_blocks > cap:
        return blocks, None
    ns = _col("n_docs")
    over_budget = budget > 0 and int(ns.sum()) > budget
    # an under-budget query with pruning disabled is a straight full
    # scan, as on the coordinator
    if not over_budget and (not prune or n_blocks < min_blocks_to_prune):
        return blocks, None
    salts = _col("salt")
    seqs = _col("block_seq")
    firsts = _col("first_doc")
    lasts = _col("last_doc")
    ub = wand.block_upper_bounds(
        list(terms_arr),
        _col("block_max_tf"),
        _col("block_min_dl"),
        idf, avgdl, config.bm25_k1, config.bm25_b,
    )
    bound = wand.aligned_bounds(terms_arr, firsts, lasts, ub)

    if over_budget:
        order = wand.selection_order(terms_arr, salts, seqs, bound)
        mask, ranges = wand.budget_ranges(
            terms_arr, firsts, lasts, ns, bound, budget, order=order
        )
        return (
            _filter_blocks_by_keys(
                blocks.sparkSession, blocks, terms_arr, salts, seqs,
                np.flatnonzero(mask),
            ),
            ranges,
        )

    if wand.is_uniform(bound):
        return blocks, None

    seed = wand.seed_by_bound(bound, ns, top_k)
    if seed.size >= n_blocks:
        return blocks, None
    seed_blocks = blocks.filter(
        _key_col().isin(_keys_of(terms_arr, salts, seqs, seed))
    )
    seed_agg = (
        _score_blocks(seed_blocks, idf, avgdl, config.bm25_k1, config.bm25_b)
        .groupBy("doc_ord")
        .agg(F.sum("partial").alias("score"))
    )
    # θ must lower-bound the k-th best LIVE score: a tombstoned doc in the
    # seed would inflate it and over-prune blocks holding live survivors
    if store is not None and store.exists("tombstones"):
        seed_agg = seed_agg.join(F.broadcast(store.tombstones()), on="doc_ord", how="left_anti")
    seed_scores = seed_agg.orderBy(F.desc("score")).limit(top_k).collect()
    if len(seed_scores) < top_k:
        return blocks, None  # not enough docs to justify pruning
    # one-ulp safety margin: θ from partial sums can exceed the exact
    # value by rounding; shave it so a boundary tie is never pruned
    theta = float(np.nextafter(seed_scores[-1]["score"], -np.inf))

    keep = np.flatnonzero(bound >= theta)
    keep_set = set(int(i) for i in keep) | set(int(i) for i in seed)
    # a barely-selective keep set costs more (key filter + second decode
    # of nearly everything) than it saves — scan instead
    if len(keep_set) >= 0.7 * n_blocks:
        return blocks, None
    return (
        _filter_blocks_by_keys(
            blocks.sparkSession, blocks, terms_arr, salts, seqs, sorted(keep_set)
        ),
        None,
    )
