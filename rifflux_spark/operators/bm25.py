"""BM25 top-k over the block-compressed posting index, as a Spark plan.

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

The plan shares the coordinator scorer's parts (operators/local_exec):
the df lookup (``local_df``, no Spark job), the multiplicity-weighted
idf (``query_idf``), the per-doc sum, and the posting budget's block
selection (``wand.budget_selection`` over the blocks' metadata, read
driver-side). Its executors decode each batch of blocks with the codec
(:func:`_decode_score_arrow`), where the coordinator reads its cached
decoded lanes. Only the scan, the shuffle aggregation and the top-k are
Spark's.

There is no block-max WAND pruning. Exact pruning (a seed job scoring
the highest-bound blocks for a threshold θ, then a key filter keeping
blocks whose range-aligned bound reaches θ) lost every class measured.
Forced ``engine="spark"``, budget 0, 4 queries a class, 3 interleaved
reps, median ms, pruning on / off; every query returned the
coordinator's chunks, scores equal to a relative 1e-9:

=================  ==========================  ==================
index              class                       pruning on / off
=================  ==========================  ==================
26,100 chunks      2 head terms (df ≥ 50%)     952 / 741
26,100 chunks      rare (df ≤ p5) + 2 head     1156 / 808
26,100 chunks      mid (df 1–5%) + 1 head      1133 / 741
259,856 chunks     2 head terms                1481 / 1113
259,856 chunks     rare + 2 head               1651 / 1240
259,856 chunks     mid + 1 head                1672 / 1284
=================  ==========================  ==================

Indexes: the benchmark's layout (perfbench/run.py) over
``synthetic_pages(seed=1, page_scale=4)`` at 2k and 20k pages; 4-vCPU
shared host, ``local[4]``.

At 26,100 chunks pruning also ran two more Spark jobs per query (10.6
against 8.6). With the default budget it never ran on the auto route:
lexical reached Spark only past Σdf 2M, always over the budget.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.operators import wand
from rifflux_spark.operators.codec import bm25_wtf, decode_posting_arrow
from rifflux_spark.operators.local_exec import (
    POSTING_COLUMNS,
    _sum_by_doc,
    local_df,
    query_idf,
    read_postings,
)
from rifflux_spark.sources.tables import IndexStore

_SCORE_ROW = T.StructType(
    [
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("partial", T.DoubleType(), False),
    ]
)


def _decode_score_arrow(t, idf: dict[str, float], avgdl: float, k1: float, b: float):
    """Decode + BM25-score an Arrow block batch → (doc_ord, partial).

    One vectorized pass over ALL blocks; payload bytes flow straight from
    the Arrow buffers into the varbyte decoder."""
    if t is None or t.num_rows == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    docs, tf, dl, ns = decode_posting_arrow(t)
    idf_per = np.repeat(
        np.array([idf[x] for x in t.column("term").to_pylist()]), ns
    )
    return docs, bm25_wtf(tf, dl, avgdl, k1, b) * idf_per


def _score_blocks(
    blocks: DataFrame,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Decode blocks → per-doc partial scores, pre-aggregated per Arrow
    batch to shrink the shuffle, with the coordinator's kernel. ``ranges``
    (budgeted mode): keep only docs inside the selected doc intervals,
    so every emitted doc has ALL its postings decoded — scores stay
    exact."""
    idf_b = dict(idf)

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            docs, partials = _decode_score_arrow(rb, idf_b, avgdl, k1, b)
            if ranges is not None:
                inside = wand.mask_docs_to_ranges(docs, ranges)
                docs, partials = docs[inside], partials[inside]
            if docs.size == 0:
                continue
            uniq, sums = _sum_by_doc(docs, partials)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq, pa.int64()), pa.array(sums, pa.float64())],
                names=["doc_ord", "partial"],
            )

    return blocks.select(*POSTING_COLUMNS).mapInArrow(score, schema=_SCORE_ROW)


def bm25_topk(
    spark,
    store: IndexStore,
    query: str,
    top_k: int = 10,
    config: EngineConfig | None = None,
    cstats: dict | None = None,
    dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Top-k lexical search → (doc_ord, bm25_score) with FTS5's negated
    score convention, best first.

    Physical shape: posting scan (partition+rowgroup pruned by term,
    key-filtered to the budget's selection when over budget) →
    decode/score mapInArrow → groupBy(doc_ord).sum →
    TakeOrderedAndProject. ``dfs`` is as in
    :func:`local_exec.bm25_topk_local`."""
    config = config or EngineConfig()
    terms = compile_query(query)
    if terms:
        cstats = cstats or store.corpus_stats()
        n_docs, avgdl = int(cstats["n_docs"]), float(cstats["avgdl"])
        if dfs is None:
            dfs = local_df(store, sorted(set(terms)))
        idf = query_idf(terms, dfs, n_docs)
    if not terms or not idf:
        return spark.createDataFrame([], "doc_ord long, bm25_score double")
    qterms = sorted(idf)
    k1, b = config.bm25_k1, config.bm25_b

    blocks = store.postings_for_terms(qterms)
    ranges = None
    budget = int(getattr(config, "lexical_budget_postings", 0) or 0)
    if budget > 0:
        meta = read_postings(store, qterms, wand.BLOCK_META_COLUMNS)
        sel = wand.budget_selection(meta, idf, avgdl, k1, b, budget)
        if sel is not None:
            mask, ranges = sel
            blocks = _filter_blocks_by_keys(
                spark, blocks,
                meta.column("term").to_pylist(),
                meta.column("salt").to_numpy(),
                meta.column("block_seq").to_numpy(),
                np.flatnonzero(mask),
            )

    scored = _score_blocks(blocks, idf, avgdl, k1, b, ranges=ranges)
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
