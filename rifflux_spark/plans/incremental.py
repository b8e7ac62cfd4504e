"""Incremental index maintenance: diff → append runs → tombstones →
selective compaction — every step O(delta), never O(corpus).

The reference maintains freshness row-at-a-time (FTS5 triggers on
chunk delete/insert — reference src/rifflux/db/schema.sql:44-59 — driven
by the mtime/sha diff loop in indexer.py:59-131, which is O(changed
files) per run). The Spark rebuild matches that cost model with explicit
set operations over the salted-run physical layout (operators/postings.py):

- **diff**: catalog vs snapshot joins (sources/catalog.py, reference
  I1-I4) with the two-phase stat fast-path (sha2 only on rows whose
  (warc_ts, size) stat changed — reference I2, indexer.py:67-76);
- **new/changed docs**: chunk+tokenize only those pages (ONE Python-UDF
  pass staged to the chunks table, then re-read row-group-pruned for
  postings/embeddings/stats), assign doc_ords ABOVE the current maximum
  (new salt ranges) and append their posting blocks — because salt runs
  are disjoint contiguous doc ranges, appended runs slot into each
  term's block sequence without touching existing blocks;
- **deleted/changed docs' old postings**: tombstoned by doc_ord.
  Query-time scoring drops tombstoned docs; the tombstoned rows' term
  stats are subtracted AT TOMBSTONE TIME (a row-group-pruned read of
  just those chunk rows), so stats never need a corpus pass;
- **term/corpus stats**: merged deltas — the appended batch's
  (term, +df, +cf) and the tombstoned docs' (term, -df, -cf) fold into
  the stored term_stats via a full-outer join over ONLY the affected
  term buckets (dynamic partition overwrite); n_docs/total_tokens are
  running counters in corpus_stats;
- **compaction** (:func:`compact`): decodes and rewrites ONLY posting
  blocks whose [first_doc, last_doc] intersects a tombstoned ordinal,
  via dynamic overwrite of only the affected term-bucket partitions —
  untouched buckets' files are not rewritten (byte-identical, tested).
  Purged ordinals move to the ``purged`` set; chunks/embeddings rows
  stay in place and are row-group-filtered at read time;
- **vacuum** (:func:`vacuum`): the rare full rewrite that drops dead
  chunk/embedding rows and clears the purged set.

Invariant (tested): after incremental apply + compaction, the index is
query-equivalent to a from-scratch rebuild over the new snapshot, except
doc_ord numbering of re-chunked docs (ranking ties can differ only where
BM25 scores tie across a changed/unchanged doc pair — the same caveat
the reference has for rowid reuse).
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from rifflux_spark.functions.embedder import embed_series_packed

from rifflux_spark.config import EngineConfig
from rifflux_spark.operators.codec import decode_block, encode_block
from rifflux_spark.operators.doc_ids import PARTITION_ORD_STRIDE, sparse_ordinals
from rifflux_spark.operators.postings import (
    chunk_pages,
    encode_postings,
    packed_term_frequencies,
    term_stats_from_blocks,
    with_tokens,
)
from rifflux_spark.sources.catalog import diff_snapshot, snapshot_of
from rifflux_spark.sources.tables import (
    POSTINGS_BUCKETED_SCHEMA,
    TOMBSTONES_SCHEMA,
    IndexStore,
)

# above this many newly-dead ords the literal IN-list is replaced by a
# join (Catalyst expression trees degrade with huge literal sets)
_ISIN_MAX = 20_000


def apply_incremental(
    spark: SparkSession,
    store: IndexStore,
    new_pages: DataFrame,
    config: EngineConfig | None = None,
    with_embeddings: bool = True,
    full_snapshot: bool = True,
) -> dict:
    """Bring the index in line with ``new_pages``.

    ``full_snapshot=True``: new_pages IS the next crawl — catalog urls
    absent from it are deletions (reference prune-missing, I4).
    ``full_snapshot=False``: new_pages is an upsert batch (streaming
    micro-batch) — absent urls are untouched.
    Returns counts per status."""
    config = config or EngineConfig()
    if config.n_term_buckets != store.n_term_buckets:
        # appended postings must land in the store's existing bucket layout
        config = dataclasses.replace(config, n_term_buckets=store.n_term_buckets)
    if store.salt_range is not None and config.salt_range != store.salt_range:
        # salt runs are contiguous doc-ord ranges of the BUILD-TIME width;
        # appending with a different width would interleave runs
        config = dataclasses.replace(config, salt_range=store.salt_range)

    catalog = store.catalog()
    # two-phase stat fast-path: sha2 runs only where (warc_ts, size) changed
    snap = snapshot_of(new_pages, catalog=catalog)
    d = diff_snapshot(catalog, snap).persist()
    if not full_snapshot:
        d = d.filter(F.col("status") != "deleted")
    counts = {r["status"]: r["n"] for r in d.groupBy("status").agg(F.count("*").alias("n")).collect()}

    # job-lifecycle record for the apply (reference background.py:75-218
    # keeps per-job lifecycle rows; the build path already does) — a
    # killed apply shows started-without-completed and, because every
    # data mutation below stages into ONE manifest commit, leaves the
    # index untouched: re-running the same snapshot is idempotent.
    import datetime as _dt
    import json as _json

    from rifflux_spark.plans.build import source_fingerprint

    import hashlib as _hashlib

    apply_fp = source_fingerprint(new_pages)
    # deterministic digest (NOT Python's salted hash()): the same source
    # snapshot must map to the same lineage id across process runs, so
    # started/completed rows of a killed apply correlate
    apply_id = f"apply-{_hashlib.sha256(apply_fp.encode()).hexdigest()[:12]}"
    _utcnow = lambda: _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)  # noqa: E731
    store.append_lineage(
        [
            {
                "build_id": apply_id,
                "stage": "incremental_apply",
                "status": "started",
                "rows": None,
                "bytes": None,
                "detail": _json.dumps(counts),
                "source_fp": apply_fp,
                "finished_at": _utcnow(),
            }
        ]
    )

    changed_or_new = d.filter(F.col("status").isin(["new", "changed"])).select("url")
    gone_or_changed = d.filter(F.col("status").isin(["deleted", "changed"])).select("url")

    # --- phase 1 (narrow): doc_ords of the delta's old rows, minus the
    # already-dead set so stats are never double-subtracted ---
    old_ords = (
        store.chunks()
        .join(F.broadcast(gone_or_changed), on="url", how="inner")
        .select("doc_ord")
    )
    new_dead = old_ords.join(F.broadcast(store.dead_ords()), on="doc_ord", how="left_anti").persist()
    n_tombstoned = new_dead.count()

    # pure no-op poll (the common watcher case): nothing to mutate, no
    # snapshot commit, no catalog rewrite
    if not (
        counts.get("new", 0) or counts.get("changed", 0) or counts.get("deleted", 0)
        or n_tombstoned
    ):
        new_dead.unpersist()
        d.unpersist()
        store.append_lineage(
            [
                {
                    "build_id": apply_id,
                    "stage": "incremental_apply",
                    "status": "completed",
                    "rows": 0,
                    "bytes": None,
                    "detail": "no-op",
                    "source_fp": apply_fp,
                    "finished_at": _utcnow(),
                }
            ]
        )
        return {"counts": counts, "tombstoned": 0, "appended_chunks": 0}

    # Every mutation below runs inside ONE snapshot transaction: writers
    # stage immutable generation dirs, in-pipeline readers see the staged
    # state, and a single manifest-pointer swap publishes the whole apply
    # atomically — concurrent queries observe either the full old index
    # or the full new one, never a mix (tested), and a killed apply
    # leaves only unreferenced gen dirs (gc'd later; re-run idempotent).
    n_appended = 0
    with store.transaction():
        # --- phase 2 (row-group pruned): re-read ONLY the dying rows'
        # tokens for the minus-side stats (chunks is sorted by doc_ord) ---
        minus_ts = None
        n_minus, dl_minus = 0, 0
        if n_tombstoned:
            store.write_small(new_dead, "tombstones", mode="append")
            if n_tombstoned <= _ISIN_MAX:
                ord_list = [r["doc_ord"] for r in new_dead.collect()]
                dying = store.chunks().filter(F.col("doc_ord").isin(ord_list))
            else:
                dying = store.chunks().join(new_dead, on="doc_ord", how="inner")
            dying = dying.select("doc_ord", "dl", "tokens")
            agg = dying.agg(F.count("*").alias("n"), F.sum("dl").alias("sdl")).collect()[0]
            n_minus, dl_minus = int(agg["n"]), int(agg["sdl"] or 0)
            minus_ts = (
                dying.select("doc_ord", F.explode(F.split("tokens", " ")).alias("term"))
                .filter(F.col("term") != "")
                .groupBy("term", "doc_ord")
                .agg(F.count("*").alias("tf"))
                .groupBy("term")
                .agg(
                    (-F.count("*")).cast("long").alias("d_df"),
                    (-F.sum("tf")).cast("long").alias("d_cf"),
                )
            )
            if getattr(store, "prefix_lengths", ()):
                from rifflux_spark.operators.prefix import (
                    prefix_term_deltas as _ptd,
                    prefix_thin_postings as _ptp,
                )

                minus_ts = minus_ts.unionByName(
                    _ptd(_ptp(dying, store.prefix_lengths), sign=-1)
                )

        # --- appended runs for new/changed docs, ords above current max ---
        dl_plus = 0
        plus_ts = None
        staged_new = None
        if counts.get("new", 0) or counts.get("changed", 0):
            pages_to_index = new_pages.join(F.broadcast(changed_or_new), on="url", how="inner")
            cur_max = store.max_column("chunks", "doc_ord")
            if cur_max is None:
                cur_max = store.chunks().agg(F.max("doc_ord").alias("m")).collect()[0]["m"] or 0
            # base offset at the next stride boundary above everything existing
            base = ((cur_max // PARTITION_ORD_STRIDE) + 1) * PARTITION_ORD_STRIDE

            n_part = max(1, spark.sparkContext.defaultParallelism // 2)
            parted = pages_to_index.repartitionByRange(n_part, "url")
            chunks = chunk_pages(parted, config).sortWithinPartitions("url", "chunk_index")
            tokenized = sparse_ordinals(with_tokens(chunks)).withColumn(
                "doc_ord", F.col("doc_ord") + F.lit(base)
            )
            # ONE UDF pass: append to the chunks table (a staged gen this
            # same transaction can read), then every downstream consumer
            # (postings, stats, embeddings) re-reads the appended rows
            # row-group-pruned by doc_ord >= base
            store.append_chunks(
                tokenized.select([f.name for f in store.chunks().schema.fields])
            )
            staged_new = store.chunks().filter(F.col("doc_ord") >= base)

            packed = packed_term_frequencies(
                staged_new.select("doc_ord", "dl", "tokens"), config
            )
            blocks = encode_postings(packed, config)
            store.write_postings(blocks, mode="append")
            if getattr(store, "prefix_lengths", ()):
                # prefix indexes (operators/prefix.py): append the new
                # docs' merged marker postings — their ordinals sit in
                # fresh salt ranges above the ceiling, so the appended
                # marker runs slot in exactly like term runs
                from rifflux_spark.operators.prefix import (
                    prefix_term_deltas,
                    prefix_thin_postings,
                )

                pthin = prefix_thin_postings(
                    staged_new.select("doc_ord", "dl", "tokens"),
                    store.prefix_lengths,
                )
                store.write_postings(encode_postings(pthin, config), mode="append")
                prefix_plus = prefix_term_deltas(pthin)
            agg = staged_new.agg(F.count("*").alias("n"), F.sum("dl").alias("sdl")).collect()[0]
            n_appended, dl_plus = int(agg["n"]), int(agg["sdl"] or 0)
            # +stats straight off the packs (n = df contribution per
            # pack, tf_sum = cf) — no second tokenize/explode pass
            plus_ts = packed.groupBy("term").agg(
                F.sum("n").cast("long").alias("d_df"),
                F.sum("tf_sum").cast("long").alias("d_cf"),
            )
            if getattr(store, "prefix_lengths", ()):
                plus_ts = plus_ts.unionByName(prefix_plus)

            if with_embeddings:
                dim = config.embedding_dim

                @pandas_udf(T.BinaryType())
                def embed_udf(texts: pd.Series) -> pd.Series:
                    return embed_series_packed(texts, dim=dim)

                emb = staged_new.select(
                    "doc_ord",
                    "chunk_id",
                    F.lit(f"hash-{dim}").alias("model"),
                    F.lit(dim).alias("dim"),
                    embed_udf("content").alias("vec"),
                )
                store.write_embeddings(emb, ordered=True, mode="append")

        # --- merged delta stats: O(delta vocab), only affected buckets ---
        delta_ts = None
        if plus_ts is not None and minus_ts is not None:
            delta_ts = plus_ts.unionByName(minus_ts).groupBy("term").agg(
                F.sum("d_df").alias("d_df"), F.sum("d_cf").alias("d_cf")
            )
        elif plus_ts is not None:
            delta_ts = plus_ts
        elif minus_ts is not None:
            delta_ts = minus_ts
        if delta_ts is not None:
            _merge_term_stats(spark, store, delta_ts)

        # corpus stats as running counters (never a corpus aggregation)
        cs = store.corpus_stats()
        n_docs = cs["n_docs"] + n_appended - n_minus
        total_tokens = cs["total_tokens"] + dl_plus - dl_minus
        store.write_corpus_stats(n_docs, total_tokens, (total_tokens / n_docs) if n_docs else 0.0)

        # --- catalog refresh: O(delta) n_chunks (new counts from the
        # staged batch, unchanged urls keep their stored count) ---
        new_counts = (
            staged_new.groupBy("url").agg(F.count("*").cast("int").alias("_new_n"))
            if staged_new is not None
            else spark.createDataFrame([], "url string, _new_n int")
        )
        old_counts = catalog.select("url", F.col("n_chunks").alias("_old_n"))
        base_catalog = snap if full_snapshot else (
            catalog.select("url", "warc_ts", "size_bytes", "sha256")
            .join(snap.select("url"), on="url", how="left_anti")
            .unionByName(snap)
        )
        next_catalog = (
            base_catalog.join(d.select("url", "status"), on="url", how="left")
            .join(old_counts, on="url", how="left")
            .join(new_counts, on="url", how="left")
            .select(
                "url",
                "warc_ts",
                "size_bytes",
                "sha256",
                # status NULL = url untouched by this batch (micro-batch
                # mode filters its 'deleted' diff row out of d): keep the
                # stored count — without the isNull arm every untouched
                # url's n_chunks reset to 0 on partial-snapshot applies
                F.coalesce(
                    F.col("_new_n"),
                    F.when(
                        (F.col("status") == "unchanged") | F.col("status").isNull(),
                        F.col("_old_n"),
                    ),
                    F.lit(0),
                ).alias("n_chunks"),
            )
        )
        store.write_small(next_catalog, "catalog")
    new_dead.unpersist()
    d.unpersist()

    store.append_lineage(
        [
            {
                "build_id": apply_id,
                "stage": "incremental_apply",
                "status": "completed",
                "rows": n_appended,
                "bytes": None,
                "detail": _json.dumps(
                    {"counts": counts, "tombstoned": n_tombstoned, "appended_chunks": n_appended}
                ),
                "source_fp": apply_fp,
                "finished_at": _utcnow(),
            }
        ]
    )

    out = {
        "counts": counts,
        "tombstoned": n_tombstoned,
        "appended_chunks": n_appended,
    }
    if config.iceberg_mirror:
        out["iceberg"] = store.sync_iceberg(config.iceberg_warehouse)
    return out


_ICEBERG_CURSOR_KEY = "iceberg.last_applied_snapshot"
_ICEBERG_TABLE_KEY = "iceberg.table_location"


def apply_from_iceberg(
    spark: SparkSession,
    store: IndexStore,
    location: str,
    config: EngineConfig | None = None,
    with_embeddings: bool = True,
) -> dict:
    """CDC freshness loop over the north rule's input table (the
    reference's file watcher, S2, re-expressed against Iceberg): read
    ONLY the pages appended to the table since the last applied
    snapshot — a metadata-planned incremental append scan
    (sources/iceberg.read_iceberg_appends) — apply them as an upsert
    batch through the O(delta) incremental path, then advance the
    snapshot cursor in the store's KV metadata. A crash between the
    apply's manifest commit and the cursor write just re-reads the same
    delta next run: the diff's content-hash fast path classifies every
    row unchanged and the re-apply is a no-op, so the loop is
    idempotent without a cross-system transaction.

    With no cursor yet (an index built before CDC was enabled) the scan
    starts from the table's first snapshot; the diff's content-hash
    fast path then skips already-indexed pages, so the catch-up run is
    correct, just not O(delta). Builders that want O(delta) from day
    one record the build snapshot via ``record_iceberg_cursor``.

    A NON-APPEND snapshot in the range (compaction, overwrite, delete —
    routine table maintenance) has no derivable row-level delta, so the
    loop falls back ONCE to a full re-diff of the current snapshot
    (``full_snapshot=True``: pruned urls become deletions) and re-pins
    the cursor past the rewrite — freshness degrades to O(table) for
    that one sync instead of bricking every CDC consumer forever."""
    from rifflux_spark.sources.iceberg import (
        current_snapshot_id,
        normalized_location,
        read_iceberg,
        read_iceberg_appends,
    )

    loc = normalized_location(location)
    cur = current_snapshot_id(location)
    if cur is None:
        return {"applied": False, "reason": "empty table"}
    # the cursor is only meaningful against the table it was taken
    # from: a snapshot id from table A must never bound a scan of
    # table B (ids are unrelated sequences)
    bound = store.meta_get(_ICEBERG_TABLE_KEY)
    if bound is not None and bound != loc:
        raise ValueError(
            f"index CDC cursor is bound to table {bound!r}, not {loc!r}; "
            "use a fresh index or re-pin with record_iceberg_cursor"
        )
    last = store.meta_get(_ICEBERG_CURSOR_KEY)
    if last is not None and int(last) == cur:
        return {"applied": False, "reason": "cursor at current snapshot"}
    try:
        pages = read_iceberg_appends(
            spark, location, from_snapshot_id=int(last) if last is not None else None,
            to_snapshot_id=cur,
        )
        full_snapshot = False
        fallback = None
    except (ValueError, KeyError) as e:
        # KeyError: the stored cursor is no longer an ancestor of the
        # current snapshot (input table rebuilt in place at the same
        # location) — without this, watch_iceberg's daemon loop would
        # log and retry forever, silently stalling CDC (round-5 advice)
        pages = read_iceberg(spark, location, snapshot_id=cur)
        full_snapshot = True
        fallback = f"full-snapshot re-diff ({e})"
    out = apply_incremental(
        spark, store, pages, config,
        with_embeddings=with_embeddings, full_snapshot=full_snapshot,
    )
    store.meta_set(_ICEBERG_CURSOR_KEY, str(cur))
    if bound is None:
        store.meta_set(_ICEBERG_TABLE_KEY, loc)
    out["applied"] = True
    out["from_snapshot"] = int(last) if last is not None else None
    out["to_snapshot"] = cur
    if fallback:
        out["fallback"] = fallback
    return out


def record_iceberg_cursor(
    store: IndexStore, location: str, snapshot_id: int | None = None
) -> int | None:
    """Pin the CDC cursor — called right after building an index FROM
    ``read_iceberg(location)`` so the first apply_from_iceberg reads
    only post-build appends. Pass the SNAPSHOT THE BUILD ACTUALLY READ
    as ``snapshot_id``: defaulting to the table's current snapshot is
    only correct with no concurrent writer (an append committed during
    the build would land behind the cursor and never be applied)."""
    from rifflux_spark.sources.iceberg import current_snapshot_id, normalized_location

    cur = snapshot_id if snapshot_id is not None else current_snapshot_id(location)
    if cur is not None:
        store.meta_set(_ICEBERG_CURSOR_KEY, str(cur))
        store.meta_set(_ICEBERG_TABLE_KEY, normalized_location(location))
    return cur


def _merge_term_stats(spark: SparkSession, store: IndexStore, delta: DataFrame) -> None:
    """Fold (term, d_df, d_cf) deltas into term_stats, rewriting ONLY the
    term-bucket partitions the delta touches (a snapshot-level dynamic
    partition overwrite; the Iceberg analog is MERGE INTO). Terms whose
    df drops to zero are removed; a bucket merged to empty simply leaves
    the snapshot's partition map (no stale-dir cleanup — old generations
    are immutable until gc). The merge reads the CURRENT generations and
    writes a NEW one, so there is no read-from/overwrite-to cycle and no
    write-aside staging."""
    delta = delta.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(store.n_term_buckets))
    ).persist()
    buckets = [int(r["term_bucket"]) for r in delta.select("term_bucket").distinct().collect()]
    if not buckets:
        delta.unpersist()
        return
    old = (
        store.term_stats()
        .filter(F.col("term_bucket").isin(buckets))
        .select("term", "df_docs", "cf")
        if store.exists("term_stats")
        else spark.createDataFrame([], "term string, df_docs long, cf long")
    )
    merged = (
        old.join(delta.select("term", "d_df", "d_cf"), on="term", how="full_outer")
        .select(
            "term",
            (F.coalesce("df_docs", F.lit(0)) + F.coalesce("d_df", F.lit(0))).cast("long").alias("df_docs"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("d_cf", F.lit(0))).cast("long").alias("cf"),
        )
        .filter(F.col("df_docs") > 0)
    )
    store.write_term_stats(merged, full=False, expected_parts=buckets)
    delta.unpersist()


def _live_chunks(store: IndexStore) -> DataFrame:
    return store.live_chunks()


def _live_stats(store: IndexStore) -> dict:
    agg = _live_chunks(store).agg(
        F.count("*").alias("n"), F.sum("dl").alias("sdl")
    ).collect()[0]
    n, sdl = int(agg["n"]), int(agg["sdl"] or 0)
    return {"n_docs": n, "total_tokens": sdl, "avgdl": (sdl / n) if n else 0.0}


def _refresh_stats_and_term_stats(store: IndexStore) -> None:
    """Full recompute — used only by :func:`vacuum` (the periodic
    heavyweight pass); the incremental path merges deltas instead.
    term_stats aggregates the freshly-rewritten blocks' METADATA
    (n_docs / block_tf_sum), not a re-explode of the corpus. Writes are
    snapshot commits (new generation + manifest pointer) — readers never
    see a half-written table."""
    stats = _live_stats(store)
    store.write_corpus_stats(stats["n_docs"], stats["total_tokens"], stats["avgdl"])
    store.write_term_stats(term_stats_from_blocks(store.postings()), full=True)


_COMPACT_SCHEMA = POSTINGS_BUCKETED_SCHEMA


def compact(spark: SparkSession, store: IndexStore, config: EngineConfig | None = None) -> dict:
    """Purge tombstoned docs from the posting blocks that actually hold
    them — O(affected blocks), not O(index).

    Block doc ranges [first_doc, last_doc] are checked against the sorted
    tombstone set (np.searchsorted over a broadcast array); only term-
    bucket partitions containing a hit are rewritten (dynamic partition
    overwrite), and within them only hit blocks are decoded → filtered →
    re-encoded — miss blocks pass through byte-equal. Untouched bucket
    partitions are never rewritten (their files stay byte-identical —
    tested). Cleared ordinals move to the ``purged`` set: chunk/embedding
    rows stay in place, filtered at read time, until :func:`vacuum`.
    The FTS5 'merge' analog, run as periodic maintenance."""
    config = config or EngineConfig()
    # Load the tombstone set as ONE int64 numpy array straight from the
    # parquet files (Arrow column → np, no Spark .collect() into Python
    # Row objects — 8 bytes/ord at any scale, vs ~100× that for Rows).
    # The array IS the purge predicate: it must reach every executor
    # anyway, so a numpy broadcast is the floor, not a shortcut. Deferred
    # compaction after millions of deltas stays driver-feasible
    # (10^8 tombstones ≈ 800 MB; the Iceberg analog ships the same set
    # as delete files). Tested with >_ISIN_MAX tombstones.
    from rifflux_spark.operators.local_exec import local_tombstones

    ords = np.unique(local_tombstones(store))
    if ords.size == 0:
        return {"affected_buckets": 0, "purged": 0}
    b_ords = spark.sparkContext.broadcast(ords)

    @pandas_udf(T.BooleanType())
    def block_hit(first: pd.Series, last: pd.Series) -> pd.Series:
        t = b_ords.value
        idx = np.searchsorted(t, first.to_numpy())
        hit = (idx < t.size) & (t[np.minimum(idx, t.size - 1)] <= last.to_numpy())
        return pd.Series(hit)

    meta = store.postings().select("term_bucket", "first_doc", "last_doc")
    affected = sorted(
        int(r["term_bucket"])
        for r in meta.filter(block_hit("first_doc", "last_doc")).select("term_bucket").distinct().collect()
    )
    n_rewritten = 0
    if affected:
        part = store.postings().filter(F.col("term_bucket").isin(affected))

        def rewrite_stream(batches):
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
                    row = pdf.iloc[i]
                    docs, tfs, dls = decode_block(row)
                    pos = np.searchsorted(t, docs)
                    dead = (pos < t.size) & (t[np.minimum(pos, t.size - 1)] == docs)
                    if dead.all():
                        continue  # whole block dead → drop the row
                    if not dead.any():
                        keep_rows.append(pdf.iloc[[i]])
                        continue
                    blk = encode_block(docs[~dead], tfs[~dead], dls[~dead])
                    new = pdf.iloc[[i]].copy()
                    for k, v in blk.items():
                        new[k] = [v]
                    keep_rows.append(new)
                parts = [pdf.loc[~hits]] + keep_rows
                out = pd.concat(parts, ignore_index=True)
                if len(out):
                    yield out

        rewritten = part.mapInPandas(rewrite_stream, schema=_COMPACT_SCHEMA)

    # ONE snapshot commit moves the index from (old blocks + tombstones)
    # to (rewritten blocks + purged): a query racing the compaction sees
    # either state in full — never rewritten blocks WITH the tombstone
    # filter (double-delete is idempotent here, but half-states on object
    # stores are not) and never a window with neither set present.
    purged = spark.createDataFrame(
        pd.DataFrame({"doc_ord": ords}), schema=TOMBSTONES_SCHEMA
    )
    with store.transaction():
        if affected:
            # reads the CURRENT postings generations, writes a NEW one —
            # no same-path cycle, so no write-aside staging needed
            store.overwrite_posting_buckets(
                rewritten.repartition(len(affected), "term_bucket").sortWithinPartitions(
                    "term", "salt", "block_seq"
                ),
                affected,
            )
            n_rewritten = len(affected)
        store.write_small(purged, "purged", mode="append")
        store.drop_table("tombstones")
    b_ords.unpersist()
    out = {"affected_buckets": n_rewritten, "purged": int(ords.size)}
    if config.iceberg_mirror:
        # maintenance rewrites generations and gc may reclaim the old
        # ones: the mirror's current snapshot must move WITH the store
        # commit or Iceberg readers resolve deleted files
        out["iceberg"] = store.sync_iceberg(config.iceberg_warehouse)
    return out


def vacuum(spark: SparkSession, store: IndexStore, config: EngineConfig | None = None) -> dict:
    """The heavyweight pass: physically drop dead rows everywhere —
    rebuild postings from live chunks, rewrite chunks/embeddings, clear
    both tombstones and purged, full stats recompute. Run rarely (when
    the purged fraction justifies the IO); :func:`compact` is the cheap
    frequent path."""
    config = config or EngineConfig()
    if config.n_term_buckets != store.n_term_buckets:
        config = dataclasses.replace(config, n_term_buckets=store.n_term_buckets)
    n_dead = store.dead_ords().count()
    if n_dead == 0:
        return {"rewritten": 0, "purged": 0}

    # One snapshot transaction for the whole rewrite: plans read the OLD
    # generations (entries are staged only as each write lands, and the
    # dead-ord drops come last), the pointer swap publishes everything at
    # once, and old generations survive for in-flight readers until gc.
    with store.transaction():
        live = _live_chunks(store).select("doc_ord", "dl", "tokens")
        blocks = encode_postings(packed_term_frequencies(live, config), config)
        # encode output is already clustered+sorted by term_bucket —
        # write-through into a fresh full-table generation
        gen = store._new_gen_dir("postings")
        blocks.write.partitionBy("term_bucket").parquet(str(gen))
        store._commit_partitioned("postings", gen, "full")

        had_embeddings = store.exists("embeddings")
        live_chunks = _live_chunks(store)  # still resolves OLD chunks + dead set
        live_emb = store.live_embeddings() if had_embeddings else None
        store.write_chunks(live_chunks, ordered=True)
        if live_emb is not None:
            store.write_embeddings(live_emb, ordered=True)
        store.drop_table("tombstones")
        store.drop_table("purged")
        _refresh_stats_and_term_stats(store)
    out = {"rewritten": 1, "purged": int(n_dead)}
    if config.iceberg_mirror:
        # same contract as compact(): the mirror's current snapshot moves
        # with every store commit that retires generations
        out["iceberg"] = store.sync_iceberg(config.iceberg_warehouse)
    return out
