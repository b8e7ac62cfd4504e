"""End-to-end index build: pages → chunks → postings/stats/embeddings, with
per-shard lineage records and checkpoint resume.

This is the Spark analog of the reference's reindex path (reference
src/rifflux/indexing/indexer.py:46-139 + the FTS trigger index build):
one declarative DAG instead of a per-file loop. The background-queue
machinery (reference src/rifflux/indexing/background.py:75-218) maps to
job-level resumability: each stage appends a lineage row with row/byte
metrics on success, and a re-run of the same ``build_id`` skips completed
stages — combined with deterministic chunk ids (chunker.py) re-runs are
idempotent. Task-level transient failures are Spark's own retries
(spark.task.maxFailures), replacing the reference's 3×-backoff loop.

Posting shards: term buckets are processed in ``n_build_shards`` groups —
each group is an independent job + lineage row, so a killed build resumes
from the last completed shard (north_rule "resumable from checkpoint").

Pipeline economics: the chunk/tokenize UDF output is staged to parquet ONCE
and feeds every downstream stage (chunk sink, corpus stats, tf, embeddings) —
the expensive Python stages run exactly one pass over the corpus. The
aggregated tf frame is likewise staged (partitioned by shard) rather than
cached: no unified-memory contention at high parallelism, partition-pruned
per-shard reads, and a mid-build kill resumes without re-running the explode.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from rifflux_spark.config import EngineConfig
from rifflux_spark.functions.embedder import embed_series_packed
from rifflux_spark.operators.doc_ids import sparse_ordinals
from rifflux_spark.operators.postings import (
    chunk_pages,
    encode_postings,
    packed_term_frequencies,
    term_stats_from_block_files,
    term_stats_from_blocks,
    with_tokens,
)
from rifflux_spark.sources.catalog import catalog_from_staged_files
from rifflux_spark.sources.tables import IndexStore


def _dir_bytes(path: str) -> int:
    p = Path(path)
    if not p.exists():
        return 0
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def _table_bytes(store: IndexStore, name: str) -> int:
    """Bytes of the table's CURRENT snapshot (manifest-resolved); scratch
    dirs (tf_stage) fall back to a plain directory walk."""
    files = store.data_files(name)
    if files:
        return sum(f.stat().st_size for f in files)
    return _dir_bytes(store.path(name))


_INDEX_MARKERS = ("lineage", "corpus_stats", "chunks", "postings", "_manifest.json")


def _guard_index_wipe(index_dir: str) -> None:
    """``force=True`` recursively deletes ``index_dir`` — refuse unless
    the directory is missing, empty, or actually looks like an index
    (contains a marker table). The reference's destructive rebuild only
    unlinks one known DB file (reference cli.py rebuild_main); a typoed
    --index-dir must not silently destroy unrelated data."""
    p = Path(index_dir)
    if not p.exists():
        return
    entries = list(p.iterdir())
    if not entries:
        return
    if any((p / m).exists() for m in _INDEX_MARKERS):
        return
    raise ValueError(
        f"refusing force-wipe of {index_dir!r}: directory is non-empty and "
        f"contains none of the index markers {_INDEX_MARKERS} — is the path right?"
    )


def source_fingerprint(pages: DataFrame) -> str:
    """Cheap order-insensitive content fingerprint of the input corpus:
    count + xor/min/max of xxhash64(url) — one narrow aggregation over the
    url column, no text read. Distinguishes same-size different corpora
    (two url sets of equal count collide only on a 64-bit xor + min +
    max match); a content mutation that keeps the exact url set is the
    catalog diff's job, not resume's. This is the Spark analog of the
    reference's per-reindex git fingerprint (reference mcp/tools.py:61-117
    records worktree/HEAD/dirty)."""
    row = pages.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(url))").alias("x"),
        F.min(F.xxhash64("url")).alias("mn"),
        F.max(F.xxhash64("url")).alias("mx"),
    ).collect()[0]
    return f"{row['n']}:{row['x']}:{row['mn']}:{row['mx']}"


def make_build_id(pages: DataFrame, config: EngineConfig, source_fp: str | None = None) -> str:
    """Deterministic id over the input fingerprint + physical config, so a
    re-run of the same build resumes rather than restarts — and a
    different corpus of the same size does NOT (tested)."""
    fp = source_fp or source_fingerprint(pages)
    # EVERY layout knob that shapes what a stage writes must be in the
    # id: resuming 'postings_shard_1 of 4' under n_build_shards=2 would
    # silently skip half the buckets; a new embedding_dim or prefix set
    # would keep stale tables.
    sig = (
        f"{fp}:{config.block_size}:{config.salt_range}:{config.n_term_buckets}:"
        f"{config.max_chunk_chars}:{config.min_chunk_chars}:"
        f"{config.n_build_shards}:{config.embedding_dim}:"
        f"{','.join(map(str, config.prefix_lengths or ()))}"
    )
    return hashlib.sha256(sig.encode()).hexdigest()[:16]


def _read_prefix_meta(store: IndexStore) -> str | None:
    """The prefix stage's publish-atomic stamp (driver-side read)."""
    import pyarrow.parquet as pq

    files = store.data_files("prefix_meta")
    if not files:
        return None
    rows = pq.read_table(files[0]).to_pylist()
    return rows[0]["stamp"] if rows else None


def completed_stages(
    store: IndexStore, build_id: str, source_fp: str | None = None
) -> set[str]:
    """Stages this build id already completed. When ``source_fp`` is
    given, rows recorded under a DIFFERENT fingerprint never count — a
    caller-supplied build_id reused across corpora must restart, not
    resume (LINEAGE_SCHEMA documents source_fp as exactly this guard)."""
    return {
        r["stage"]
        for r in store.read_lineage_rows()
        if r.get("build_id") == build_id
        and r.get("status") == "completed"
        and (source_fp is None or r.get("source_fp") in (None, source_fp))
    }


def _now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _mark(
    store: IndexStore,
    build_id: str,
    stage: str,
    rows: int | None,
    table: str,
    detail: str | None = None,
    source_fp: str | None = None,
) -> None:
    store.append_lineage(
        [
            {
                "build_id": build_id,
                "stage": stage,
                "status": "completed",
                "rows": rows,
                "bytes": _table_bytes(store, table),
                "detail": detail,
                "source_fp": source_fp,
                "finished_at": _now(),
            }
        ]
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: EngineConfig | None = None,
    embedding_dim: int | None = None,
    build_id: str | None = None,
    with_embeddings: bool = True,
    force: bool = False,
) -> dict:
    """Build the full index under ``index_dir``. Returns metrics.

    ``force=True`` is the reference's destructive ``rebuild`` (reference
    cli.py:78-99): wipe the index root (lineage included) and rebuild
    every stage from scratch, ignoring any resume state.
    """
    import time as _time

    if force:
        import shutil as _shutil

        _guard_index_wipe(index_dir)
        _shutil.rmtree(index_dir, ignore_errors=True)

    config = config or EngineConfig()
    dim = embedding_dim or config.embedding_dim
    # the build never touches `html` (text extraction is upstream per
    # input_hint); prune it explicitly so no plan shape can drag the
    # largest column of the crawl table through an exchange
    keep = [c for c in ("url", "warc_ts", "text") if c in pages.columns]
    pages = pages.select(*keep)
    store = IndexStore(spark, index_dir, config.n_term_buckets)
    # record the physical layout FIRST: a killed build's resume (and every
    # later incremental apply / reader) validates against these instead of
    # trusting whatever config the caller passed
    store.persist_layout(config.n_term_buckets, config.salt_range)
    source_fp = source_fingerprint(pages)
    build_id = build_id or make_build_id(pages, config, source_fp)
    done = completed_stages(store, build_id, source_fp)

    def mark(stage: str, rows: int | None, table: str, detail: str | None = None) -> None:
        _mark(store, build_id, stage, rows, table, detail=detail, source_fp=source_fp)

    metrics: dict = {"build_id": build_id, "source_fp": source_fp, "skipped_stages": sorted(done)}
    stage_sec: dict[str, float] = {}
    metrics["stage_sec"] = stage_sec
    _t = _time.perf_counter()

    def _lap(name: str) -> None:
        nonlocal _t
        now = _time.perf_counter()
        stage_sec[name] = round(now - _t, 2)
        _t = now

    # --- tokenized chunks: ONE Python-UDF pass, staged to parquet ---
    # Range-partition the PAGES by url (the sampling job prunes to one
    # small column — never runs the chunk UDF), then chunk + tokenize +
    # sort + sparse ordinals as one narrow stage written straight to a
    # staging table. No DataFrame cache anywhere: caching array<string>
    # columns pays heavy columnar-compression CPU under concurrency;
    # parquet staging is cheaper and column-prunes for every consumer.
    # catalog metadata (sha256/size/warc_ts) rides along on the chunk rows
    # so the catalog stage aggregates the staged table instead of paying a
    # second full-corpus scan + hash pass
    cat_cols = (
        (("warc_ts",) if "warc_ts" in pages.columns else ())
        + ("size_bytes", "page_sha256")
    )
    resuming_chunks = "chunks" in done
    if not resuming_chunks:
        n_part = spark.sparkContext.defaultParallelism
        pages_parted = (
            pages.repartitionByRange(n_part, "url")
            .withColumn("size_bytes", F.length("text").cast("long"))
            .withColumn("page_sha256", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
        )
        chunks = chunk_pages(pages_parted, config, keep_cols=cat_cols).sortWithinPartitions("url", "chunk_index")
        tokenized = sparse_ordinals(with_tokens(chunks))
        store.write_chunks(tokenized, ordered=True, extra_cols=cat_cols)
    _lap("chunks_udf_write")
    staged = store.chunks()

    # chunk count straight from the parquet footers (driver-side metadata
    # read, no Spark job; the Iceberg equivalent is a snapshot row count)
    n_chunks = store.count_rows("chunks")
    metrics["n_chunks"] = n_chunks
    if not resuming_chunks:
        mark("chunks", n_chunks, "chunks")
    tokenized = staged

    # --- embeddings (reuses the staged content column) ---
    # independent of everything downstream (reads only the staged chunk
    # table; postings read tf_stage), so it runs as a CONCURRENT job:
    # the scheduler fills the posting jobs' task-wave tails and fixed
    # per-job gaps with embedding tasks — on a real cluster these are
    # separate stages racing on free executors, and local mode recovers
    # the same idle slots. Work-conserving: at low parallelism the jobs
    # simply time-share, so the overlap only ever shrinks the wall.
    emb_thread = None
    emb_err: list[BaseException] = []
    if with_embeddings and "embeddings" not in done:

        @pandas_udf(T.BinaryType())
        def embed_udf(texts: pd.Series) -> pd.Series:
            return embed_series_packed(texts, dim=dim)

        emb = tokenized.select(
            "doc_ord",
            "chunk_id",
            F.lit(f"hash-{dim}").alias("model"),
            F.lit(dim).alias("dim"),
            embed_udf("content").alias("vec"),
        )

        def _emb_job() -> None:
            t0 = _time.perf_counter()
            try:
                store.write_embeddings(emb, ordered=True)
                mark("embeddings", n_chunks, "embeddings", detail=f"hash-{dim}")
            except BaseException as e:  # re-raised on join
                emb_err.append(e)
            finally:
                stage_sec["embeddings"] = round(_time.perf_counter() - t0, 2)

        import threading as _threading

        emb_thread = _threading.Thread(target=_emb_job, name="build-embeddings")
        emb_thread.start()

    # --- posting shards (checkpoint/resume unit) + term stats ---
    # tf is staged to parquet partitioned by build shard, NOT cached:
    # an in-memory cache of the (term, doc, tf) frame fights the explode/
    # hash-agg tasks for unified memory at high parallelism (measured 2.5×
    # slowdown at local[32] vs local[8] on a 200k-doc corpus), and at
    # 10^12 docs it could never fit anyway. Parquet staging is shuffle-once,
    # partition-prunes per shard, and survives a mid-build kill — a resumed
    # build reuses it instead of re-running the explode.
    shard_stages = [f"postings_shard_{s}" for s in range(config.n_build_shards)]
    need_tf = any(st not in done for st in shard_stages)
    if need_tf:
        # the staging table is deleted once every consumer committed, so a
        # resume whose lineage predates that cleanup must re-derive it
        if "tf_stage" not in done or not store.exists("tf_stage"):
            # PACKED tf (map-side, zero shuffle, ~8 bytes/posting): the
            # staging table and the encode exchange both carry binary
            # pack arrays instead of one row per posting
            tf = packed_term_frequencies(tokenized, config).withColumn(
                "shard",
                (F.pmod(F.xxhash64("term"), F.lit(config.n_term_buckets))
                 % config.n_build_shards).cast("int"),
            )
            tf.write.mode("overwrite").partitionBy("shard").parquet(store.path("tf_stage"))
            _lap("tf_stage")
            mark("tf_stage", None, "tf_stage")
        # explicit schema: a corpus whose every page falls below
        # min_chunk_chars stages ZERO rows, and an empty parquet dir has
        # nothing to infer from — the build must still commit (empty
        # postings + stats), not crash
        from rifflux_spark.operators.postings import PACKED_TF_SCHEMA
        import pyspark.sql.types as _T

        _staged_schema = _T.StructType(
            list(PACKED_TF_SCHEMA.fields)
            + [_T.StructField("shard", _T.IntegerType(), True)]
        )
        tf_staged = spark.read.schema(_staged_schema).parquet(
            store.path("tf_stage")
        )
        # shards own DISJOINT term_bucket partitions (shard = bucket mod
        # n_shards), commit independently (uuid gen dirs, flock-serialized
        # manifest swap), and each remains its own checkpoint/resume unit —
        # so they run as CONCURRENT jobs: the scheduler fills one shard's
        # task-wave tails and fixed per-job gaps with the other shards'
        # tasks. Work-conserving like the embeddings overlap: at low
        # parallelism the jobs time-share; at high parallelism the idle
        # slots between waves get filled.
        import concurrent.futures as _futures

        _mark_lock = __import__("threading").Lock()

        def _run_shard(s: int, stage: str) -> None:
            t0 = _time.perf_counter()
            blocks = encode_postings(tf_staged.filter(F.col("shard") == s), config)
            # dynamic partition overwrite, AUTHORITATIVE for the shard's
            # owned buckets: a non-force rebuild into an existing dir
            # must also drop stale buckets the new corpus left empty
            owned = [
                b for b in range(config.n_term_buckets)
                if b % config.n_build_shards == s
            ]
            store.write_postings(blocks, mode="overwrite", expected_parts=owned)
            with _mark_lock:
                stage_sec[f"postings_{s}"] = round(_time.perf_counter() - t0, 2)
                mark(
                    stage, None, "postings",
                    detail=f"shard {s}/{config.n_build_shards}",
                )

        pending = [(s, st) for s, st in enumerate(shard_stages) if st not in done]
        if pending:
            shard_errs: list[BaseException] = []
            with _futures.ThreadPoolExecutor(
                max_workers=min(4, len(pending)), thread_name_prefix="build-postings"
            ) as ex:
                for f in [ex.submit(_run_shard, s, st) for s, st in pending]:
                    try:
                        f.result()
                    except BaseException as e:
                        shard_errs.append(e)
            if shard_errs:
                # join the concurrent embeddings job BEFORE propagating:
                # raising with it mid-flight races the caller's cleanup
                # (rmtree of the index root under a live Spark write) and
                # blocks process exit on the orphan non-daemon thread
                if emb_thread is not None:
                    emb_thread.join()
                raise shard_errs[0]
            _t = _time.perf_counter()  # exclude the overlapped span from the next lap
        # every consumer of tf has committed — drop the staging table
        import shutil as _shutil

        _shutil.rmtree(store.path("tf_stage"), ignore_errors=True)
    if "term_stats" not in done:
        # (df, cf) from encoded-block METADATA (n_docs / block_tf_sum):
        # a ~block_size× smaller aggregation than re-reading tf, and it
        # works on resume even after the staging table was cleaned up.
        # Below driver_agg_max_bytes of pruned metadata columns the same
        # groupby runs driver-side via Arrow — a Spark job here costs ~1s
        # of fixed scheduler/committer time that never parallelizes (a
        # pure Amdahl serial fraction); identical values either way
        # (tests pin path equality).
        meta_bytes = store.column_bytes("postings", ["term", "n_docs", "block_tf_sum"])
        if meta_bytes is not None and meta_bytes <= config.driver_agg_max_bytes:
            store.write_term_stats_arrow(
                term_stats_from_block_files(store.data_files("postings"))
            )
        else:
            store.write_term_stats(term_stats_from_blocks(store.postings()))
        _lap("term_stats")
        mark("term_stats", None, "term_stats")

    # --- corpus stats (driver-side; no Spark job) ---
    # total_tokens == Σ cf over term_stats (each (term,doc) tf summed ==
    # each doc's dl summed); term_stats is small, read via pyarrow.
    # Prefix-marker rows (operators/prefix.py) are excluded — they are
    # derived views of the same tokens and must not inflate avgdl.
    if "stats" not in done:
        total_tokens = store.sum_column(
            "term_stats", "cf", exclude_prefix_markers=True
        )
        avgdl = total_tokens / n_chunks if n_chunks else 0.0
        store.write_corpus_stats(n_chunks, total_tokens, avgdl)
        mark("stats", 1, "corpus_stats")
    avgdl = float(store.corpus_stats()["avgdl"])

    # --- FTS5-style prefix indexes (opt-in; operators/prefix.py) ---
    # marker postings ride the normal codec/bucket layout; a `tok*`
    # query of a configured length reads ONE merged posting list
    # instead of expanding against the vocabulary.
    if config.prefix_lengths and "prefix_postings" not in done:
        from rifflux_spark.operators.prefix import (
            prefix_term_deltas,
            prefix_thin_postings,
        )
        from rifflux_spark.plans.incremental import _merge_term_stats

        want = ",".join(str(x) for x in sorted(set(config.prefix_lengths)))
        # publish-atomic completion signal: the prefix_meta row commits
        # in the SAME snapshot as the marker append, so a kill anywhere
        # in the commit→lineage-mark window leaves a resume that can
        # tell "published, only the mark was lost" (adopt) from "never
        # published" (run) — a blind re-append would double marker tf
        # the stamp carries source_fp too: a caller-supplied build_id
        # reused on a DIFFERENT corpus re-runs the posting shards (the
        # completed_stages guard), so the prefix stage must republish as
        # well — a build_id-only stamp would wrongly 'adopt' the old
        # corpus's markers (round-5 advice, medium)
        stamp = f"{build_id}:{source_fp}:{want}"
        published = (
            store.exists("prefix_meta")
            and store.count_rows("prefix_meta") > 0
            and _read_prefix_meta(store) == stamp
        )
        if not published:
            thin = prefix_thin_postings(
                store.chunks().select("doc_ord", "dl", "tokens"),
                config.prefix_lengths,
            )
            blocks = encode_postings(thin, config)
            # ONE snapshot transaction: a build killed mid-stage must
            # publish nothing (a resume re-runs the stage from scratch)
            with store.transaction():
                store.write_postings(blocks, mode="append")
                _merge_term_stats(spark, store, prefix_term_deltas(thin))
                store.write_small(
                    spark.createDataFrame([(stamp,)], "stamp string"),
                    "prefix_meta",
                )
        store.meta_set("layout.prefix_lengths", want)
        store.prefix_lengths = tuple(sorted(set(config.prefix_lengths)))
        _lap("prefix_postings")
        mark(
            "prefix_postings", None, "prefix_postings",
            detail="adopted" if published else None,
        )

    # --- embeddings: join the concurrent job (started above) ---
    if emb_thread is not None:
        emb_thread.join()
        _t = _time.perf_counter()  # exclude the overlapped span from the next lap
        if emb_err:
            raise emb_err[0]

    # --- catalog (for incremental diffing) ---
    # one groupBy over the staged chunk rows — no second corpus scan.
    # Pages that produced zero chunks (empty/sub-min text) have no staged
    # rows; the reference upserts every scanned file regardless of chunk
    # yield, so they must still get catalog rows (n_chunks=0) or the
    # first incremental diff would misclassify them as 'new'. The page
    # count is already known from the source fingerprint — only when it
    # disagrees with the catalog's url count (rare: some page yielded no
    # chunks) does a second pass run, and the anti-join shrinks the sha
    # hashing to exactly the zero-chunk pages.
    if "catalog" not in done:
        # same adaptive split as term_stats: the rider columns are tiny
        # next to content/tokens, so a metadata-sized corpus does this
        # groupby driver-side (no Spark job); the distributed plan above
        # the threshold is unchanged
        has_ts = "warc_ts" in cat_cols
        rider_cols = ["url", "size_bytes", "page_sha256"] + (["warc_ts"] if has_ts else [])
        rider_bytes = store.column_bytes("chunks", rider_cols)
        if rider_bytes is not None and rider_bytes <= config.driver_agg_max_bytes:
            store.write_small_arrow(
                catalog_from_staged_files(store.data_files("chunks"), has_ts),
                "catalog",
            )
        else:
            staged_raw = store.chunks_raw()
            cat = staged_raw.groupBy("url").agg(
                (F.first("warc_ts") if "warc_ts" in staged_raw.columns else F.lit(None).cast("timestamp")).alias("warc_ts"),
                F.first("size_bytes").alias("size_bytes"),
                F.first("page_sha256").alias("sha256"),
                F.count("*").cast("int").alias("n_chunks"),
            )
            store.write_small(cat, "catalog")
        # zero-chunk detection costs NO extra job in the common case: the
        # page count is in the source fingerprint and the catalog row
        # count comes from parquet footers; only on a mismatch does the
        # anti-join pass run (hashing exactly the zero-chunk pages)
        n_pages = int(source_fp.split(":")[0])
        if store.count_rows("catalog") < n_pages:
            zero = pages.join(
                store.catalog().select("url"),
                on="url",
                how="left_anti",
            )
            zero_cat = zero.select(
                "url",
                (F.col("warc_ts") if "warc_ts" in pages.columns else F.lit(None).cast("timestamp")).alias("warc_ts"),
                F.length("text").cast("long").alias("size_bytes"),
                F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("sha256"),
                F.lit(0).cast("int").alias("n_chunks"),
            )
            store.write_small(zero_cat, "catalog", mode="append")
        _lap("catalog")
        mark("catalog", None, "catalog")

    metrics["n_docs"] = int(store.corpus_stats()["n_docs"])
    metrics["avgdl"] = avgdl
    if config.iceberg_mirror:
        # cursor-idempotent: a rerun/resume never double-commits, and a
        # crash after the store commit but before this line heals here
        metrics["iceberg"] = store.sync_iceberg(config.iceberg_warehouse)
    return metrics
