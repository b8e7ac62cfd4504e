"""Physical-plan audits: the properties that keep this engine fast at
100 TB must be visible in ``explain`` output, not assumed.

- term filters reach the postings parquet scan (partition pruning on
  term_bucket + pushed term predicate);
- chunk rehydration pushes the doc_ord predicate and prunes columns
  (no token arrays read on the query path);
- the rehydration join broadcasts the tiny top-k side;
- scans participate in WholeStageCodegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.operators.bm25 import bm25_topk
from rifflux_spark.plans.build import build_index
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=1, embedding_dim=16
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, synthetic_pages(spark, 80, seed=4), index_dir, CONFIG, with_embeddings=False)
    return IndexStore(spark, index_dir, CONFIG.n_term_buckets)


def explain_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_postings_scan_prunes_partitions_and_pushes_term(spark, store) -> None:
    df = store.postings_for_terms(["cache", "ttl"])
    plan = explain_str(df)
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan
    # the term IN predicate reaches the parquet reader
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters", 1)[1][:400]
    rows = df.collect()
    assert rows and all(r["term"] in ("cache", "ttl") for r in rows)


def test_chunks_rehydration_pushes_docord_and_prunes_columns(spark, store) -> None:
    chunks = store.chunks().filter(F.col("doc_ord").isin([0, 1, 2])).select(
        "doc_ord", "chunk_id", "content"
    )
    plan = explain_str(chunks)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "doc_ord" in pushed
    schema_part = plan.split("ReadSchema", 1)[1][:400]
    # the token stream must NOT be read on the query path
    assert "tokens:" not in schema_part
    # '*'-starred operators / codegen ids mark whole-stage codegen spans
    assert "codegen id" in plan


def test_topk_rehydration_broadcasts_small_side(spark, store) -> None:
    topk = bm25_topk(spark, store, "the data", top_k=5, config=CONFIG)
    joined = topk.join(store.chunks(), on="doc_ord", how="inner").select(
        "doc_ord", "chunk_id", "bm25_score"
    )
    plan = explain_str(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_uses_take_ordered(spark, store) -> None:
    topk = bm25_topk(spark, store, "the data", top_k=5, config=CONFIG)
    plan = explain_str(topk)
    assert "TakeOrderedAndProject" in plan


def test_glob_filter_pushes_like_into_scan(spark, tmp_path_factory) -> None:
    """LIKE-translatable globs must reach the parquet scan as pushed
    StartsWith/EndsWith filters — the A2 operator's whole point at scale."""
    from rifflux_spark.operators.filters import glob_filter

    d = str(tmp_path_factory.mktemp("glob") / "t.parquet")
    spark.createDataFrame(
        [("docs/a.md",), ("src/x.py",), ("docs/b7.md",)], "url string"
    ).write.parquet(d)
    df = glob_filter(spark.read.parquet(d), "url", include=("docs/*",), exclude=("*7.md",))
    plan = explain_str(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "StartsWith" in pushed
    assert "EndsWith" in pushed or "Not" in pushed
    assert {r["url"] for r in df.collect()} == {"docs/a.md"}


def test_encode_postings_single_shuffle_and_bounded_files(spark, store, tmp_path_factory) -> None:
    """The postings payload must be shuffled exactly once: the encode
    shuffle is keyed (term_bucket, salt_slice), so write_postings streams
    encoded blocks straight into the bucket-partitioned table — a second
    exchange of the encoded bytes (the whole index payload) would double
    the stage's wire traffic at 100 TB. File count must stay bounded by
    buckets × splits, not grow with cluster parallelism."""
    from rifflux_spark.operators.postings import encode_postings, term_frequencies

    import re

    tokenized = store.chunks().select("doc_ord", "dl", "tokens")
    blocks = encode_postings(term_frequencies(tokenized), CONFIG)
    plan = explain_str(blocks)
    # exactly ONE exchange end-to-end: the (term_bucket, salt_slice)
    # encode shuffle. tf is computed map-side (per-doc aggregate — zero
    # shuffle; the old explode+groupBy exchanged the exploded token
    # stream and was the worst-scaling stage on a throttled host)
    assert len(set(re.findall(r"Exchange \(\d+\)", plan))) == 1, plan
    # the encode (MapInPandas) is the plan root: NO exchange sits above
    # it, i.e. the encoded block bytes are never reshuffled
    tree_root = plan.split("AdaptiveSparkPlan", 1)[1].splitlines()[1]
    assert "MapInPandas" in tree_root, plan

    out = tmp_path_factory.mktemp("fusedw")
    st2 = IndexStore(spark, str(out), CONFIG.n_term_buckets)
    st2.write_postings(blocks)
    files = st2.data_files("postings")
    assert 0 < len(files) <= CONFIG.n_term_buckets * CONFIG.n_bucket_splits

    # written rows must round-trip with identical content vs the plan
    assert st2.postings().count() == blocks.count()


def test_encode_shuffle_key_not_degenerate_with_sparse_ordinals(spark) -> None:
    """The encode-shuffle's salt_slice must spread rows even though
    sparse ordinals make every salt a multiple of 2²⁶ (pid·2⁴⁰ + i ⇒
    salt = pid·2²⁶ + j): a plain modulo collapses to 0 for every row and
    the shuffle degrades to bucket-only hashing (straggler tasks)."""
    from pyspark.sql import functions as F

    # salts exactly as sparse_ordinals produces them for small partitions
    salts = [(pid << 26,) for pid in range(64)]
    df = spark.createDataFrame(salts, "salt long")
    k = CONFIG.n_bucket_splits
    slices = {
        r["s"]
        for r in df.select(F.pmod(F.xxhash64("salt"), F.lit(k)).alias("s")).collect()
    }
    assert len(slices) == k  # all slices hit, not just slice 0


def test_cap_buckets_adds_no_extra_shuffle(spark) -> None:
    """_cap_buckets' window counts over the SAME key the self-join
    shuffles on — Catalyst satisfies the join's distribution from the
    window's exchange, so the capped plan has exactly as many exchanges
    as the uncapped one (the 'no extra shuffle' claim, pinned)."""
    import re

    from rifflux_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    rows = [(i, f"some text document number {i} shared tokens alpha beta") for i in range(40)]
    sigs = minhash_signatures(spark.createDataFrame(rows, "doc_id long, text string"))

    def n_exchanges(df) -> int:
        return len(set(re.findall(r"Exchange \(\d+\)", explain_str(df))))

    capped = n_exchanges(lsh_candidate_pairs(sigs, max_bucket_size=100))
    uncapped = n_exchanges(lsh_candidate_pairs(sigs, max_bucket_size=None))
    assert capped == uncapped


def test_packed_encode_bit_identical_to_thin(spark, store) -> None:
    """The packed shuffle format (binary arrays, ~8 B/posting) must
    produce byte-identical block rows to the thin one-row-per-posting
    path — the wire format is an optimization, never a semantic."""
    from rifflux_spark.operators.postings import (
        encode_postings,
        packed_term_frequencies,
        term_frequencies,
    )

    tok = store.chunks().select("doc_ord", "dl", "tokens")

    def key(df):
        return {
            (r["term"], r["salt"], r["block_seq"]): (
                r["n_docs"], r["first_doc"], r["last_doc"],
                bytes(r["gaps"]), bytes(r["tfs"]), bytes(r["dls"]),
                r["block_max_tf"], r["block_min_dl"], r["block_tf_sum"],
                r["term_bucket"],
            )
            for r in df.collect()
        }

    thin = key(encode_postings(term_frequencies(tok), CONFIG))
    packed = key(encode_postings(packed_term_frequencies(tok, CONFIG), CONFIG))
    assert thin and thin == packed


def test_packed_tf_handles_all_empty_token_batch(spark) -> None:
    """A batch whose chunks all tokenize to nothing (punctuation-only
    incremental micro-batch) must yield zero postings, not an
    IndexError from _pack_groups indexing an empty array."""
    from rifflux_spark.operators.postings import pack_tf, packed_term_frequencies

    empty_tok = spark.createDataFrame(
        [(0, 0, ""), (1, 0, "")], "doc_ord long, dl int, tokens string"
    )
    assert packed_term_frequencies(empty_tok, CONFIG).count() == 0

    # mixed batch: the empty doc contributes nothing, the real one packs
    mixed = spark.createDataFrame(
        [(0, 0, ""), (5, 2, "cache ttl")], "doc_ord long, dl int, tokens string"
    ).coalesce(1)
    rows = packed_term_frequencies(mixed, CONFIG).collect()
    assert sorted(r["term"] for r in rows) == ["cache", "ttl"]
    assert all(r["first_doc"] == 5 and r["n"] == 1 for r in rows)

    thin_empty = spark.createDataFrame([], "term string, doc_ord long, dl int, tf long")
    assert pack_tf(thin_empty, CONFIG).count() == 0


def test_gc_skips_inflight_generations(spark, tmp_path_factory) -> None:
    """gc() must not reclaim a generation another THREAD has staged but
    not yet published (self._pending is thread-local and invisible to
    the gc caller), and min_age_sec must protect young dirs from
    cross-process gc."""
    import pandas as pd

    from rifflux_spark.sources.tables import TOMBSTONES_SCHEMA

    index_dir = str(tmp_path_factory.mktemp("gcidx"))
    build_index(spark, synthetic_pages(spark, 20, seed=7), index_dir, CONFIG,
                with_embeddings=False)
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)

    import threading

    staged = threading.Event()
    release = threading.Event()
    errors: list[Exception] = []

    def writer():
        try:
            with store.transaction():
                store.write_small(
                    spark.createDataFrame(pd.DataFrame({"doc_ord": [1]}), TOMBSTONES_SCHEMA),
                    "tombstones",
                    mode="append",
                )
                staged.set()
                assert release.wait(timeout=60)
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(e)

    t = threading.Thread(target=writer)
    t.start()
    assert staged.wait(timeout=60)
    store.gc()  # must NOT delete the writer's staged generation
    release.set()
    t.join(timeout=60)
    assert not errors
    assert store.count_rows("tombstones") == 1

    # min_age_sec: an unreferenced orphan younger than the retention age
    # survives; with age 0 it is reclaimed
    orphan = store._new_gen_dir("tombstones")
    orphan.mkdir(parents=True)
    store._release_gens()  # simulate another process: not in this registry
    assert store.gc(min_age_sec=3600)["removed"] == 0
    assert orphan.exists()
    assert store.gc()["removed"] >= 1
    assert not orphan.exists()


def test_posting_row_groups_stay_prunable_at_growth(spark, tmp_path_factory, monkeypatch) -> None:
    """Posting bucket files grow linearly with the corpus; coordinator
    reads stay df-proportional ONLY if row groups stay bounded (explicit
    parquet.block.size) and term-min/max-prunable. Pin the mechanism:
    with the row-group bound shrunk, a large bucket splits into many
    row groups, every one carries term statistics, and a rare-term read
    touches a small fraction of them."""
    import pyarrow.parquet as pq

    from rifflux_spark.operators import local_exec
    from rifflux_spark.sources import tables as tables_mod
    from rifflux_spark.sources.tables import POSTINGS_SCHEMA

    monkeypatch.setattr(tables_mod, "POSTINGS_ROW_GROUP_BYTES", 64 << 10)

    index_dir = str(tmp_path_factory.mktemp("rgidx"))
    store = IndexStore(spark, index_dir, n_term_buckets=2)
    payload = bytes(range(256)) * 2  # ~0.5 KB/row, incompressible-ish
    rows = [
        (f"t{i:05d}", 0, 0, 1, i, i, payload, b"\x01", b"\x10", 1, 16, 1)
        for i in range(4000)
    ]
    df = (
        spark.createDataFrame(rows, POSTINGS_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("term")
    )
    store.write_postings(df)

    files = store.data_files("postings")
    assert files
    total_groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total_groups += md.num_row_groups
        for g in range(md.num_row_groups):
            ci = {md.row_group(g).column(i).path_in_schema: i for i in range(md.num_columns)}
            st = md.row_group(g).column(ci["term"]).statistics
            assert st is not None and st.has_min_max, f"row group {g} of {f} lacks term stats"
            # the explicit bound held: no unbounded 128 MB default groups
            assert md.row_group(g).total_byte_size < (64 << 10) * 8
    assert total_groups >= 8, f"expected many bounded row groups, got {total_groups}"

    # a rare-term read prunes to a small fraction of the groups
    probe = ["t03999"]
    t = local_exec._read_filtered(files, ["term", "n_docs"], probe)
    assert t is not None and t.num_rows == 1

    read_groups = 0
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        ci = {md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci["term"]).statistics
            if st.min <= probe[0] <= st.max:
                read_groups += 1
    assert read_groups * 4 <= total_groups, (
        f"rare-term read touched {read_groups}/{total_groups} row groups"
    )


def test_chunk_row_groups_keep_rehydration_docord_proportional(
    spark, tmp_path_factory, monkeypatch
) -> None:
    """The coordinator rehydrates top-k results by doc_ord from the chunks
    table; with Spark's default 128 MB row groups a single-group file makes
    that read CORPUS-proportional (the whole content column decompresses
    for 10 ordinals). Pin the bound: with CHUNKS_ROW_GROUP_BYTES shrunk the
    build writes many doc_ord-stat-carrying groups, and a top-k rehydrate
    touches only the few groups covering the requested ordinals."""
    import pyarrow.parquet as pq

    from rifflux_spark.operators import local_exec
    from rifflux_spark.sources import tables as tables_mod

    monkeypatch.setattr(tables_mod, "CHUNKS_ROW_GROUP_BYTES", 64 << 10)

    index_dir = str(tmp_path_factory.mktemp("chunkrg"))
    cfg = EngineConfig(n_term_buckets=4, n_build_shards=1, embedding_dim=16)
    build_index(spark, synthetic_pages(spark, 120, seed=7), index_dir, cfg, with_embeddings=False)
    store = IndexStore(spark, index_dir, cfg.n_term_buckets)

    files = store.data_files("chunks")
    assert files
    total_groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total_groups += md.num_row_groups
        for g in range(md.num_row_groups):
            ci = {md.row_group(g).column(i).path_in_schema: i for i in range(md.num_columns)}
            st = md.row_group(g).column(ci["doc_ord"]).statistics
            assert st is not None and st.has_min_max, f"row group {g} of {f} lacks doc_ord stats"
            assert md.row_group(g).total_byte_size < (64 << 10) * 8
    assert total_groups >= 6, f"expected many bounded row groups, got {total_groups}"

    # a top-k rehydrate prunes to the few groups covering the ordinals
    ords = sorted(
        int(r["doc_ord"]) for r in store.chunks().select("doc_ord").limit(3).collect()
    )
    got = local_exec.rehydrate_local(store, ords)
    assert sorted(got) == ords

    covering = 0
    for _, _, mn, mx in local_exec._chunk_rg_index(store):
        if any(mn <= d <= mx for d in ords):
            covering += 1
    assert covering * 2 <= total_groups, (
        f"rehydrate would touch {covering}/{total_groups} row groups"
    )
