"""Incremental maintenance: diff semantics, tombstoned deletes, appended
runs, compaction equivalence, and lineage-based build resume (SURVEY.md §5
items on incremental + resumability)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index, completed_stages, make_build_id
from rifflux_spark.plans.incremental import apply_incremental, compact
from rifflux_spark.service import SearchService
from rifflux_spark.sources.catalog import diff_snapshot, prune_missing, snapshot_of
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16, salt_range=64, n_term_buckets=8, n_build_shards=2, embedding_dim=32
)

QUERIES = ["cache ttl", "custom instructions", "the data", "varbyte delta fusion"]


def _mutate(pages):
    """Next crawl: drop every 7th page, change every 5th, add 10 new."""
    survivors = pages.filter(F.xxhash64("url") % 7 != 0)
    mutated = survivors.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n\nfresh appended paragraph about tombstone compaction lineage checkpoint varbyte.\n")),
        ).otherwise(F.col("text")),
    )
    spark = pages.sparkSession
    from rifflux_spark.sources.pages import synthetic_pages as sp

    new = sp(spark, 10, seed=12345).withColumn(
        "url", F.concat(F.lit("https://newsite.example.com/"), F.col("url"))
    )
    return mutated.unionByName(new)


def test_diff_statuses(spark) -> None:
    pages = synthetic_pages(spark, 60, seed=3)
    nxt = _mutate(pages)
    d = diff_snapshot(snapshot_of(pages), snapshot_of(nxt))
    counts = {r["status"]: r["n"] for r in d.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert counts.get("deleted", 0) > 0
    assert counts.get("changed", 0) > 0
    assert counts.get("new", 0) == 10
    assert counts.get("unchanged", 0) > 0
    total = sum(counts.values())
    assert total == d.count()
    # prune-missing = exactly the deleted set
    pruned = prune_missing(snapshot_of(pages), snapshot_of(nxt))
    assert pruned.count() == counts["deleted"]


def test_incremental_matches_full_rebuild(spark, tmp_path_factory) -> None:
    pages = synthetic_pages(spark, 60, seed=3)
    nxt = _mutate(pages)

    # incremental path
    inc_dir = str(tmp_path_factory.mktemp("inc"))
    build_index(spark, pages, inc_dir, CONFIG)
    store = IndexStore(spark, inc_dir, CONFIG.n_term_buckets)
    res = apply_incremental(spark, store, nxt, CONFIG)
    assert res["tombstoned"] > 0
    assert res["appended_chunks"] > 0

    # from-scratch path over the same snapshot
    full_dir = str(tmp_path_factory.mktemp("full"))
    build_index(spark, nxt, full_dir, CONFIG)

    inc_svc = SearchService(spark, inc_dir, CONFIG)
    full_svc = SearchService(spark, full_dir, CONFIG)

    def results(svc, q):
        return [
            (r["chunk_id"], round(r["bm25_score"], 6))
            for r in svc.lexical(q, top_k=10)
        ]

    for q in QUERIES:
        assert results(inc_svc, q) == results(full_svc, q), q

    # after compaction: tombstones gone, results identical
    c = compact(spark, store, CONFIG)
    assert c["purged"] > 0
    assert not store.exists("tombstones")
    inc_svc2 = SearchService(spark, inc_dir, CONFIG)
    for q in QUERIES:
        assert results(inc_svc2, q) == results(full_svc, q), q
    # status counts agree with the full rebuild
    assert inc_svc2.index_status()["chunks"] == full_svc.index_status()["chunks"]


def test_build_resume_skips_completed_stages(spark, tmp_path_factory) -> None:
    pages = synthetic_pages(spark, 40, seed=5)
    index_dir = str(tmp_path_factory.mktemp("resume"))
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)

    build_id = make_build_id(pages, CONFIG)
    m1 = build_index(spark, pages, index_dir, CONFIG, build_id=build_id)
    assert m1["skipped_stages"] == []
    all_stages = completed_stages(store, build_id)
    assert {"chunks", "stats", "term_stats", "embeddings", "catalog"} <= all_stages
    assert {f"postings_shard_{s}" for s in range(CONFIG.n_build_shards)} <= all_stages

    # second run resumes: every stage skipped, index unchanged
    before = SearchService(spark, index_dir, CONFIG).lexical("cache ttl", top_k=5)
    m2 = build_index(spark, pages, index_dir, CONFIG, build_id=build_id)
    assert set(m2["skipped_stages"]) == all_stages
    after = SearchService(spark, index_dir, CONFIG).lexical("cache ttl", top_k=5)
    assert [r["chunk_id"] for r in before] == [r["chunk_id"] for r in after]


def test_partial_build_resumes_from_checkpoint(spark, tmp_path_factory) -> None:
    """Simulate a killed build: lineage says shard 0 done, the rest not —
    the re-run completes only the missing stages (north_rule resumable)."""
    pages = synthetic_pages(spark, 40, seed=6)
    index_dir = str(tmp_path_factory.mktemp("partial"))
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)
    build_id = make_build_id(pages, CONFIG)

    # full build, then surgically delete lineage rows for shard 1 +
    # term_stats to emulate a crash between checkpoints
    build_index(spark, pages, index_dir, CONFIG, build_id=build_id)
    rows = store.read_lineage_rows()
    keep = [r for r in rows if r["stage"] not in {"postings_shard_1", "term_stats"}]
    import shutil
    from pathlib import Path

    shutil.rmtree(Path(store.path("lineage")))
    store.append_lineage(keep)
    assert "postings_shard_1" not in completed_stages(store, build_id)

    m = build_index(spark, pages, index_dir, CONFIG, build_id=build_id)
    skipped = set(m["skipped_stages"])
    assert "postings_shard_0" in skipped and "chunks" in skipped
    assert "postings_shard_1" not in skipped
    assert "postings_shard_1" in completed_stages(store, build_id)
    # index answers queries after resume
    assert SearchService(spark, index_dir, CONFIG).lexical("the data", top_k=3)


def test_partial_snapshot_keeps_untouched_n_chunks(spark, tmp_path_factory) -> None:
    """Micro-batch mode (full_snapshot=False): urls absent from the batch
    are untouched — their catalog n_chunks must survive the refresh (a
    status-NULL row used to coalesce to 0 and stay there)."""
    pages = synthetic_pages(spark, 30, seed=8)
    index_dir = str(tmp_path_factory.mktemp("microbatch"))
    build_index(spark, pages, index_dir, CONFIG)
    store = IndexStore(spark, index_dir, CONFIG.n_term_buckets)
    before = {r["url"]: r["n_chunks"] for r in store.catalog().collect()}
    assert all(n > 0 for n in before.values())

    # upsert batch touching ONE url
    one = pages.orderBy("url").limit(1).withColumn(
        "text", F.concat(F.col("text"), F.lit("\n\nmicro batch appended paragraph.\n"))
    )
    touched = one.collect()[0]["url"]
    apply_incremental(spark, store, one, CONFIG, full_snapshot=False)
    after = {r["url"]: r["n_chunks"] for r in store.catalog().collect()}
    assert set(after) == set(before)
    for url, n in before.items():
        if url != touched:
            assert after[url] == n, url
    # a second no-op batch must not decay counts either
    apply_incremental(spark, store, one, CONFIG, full_snapshot=False)
    again = {r["url"]: r["n_chunks"] for r in store.catalog().collect()}
    for url, n in before.items():
        if url != touched:
            assert again[url] == n, url


def test_layout_params_persisted_and_validated(spark, tmp_path_factory) -> None:
    """n_term_buckets/salt_range are written at build time; a conflicting
    caller value errors (it would silently break bucket pruning), and
    None auto-detects the build-time layout."""
    pages = synthetic_pages(spark, 12, seed=9)
    index_dir = str(tmp_path_factory.mktemp("layout"))
    build_index(spark, pages, index_dir, CONFIG)
    auto = IndexStore(spark, index_dir)  # no layout args: trust the store
    assert auto.n_term_buckets == CONFIG.n_term_buckets
    assert auto.salt_range == CONFIG.salt_range
    with pytest.raises(ValueError, match="n_term_buckets"):
        IndexStore(spark, index_dir, CONFIG.n_term_buckets * 2)
    # matching value still fine
    IndexStore(spark, index_dir, CONFIG.n_term_buckets)


def test_force_rebuild_wipes_and_rebuilds(spark, tmp_path_factory) -> None:
    """force=True is the reference's destructive rebuild (cli.py:78-99):
    resume state is discarded and every stage runs again."""
    pages = synthetic_pages(spark, 30, seed=11)
    index_dir = str(tmp_path_factory.mktemp("force"))
    build_index(spark, pages, index_dir, CONFIG)
    m = build_index(spark, pages, index_dir, CONFIG)
    assert m["skipped_stages"]  # normal re-run resumes
    m2 = build_index(spark, pages, index_dir, CONFIG, force=True)
    assert m2["skipped_stages"] == []
    assert SearchService(spark, index_dir, CONFIG).lexical("the data", top_k=2)


def test_fts_modes_match_full_rebuild_after_incremental(
    spark, tmp_path_factory
) -> None:
    """The FTS language paths (phrase + full MATCH) must
    honor tombstones and appended runs exactly like lexical: after an
    incremental apply, phrase/fts results equal a from-scratch rebuild
    of the same snapshot — including per-unit df (which must exclude
    tombstoned docs) and NEAR participation on appended chunks."""
    pages = synthetic_pages(spark, 60, seed=3)
    nxt = _mutate(pages)

    inc_dir = str(tmp_path_factory.mktemp("incfts"))
    build_index(spark, pages, inc_dir, CONFIG, with_embeddings=False)
    store = IndexStore(spark, inc_dir, CONFIG.n_term_buckets)
    res = apply_incremental(spark, store, nxt, CONFIG, with_embeddings=False)
    assert res["tombstoned"] > 0

    full_dir = str(tmp_path_factory.mktemp("fullfts"))
    build_index(spark, nxt, full_dir, CONFIG, with_embeddings=False)

    inc_svc = SearchService(spark, inc_dir, CONFIG)
    full_svc = SearchService(spark, full_dir, CONFIG)

    fts_queries = [
        "tombstone compaction",                 # implicit AND, in mutated text
        '"tombstone compaction"',               # phrase present only post-apply
        "cache OR tomb* NOT lineage",           # boolean + prefix
        "NEAR(tombstone lineage, 3)",           # NEAR over appended text
        "content:varbyte",                      # column filter
    ]

    def fts_results(svc, q):
        return [
            (r["chunk_id"], round(r["bm25_score"], 6))
            for r in svc.fts(q, top_k=10)
        ]

    for q in fts_queries:
        assert fts_results(inc_svc, q) == fts_results(full_svc, q), q

    def phrase_results(svc):
        return [
            (r["chunk_id"], round(r["bm25_score"], 6))
            for r in svc.phrase("tombstone compaction lineage", 10)
        ]

    assert phrase_results(inc_svc) == phrase_results(full_svc)


def test_phrase_matches_rebuild_across_apply_compact_vacuum(
    spark, tmp_path_factory
) -> None:
    """Phrase results equal a from-scratch rebuild of
    the same snapshot after an incremental apply, after compact() (dead
    docs purged from the posting blocks in the commit that drops the
    tombstone set) and after vacuum() (postings rebuilt from live
    chunks): the candidate recheck never resurfaces a dead doc."""
    from rifflux_spark.plans.incremental import vacuum

    pages = synthetic_pages(spark, 60, seed=21)
    # next crawl: drop every 6th, change every 5th, add 8 new
    survivors = pages.filter(F.xxhash64("url") % 6 != 0)
    mutated = survivors.withColumn(
        "text",
        F.when(
            F.xxhash64("url") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n\nphrase probe tombstone varbyte appended.\n")),
        ).otherwise(F.col("text")),
    )
    extra = synthetic_pages(spark, 8, seed=4242).withColumn(
        "url", F.concat(F.lit("https://newsite.example.com/"), F.col("url"))
    )
    nxt = mutated.unionByName(extra.select(*mutated.columns))

    inc_dir = str(tmp_path_factory.mktemp("incphrase"))
    build_index(spark, pages, inc_dir, CONFIG, with_embeddings=False)
    store = IndexStore(spark, inc_dir, CONFIG.n_term_buckets)
    res = apply_incremental(spark, store, nxt, CONFIG, with_embeddings=False)
    assert res["tombstoned"] > 0 and res["appended_chunks"] > 0

    full_dir = str(tmp_path_factory.mktemp("fullphrase"))
    build_index(spark, nxt, full_dir, CONFIG, with_embeddings=False)
    full_svc = SearchService(spark, full_dir, CONFIG)

    def contents(rows):
        # tie-insensitive: doc_ord tie-breaks legitimately differ
        # between an incremental and a from-scratch index (different
        # ordinal assignment), so sort within equal scores by content
        return sorted((round(r["bm25_score"], 6), r["content"]) for r in rows)

    probes = ["phrase probe", "tombstone varbyte", "cache ttl", "the index"]
    want = {q: contents(full_svc.phrase(q, top_k=300)) for q in probes}
    assert all(want.values()), "vacuous phrase probe"

    def check(stage: str) -> None:
        svc = SearchService(spark, inc_dir, CONFIG)
        for q, rows in want.items():
            assert contents(svc.phrase(q, top_k=300)) == rows, (
                f"phrase {q!r} diverges from the rebuild after {stage}"
            )

    check("apply")
    assert compact(spark, store, CONFIG)["purged"] > 0
    assert not store.exists("tombstones")
    check("compact")
    assert vacuum(spark, store, CONFIG)["purged"] > 0
    check("vacuum")
