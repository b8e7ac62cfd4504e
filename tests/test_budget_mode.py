"""Impact-ordered evaluation gates (round-4 verdict #3):

- exactness: the coordinator's full decode matches the distributed
  plain scan, rank and score;
- ``lexical_budget_postings``: under-budget queries are EXACT; over-
  budget (stopword-class) queries return the impact-ordered range-
  closure approximation whose SCORES are exact (every returned doc has
  all its postings decoded), identical between the coordinator and
  distributed paths, which share one selection
  (``wand.budget_selection``) that ignores the metadata's row order;
- the coordinator's scorer over its cached decoded lanes returns exactly
  what scoring a filtered read of the block table returns, budgeted or
  exact;
- decoded work in budgeted mode is capped near the budget (the
  sublinear-growth evidence lives in bench.py's two-corpus stress
  block);
- ``engine="auto"`` routes lexical queries on the capped working set.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from rifflux_spark.config import EngineConfig
from rifflux_spark.plans.build import build_index
from rifflux_spark.sources.pages import synthetic_pages
from rifflux_spark.sources.tables import IndexStore

CONFIG = EngineConfig(
    block_size=16,
    salt_range=64,
    n_term_buckets=8,
    n_build_shards=2,
    embedding_dim=16,
)
# tiny budget: the synthetic corpus's Zipf-head terms exceed it
BUDGET = dataclasses.replace(CONFIG, lexical_budget_postings=600)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("budgetidx"))
    build_index(spark, synthetic_pages(spark, 200, seed=7), d, CONFIG, with_embeddings=False)
    return IndexStore(spark, d, CONFIG.n_term_buckets)


def _stopword_query(spark, store) -> str:
    rows = (
        store.term_stats()
        .orderBy("df_docs", ascending=False)
        .limit(3)
        .collect()
    )
    return " ".join(r["term"] for r in rows if not r["term"].startswith("\x01"))


def _rare_query(spark, store) -> str:
    from pyspark.sql import functions as F

    rows = (
        store.term_stats()
        .filter(~F.col("term").startswith("\x01") & (F.col("df_docs") > 1))
        .orderBy(F.asc("df_docs"), F.asc("term"))
        .limit(2)
        .collect()
    )
    return " ".join(r["term"] for r in rows)


def test_prune_invariance_and_coordinator_matches_scan(spark, store) -> None:
    from rifflux_spark.operators.bm25 import bm25_topk
    from rifflux_spark.operators.local_exec import bm25_topk_local

    for q in (_stopword_query(spark, store), _rare_query(spark, store)):
        s2 = [(r["doc_ord"], r["bm25_score"]) for r in bm25_topk(spark, store, q, 10, CONFIG).collect()]
        # the coordinator decodes every block: it must equal the plain scan
        local = bm25_topk_local(store, q, top_k=10, config=CONFIG)
        assert [d for d, _ in local] == [d for d, _ in s2], q
        assert all(abs(a[1] - b[1]) < 1e-12 for a, b in zip(local, s2)), q


def test_under_budget_queries_stay_exact(spark, store) -> None:
    from rifflux_spark.operators.local_exec import bm25_topk_local, local_df

    q = _rare_query(spark, store)
    assert sum(local_df(store, sorted(set(q.split()))).values()) <= BUDGET.lexical_budget_postings
    assert bm25_topk_local(store, q, top_k=10, config=BUDGET) == bm25_topk_local(
        store, q, top_k=10, config=CONFIG
    )


def test_budgeted_scores_are_exact_and_paths_agree(spark, store) -> None:
    from rifflux_spark.operators.bm25 import bm25_topk
    from rifflux_spark.operators.local_exec import bm25_topk_local, local_df

    q = _stopword_query(spark, store)
    total = sum(local_df(store, sorted(set(q.split()))).values())
    assert total > BUDGET.lexical_budget_postings, "probe not over budget"

    exact = dict(bm25_topk_local(store, q, top_k=10_000, config=CONFIG))
    got = bm25_topk_local(store, q, top_k=10, config=BUDGET)
    assert got, "budgeted mode returned nothing"
    for doc, score in got:
        # every returned doc's score equals its EXACT full score — the
        # range closure decodes all of a covered doc's postings
        assert doc in exact and abs(score - exact[doc]) < 1e-12, doc

    spark_got = [
        (r["doc_ord"], r["bm25_score"])
        for r in bm25_topk(spark, store, q, 10, BUDGET).collect()
    ]
    assert [d for d, _ in spark_got] == [d for d, _ in got]
    assert all(abs(a[1] - b[1]) < 1e-12 for a, b in zip(spark_got, got))


def _block_table_topk(store, q: str, top_k: int, config) -> list[tuple[int, float]]:
    """The coordinator scorer computed over the block table itself: one
    filtered read of the query's blocks, the posting budget's selection
    over it, and the distributed kernel's decode of the selected rows."""
    import pyarrow as pa

    from rifflux_spark.functions.tokenizer import compile_query
    from rifflux_spark.operators import wand
    from rifflux_spark.operators.bm25 import _decode_score_arrow
    from rifflux_spark.operators.local_exec import (
        POSTING_COLUMNS,
        _finish_topk,
        local_df,
        local_tombstones,
        query_idf,
        read_postings,
    )

    terms = compile_query(q)
    cstats = store.corpus_stats()
    avgdl = float(cstats["avgdl"])
    idf = query_idf(terms, local_df(store, sorted(set(terms))), int(cstats["n_docs"]))
    columns = POSTING_COLUMNS + [c for c in wand.BLOCK_META_COLUMNS if c not in POSTING_COLUMNS]
    t = read_postings(store, sorted(idf), columns)
    k1, b = config.bm25_k1, config.bm25_b
    sel = wand.budget_selection(t, idf, avgdl, k1, b, config.lexical_budget_postings)
    if sel is not None:
        t = t.take(pa.array(np.flatnonzero(sel[0])))
    docs, partials = _decode_score_arrow(t, idf, avgdl, k1, b)
    if sel is not None:
        inside = wand.mask_docs_to_ranges(docs, sel[1])
        docs, partials = docs[inside], partials[inside]
    return _finish_topk(docs, partials, local_tombstones(store), top_k)


def test_lanes_scorer_equals_block_table_scorer(spark, store) -> None:
    """The coordinator's scorer over cached lanes returns exactly (same
    docs, bit-equal scores) what scoring the block table returns, in
    budgeted and exact mode, cold and warm."""
    from collections import OrderedDict

    from rifflux_spark.operators import local_exec
    from rifflux_spark.operators.local_exec import bm25_topk_local, local_df

    stop, rare = _stopword_query(spark, store), _rare_query(spark, store)
    mid = " ".join([stop.split()[0], rare.split()[0]])
    sigma = sum(local_df(store, sorted(set(stop.split()))).values())
    budgets = (0, 150, BUDGET.lexical_budget_postings, sigma // 2, sigma)
    for q in (stop, rare, mid):
        for budget in budgets:
            cfg = dataclasses.replace(CONFIG, lexical_budget_postings=budget)
            for top_k in (10, 1000):
                want = _block_table_topk(store, q, top_k, cfg)
                assert want, (q, budget)
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(local_exec, "_CACHE", OrderedDict())
                    mp.setattr(local_exec, "_BYTES", 0)
                    assert bm25_topk_local(store, q, top_k, cfg) == want, (q, budget, top_k)
                    assert bm25_topk_local(store, q, top_k, cfg) == want, (q, budget, top_k)


def test_default_config_budget_is_on_and_under_budget_exact(spark, store) -> None:
    """Round-5 verdict #2: the budget mode is the DEFAULT. The default
    engages only past the posting budget, so every query on a corpus
    under it (all oracle SFs, all rank-identity suites) stays bit-
    identical to explicit exact mode; 0 opts back into exact-at-any-cost
    and the two agree wherever both are exact."""
    from rifflux_spark.operators.local_exec import bm25_topk_local, local_df

    default = EngineConfig()
    assert default.lexical_budget_postings > 0
    exact = dataclasses.replace(CONFIG, lexical_budget_postings=0)
    for q in (_stopword_query(spark, store), _rare_query(spark, store)):
        # this corpus is far under the default budget → identical to exact
        assert (
            sum(local_df(store, sorted(set(q.split()))).values())
            <= default.lexical_budget_postings
        )
        assert bm25_topk_local(store, q, top_k=10, config=CONFIG) == bm25_topk_local(
            store, q, top_k=10, config=exact
        )


def test_budget_caps_few_block_queries_on_both_engines(spark, store) -> None:
    """The budget applies at any block count: an over-budget one-term
    query of only 8-63 blocks is capped, and identically on both
    engines."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rifflux_spark.operators.bm25 import bm25_topk
    from rifflux_spark.operators.local_exec import bm25_topk_local

    t = pq.ParquetDataset([str(f) for f in store.data_files("postings")]).read(
        columns=["term", "n_docs"]
    )
    per = t.group_by("term").aggregate([("n_docs", "count"), ("n_docs", "sum")])
    per = per.filter(
        pc.and_(pc.greater(per["n_docs_count"], 8), pc.less(per["n_docs_count"], 64))
    ).sort_by([("n_docs_sum", "descending"), ("term", "ascending")])
    assert per.num_rows, "no term with 8-63 blocks"
    q = per["term"][0].as_py()
    cfg = dataclasses.replace(CONFIG, lexical_budget_postings=per["n_docs_sum"][0].as_py() // 4)

    exact = dict(bm25_topk_local(store, q, top_k=10_000, config=CONFIG))
    got = bm25_topk_local(store, q, top_k=10_000, config=cfg)
    assert 0 < len(got) < len(exact), "the budget did not cap the query"
    assert all(abs(score - exact[doc]) < 1e-12 for doc, score in got)
    spark_got = [
        (r["doc_ord"], r["bm25_score"])
        for r in bm25_topk(spark, store, q, 10_000, cfg).collect()
    ]
    assert [d for d, _ in spark_got] == [d for d, _ in got]
    assert all(abs(a[1] - b[1]) < 1e-12 for a, b in zip(spark_got, got))


def test_budget_ranges_caps_decoded_postings() -> None:
    from rifflux_spark.operators import wand

    rng = np.random.RandomState(5)
    n = 400
    terms = np.array(["a", "b"] * (n // 2))
    firsts = np.arange(n, dtype=np.int64) * 16
    lasts = firsts + 15
    ns = np.full(n, 16, dtype=np.int64)
    bound = rng.random(n)
    mask, ranges = wand.budget_ranges(terms, firsts, lasts, ns, bound, budget=160)
    # closure can overshoot by at most one group's worth of blocks
    assert 160 <= int(ns[mask].sum()) <= 160 + 2 * 16 * 2
    assert ranges
    docs = np.arange(0, n * 16, dtype=np.int64)
    inside = wand.mask_docs_to_ranges(docs, ranges)
    assert 0 < int(inside.sum()) < docs.size


def test_keyfilter_lanes_agree(spark, store, monkeypatch) -> None:
    """The distributed plan filters an over-budget query's selected
    blocks through one of two lanes: an In(...) literal (small key sets)
    or a broadcast left-semi join on (term, salt, block_seq) past
    _ISIN_KEY_MAX keys. Both lanes must yield the identical ranking and
    bit-identical scores. Both probes are over budget (the rare one under
    a 1-posting budget: one closure), so every run filters."""
    from rifflux_spark.operators import bm25 as bm25mod

    probes = (
        (_rare_query(spark, store), dataclasses.replace(CONFIG, lexical_budget_postings=1)),
        (_stopword_query(spark, store), BUDGET),
    )
    filtered = []
    real_filter = bm25mod._filter_blocks_by_keys

    def counting_filter(*args):
        filtered.append(len(list(args[-1])))
        return real_filter(*args)

    monkeypatch.setattr(bm25mod, "_filter_blocks_by_keys", counting_filter)

    def run():
        out = []
        for q, cfg in probes:
            rows = bm25mod.bm25_topk(spark, store, q, 10, cfg).collect()
            out.append([(r["doc_ord"], r["bm25_score"]) for r in rows])
        return out

    monkeypatch.setattr(bm25mod, "_ISIN_KEY_MAX", 10**9)
    via_isin = run()
    monkeypatch.setattr(bm25mod, "_ISIN_KEY_MAX", 0)
    via_semijoin = run()
    assert via_isin == via_semijoin
    assert all(via_isin), "a probe returned nothing"
    assert len(filtered) == 2 * len(probes) and all(filtered), filtered


def test_keyfilter_semijoin_lane_is_broadcast(spark, store, monkeypatch) -> None:
    """Past the key cap the filter must plan as a BROADCAST left-semi
    join (the key frame is tiny), never a shuffled join of the postings
    table. The test corpus is too small to cross the cap naturally, so
    force the lane; the plan shape is key-count-independent."""
    from rifflux_spark.operators import bm25 as bm25mod
    from tests.test_physical_plans import explain_str

    import numpy as np

    q = _stopword_query(spark, store)
    blocks = store.postings_for_terms(sorted(set(q.split())))
    rows = blocks.select("term", "salt", "block_seq").limit(400).collect()
    terms = np.array([r["term"] for r in rows])
    salts = np.array([int(r["salt"]) for r in rows], dtype=np.int64)
    seqs = np.array([int(r["block_seq"]) for r in rows], dtype=np.int64)
    assert len(rows) > 50, "probe found almost no blocks"
    monkeypatch.setattr(bm25mod, "_ISIN_KEY_MAX", 0)
    filtered = bm25mod._filter_blocks_by_keys(
        spark, blocks, terms, salts, seqs, range(len(rows))
    )
    plan = explain_str(filtered)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert filtered.count() == len(rows)


def test_prune_false_with_budget_matches_local_contract(spark, store) -> None:
    """With a budget, an over-budget query is capped identically on both
    engines; an under-budget query is a straight full scan on Spark —
    no block filter in its plan — mirroring the coordinator path's exact
    decode under the budget."""
    from rifflux_spark.operators import bm25 as bm25mod
    from rifflux_spark.operators.local_exec import bm25_topk_local, local_df

    over_q = _stopword_query(spark, store)
    under_q = _rare_query(spark, store)
    assert sum(local_df(store, sorted(set(over_q.split()))).values()) > BUDGET.lexical_budget_postings
    assert sum(local_df(store, sorted(set(under_q.split()))).values()) <= BUDGET.lexical_budget_postings

    for q in (over_q, under_q):
        got_local = bm25_topk_local(store, q, top_k=10, config=BUDGET)
        got_spark = [
            (r["doc_ord"], r["bm25_score"])
            for r in bm25mod.bm25_topk(spark, store, q, 10, BUDGET).collect()
        ]
        assert [d for d, _ in got_spark] == [d for d, _ in got_local], q
        assert all(
            abs(a[1] - b[1]) < 1e-9 for a, b in zip(got_spark, got_local)
        ), q

    # under budget: no block filter may be applied — the plan must be
    # the plain posting scan (no semi-join, no In on the synthetic key
    # column); over budget the key filter is there
    from tests.test_physical_plans import explain_str

    plan = explain_str(bm25mod.bm25_topk(spark, store, under_q, 10, BUDGET))
    assert "LeftSemi" not in plan and "concat_ws" not in plan
    plan = explain_str(bm25mod.bm25_topk(spark, store, over_q, 10, BUDGET))
    assert "LeftSemi" in plan or "concat_ws" in plan


def _selected(meta, sel):
    mask, ranges = sel
    keys = zip(
        meta.column("term").to_pylist(),
        meta.column("salt").to_pylist(),
        meta.column("block_seq").to_pylist(),
    )
    return {k for k, m in zip(keys, mask) if m}, ranges


def test_budget_selection_ignores_row_order(spark, store) -> None:
    """``selection_order`` breaks bound ties on (term, salt, block_seq),
    so permuting the metadata table's rows selects the same blocks and
    the same doc intervals — on the store's stopword-query blocks and on
    a synthetic table whose bounds all tie."""
    import pyarrow as pa

    from rifflux_spark.operators import wand
    from rifflux_spark.operators.local_exec import local_df, query_idf, read_postings

    q = _stopword_query(spark, store)
    terms = q.split()
    cstats = store.corpus_stats()
    idf = query_idf(terms, local_df(store, sorted(set(terms))), int(cstats["n_docs"]))
    real = read_postings(store, sorted(idf), wand.BLOCK_META_COLUMNS)
    n = 96
    tied = pa.table({
        "term": ["a", "b", "c"] * (n // 3),
        "salt": [i % 4 for i in range(n)],
        "block_seq": list(range(n)),
        "n_docs": [16] * n,
        "first_doc": [(i // 3) * 16 for i in range(n)],
        "last_doc": [(i // 3) * 16 + 15 for i in range(n)],
        "block_max_tf": [1] * n,
        "block_min_dl": [10] * n,
    })
    cases = (
        (real, idf, float(cstats["avgdl"]), BUDGET.lexical_budget_postings),
        (tied, {"a": 1.0, "b": 1.0, "c": 1.0}, 10.0, 200),
    )
    rng = np.random.RandomState(3)
    for meta, qidf, avgdl, budget in cases:
        base = wand.budget_selection(meta, qidf, avgdl, 1.2, 0.75, budget)
        assert base is not None, "probe not over budget"
        want = _selected(meta, base)
        assert 0 < len(want[0]) < meta.num_rows
        for _ in range(5):
            perm = meta.take(pa.array(rng.permutation(meta.num_rows)))
            assert _selected(perm, wand.budget_selection(perm, qidf, avgdl, 1.2, 0.75, budget)) == want


def _over_query_and_line(spark, store):
    """A stopword query, and a routing line between the budget and its
    Σdf: under the budget's cap the query fits, uncapped it does not."""
    from rifflux_spark.operators.local_exec import local_df

    q = _stopword_query(spark, store)
    sigma = sum(local_df(store, sorted(set(q.split()))).values())
    line = BUDGET.lexical_budget_postings
    assert sigma > line, "probe not over the line"
    return q, line


def test_budgeted_lexical_routes_to_coordinator_past_line(spark, store, monkeypatch) -> None:
    """Budget on: the route compares min(Σdf, budget), so a query whose
    Σdf is over LOCAL_EXEC_MAX_POSTINGS stays on the coordinator."""
    from rifflux_spark import service as service_mod

    q, line = _over_query_and_line(spark, store)
    monkeypatch.setattr(service_mod.SearchService, "LOCAL_EXEC_MAX_POSTINGS", line)

    def no_spark(*args, **kwargs):
        raise AssertionError("lexical query reached the distributed scorer")

    monkeypatch.setattr(service_mod, "bm25_topk", no_spark)
    svc = service_mod.SearchService(spark, store.root, BUDGET)
    assert svc.lexical(q, 10) == svc.lexical(q, 10, engine="local")


def test_exact_lexical_routes_to_spark_past_line(spark, store, monkeypatch) -> None:
    """Budget 0: the route compares Σdf, so the same query goes to Spark
    (and returns the coordinator's rows)."""
    from rifflux_spark import service as service_mod

    q, line = _over_query_and_line(spark, store)
    monkeypatch.setattr(service_mod.SearchService, "LOCAL_EXEC_MAX_POSTINGS", line)
    calls = []
    real = service_mod.bm25_topk

    def spy(*args, **kwargs):
        calls.append(kwargs.get("dfs"))
        return real(*args, **kwargs)

    monkeypatch.setattr(service_mod, "bm25_topk", spy)
    exact = dataclasses.replace(CONFIG, lexical_budget_postings=0)
    svc = service_mod.SearchService(spark, store.root, exact)
    got = svc.lexical(q, 10)
    # the routing dfs feed the distributed scorer
    assert len(calls) == 1 and calls[0], calls
    local = svc.lexical(q, 10, engine="local")
    assert [r["chunk_id"] for r in got] == [r["chunk_id"] for r in local]
    assert all(abs(a["bm25_score"] - b["bm25_score"]) < 1e-12 for a, b in zip(got, local))
