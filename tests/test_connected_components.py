"""connected_components (alternating large/small star) vs a plain
union-find oracle, on shapes that break naive propagation: long chains
(diameter >> rounds), multi-clique unions, singletons-by-omission."""

from __future__ import annotations

from pyspark.sql import functions as F

from rifflux_spark.operators.dedup import connected_components, dedup_clusters


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component minimum
    comp: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp[n] = min(comp.get(r, r), r)
    return {n: find(n) for n in parent}


def test_chain_collapses_to_min(spark) -> None:
    edges = [(i, i + 1) for i in range(40)]
    got = _labels(spark, edges)
    assert got == {i: 0 for i in range(41)}


def test_two_cliques_and_a_pair(spark) -> None:
    cliq1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    pair = [(100, 200)]
    got = _labels(spark, cliq1 + cliq2 + pair)
    assert all(got[i] == 0 for i in range(5))
    assert all(got[i] == 10 for i in range(10, 14))
    assert got[100] == 100 and got[200] == 100


def test_matches_union_find_on_pseudorandom_graph(spark) -> None:
    # deterministic pseudo-random sparse graph over 120 nodes
    edges = []
    x = 1
    for _ in range(150):
        x = (x * 48271) % 2147483647
        a = x % 120
        x = (x * 48271) % 2147483647
        b = x % 120
        if a != b:
            edges.append((a, b))
    assert _labels(spark, edges) == _union_find(edges)


def test_reversed_and_duplicate_edges(spark) -> None:
    edges = [(2, 1), (1, 2), (2, 1), (3, 2), (7, 9)]
    got = _labels(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_empty_pairs(spark) -> None:
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).collect() == []


def test_driver_and_star_paths_agree(spark) -> None:
    """The size-adaptive driver closure (default for ≤ driver_max_edges)
    and the distributed star rounds (forced with driver_max_edges=0)
    must label identically on every shape above — same min-id contract."""
    shapes = [
        [(i, i + 1) for i in range(40)],
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(100, 200)],
        [(2, 1), (1, 2), (2, 1), (3, 2), (7, 9)],
    ]
    for edges in shapes:
        assert _labels(spark, edges) == _labels(spark, edges, driver_max_edges=0)


def test_driver_path_closes_shuffled_chain_within_round_cap(spark) -> None:
    """A long chain whose node ids are shuffled along it (dedup pairs carry
    arbitrary doc ids) has diameter n: the driver closure must still
    converge inside its 2*ceil(log2 n)+4 round cap instead of raising."""
    import random

    n = 20_000
    ids = list(range(n))
    random.Random(5).shuffle(ids)
    edges = list(zip(ids[:-1], ids[1:]))
    got = _labels(spark, edges)
    assert len(got) == n
    assert set(got.values()) == {0}


def test_dedup_clusters_flags_one_canonical_per_cluster(spark) -> None:
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base),
        (2, base + " tail"),          # near-dup of 1
        (3, base + " other tail"),    # near-dup of 1 and 2
        (50, "completely different text about spark physical plans " * 8),
        (51, "completely different text about spark physical plans " * 8 + " x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_clusters(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["component"] == 1 and by_id[1]["is_canonical"]
    assert by_id[2]["component"] == 1 and not by_id[2]["is_canonical"]
    assert by_id[3]["component"] == 1 and by_id[3]["cluster_size"] == 3
    assert by_id[50]["is_canonical"] and by_id[51]["component"] == 50
    # every cluster has exactly one canonical row
    canon = {}
    for r in out:
        canon.setdefault(r["component"], 0)
        canon[r["component"]] += int(r["is_canonical"])
    assert all(v == 1 for v in canon.values())
