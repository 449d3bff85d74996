"""Connected components: known graphs + convergence of the
alternating large-star/small-star algorithm (O(log n) rounds,
diameter-independent — the path q_dedup_components uses).
"""

from __future__ import annotations

import pytest

from remediner_spark.operators.components import connected_components_star

# one implementation, parametrized so the test ids name it
IMPLS = [connected_components_star]


def _components(spark, pairs, impl=connected_components_star, **kw):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    out = impl(df, **kw).toPandas()
    return {r.vertex: r.component for r in out.itertuples(index=False)}


@pytest.mark.parametrize("impl", IMPLS)
def test_two_components(spark, impl):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)], impl)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@pytest.mark.parametrize("impl", IMPLS)
def test_chain_converges_to_min(spark, impl):
    # long chain: min label must propagate the full diameter
    chain = [(i, i + 1) for i in range(1, 12)]
    got = _components(spark, chain, impl)
    assert set(got.values()) == {1}
    assert len(got) == 12


@pytest.mark.parametrize("impl", IMPLS)
def test_cycle_and_bridge(spark, impl):
    got = _components(spark, [(5, 6), (6, 7), (7, 5), (7, 2)], impl)
    assert set(got.values()) == {2}


def test_star_raises_past_max_iter(spark):
    """Two star rounds cannot contract a 50-hop chain: returning the
    unconverged labels would silently mislabel components, so it must
    raise."""
    chain = [(i, i + 1) for i in range(1, 51)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(spark, chain, connected_components_star, max_iter=2)


def test_star_converges_where_propagation_cannot(spark):
    """A 50-hop chain needs 50 label-propagation rounds, but converges
    in O(log n) star rounds — well under 20 — and labels every vertex
    with the chain minimum."""
    chain = [(i, i + 1) for i in range(1, 51)]
    got = _components(
        spark, chain, connected_components_star, max_iter=20
    )
    assert set(got.values()) == {1}
    assert len(got) == 51


@pytest.mark.parametrize("impl", IMPLS)
def test_random_graph_implementations_agree(spark, impl):
    """The min-id component labeling on a seeded random graph (checked
    against a driver-side union-find)."""
    import random

    rng = random.Random(7)
    pairs = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(45)
    ]
    pairs = [(a, b) for a, b in pairs]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {v: find(v) for v in parent}

    got = _components(spark, pairs, impl)
    assert got == want


def test_star_vs_unionfind_randomized(spark):
    """Property coverage beyond the single seeded graph: many random
    graph shapes (sparse, dense, chain-heavy) against the union-find
    referee, one Spark call per batch of graphs via disjoint vertex
    offsets (hypothesis + Spark per-example would be minutes)."""
    import random

    cases = []
    rng = random.Random(1234)
    offset = 0
    for shape in range(12):
        n = rng.randrange(2, 40)
        m = rng.randrange(1, 60)
        if shape % 3 == 0:  # chain-heavy: long diameter
            pairs = [(offset + i, offset + i + 1) for i in range(n - 1)]
        else:
            pairs = [
                (offset + rng.randrange(n), offset + rng.randrange(n))
                for _ in range(m)
            ]
        cases.extend(pairs)
        offset += n + 5  # gap keeps graphs disjoint

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cases:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    got = _components(spark, cases, connected_components_star, max_iter=60)
    assert got == want


def test_khop_min_distance_hand_graph(spark, monkeypatch):
    """BFS min-dist on a hand-built graph: chain 0-1-2-3-4 plus a
    shortcut 0-3; distances must take the shortcut and cap at K."""
    import pandas as pd
    from pyspark.sql import functions as F

    import remediner_spark.operators.components as C

    pairs = pd.DataFrame(
        {"doc_a": [0, 1, 2, 3, 0], "doc_b": [1, 2, 3, 4, 3]}
    )

    def fake_pairs(spark_, sf_dir):
        return spark.createDataFrame(pairs).select(
            F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
        )

    import remediner_spark.operators.dedup as D

    monkeypatch.setattr(D, "q_dedup_ngram_jaccard", fake_pairs)
    monkeypatch.setattr(C, "KHOP_SOURCES", 1)  # source = node 0 only
    out = C.q_graph_khop(spark, "").toPandas()
    got = {
        (r.src, r.node): r.dist for r in out.itertuples(index=False)
    }
    assert got == {
        (0, 0): 0,
        (0, 1): 1,
        (0, 3): 1,  # shortcut beats the 3-hop chain path
        (0, 2): 2,
        (0, 4): 2,  # via the shortcut, not 4 hops
    }
