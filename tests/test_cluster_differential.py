"""Differential test of operators/cluster.py against a pure-Python
union-find: seeded random graphs mixing cliques, chains longer than
25 hops, stars, isolated pairs and non-contiguous ids. The
``(node, component)`` table and both dedup survivor sets must be
identical to the reference."""

from __future__ import annotations

import random

import pytest

from pdf2dataset_spark.operators import cluster as cl


def _random_graph(seed: int):
    """(edges, doc ids, quality per doc). Edge orientation is random,
    some edges repeat, and ids come from a sparse range so component
    labels are never positional."""
    rng = random.Random(seed)
    pool = iter(rng.sample(range(1, 10**12), 400))
    edges: list[tuple[int, int]] = []

    def take(n: int) -> list[int]:
        return [next(pool) for _ in range(n)]

    for _ in range(rng.randint(1, 3)):  # cliques
        c = take(rng.randint(3, 6))
        edges += [(a, b) for i, a in enumerate(c) for b in c[i + 1:]]
    for _ in range(rng.randint(1, 2)):  # chains of 26-34 hops
        c = take(rng.randint(27, 35))
        # smallest id at one end: its label must cross every hop
        i = c.index(min(c))
        c[0], c[i] = c[i], c[0]
        edges += list(zip(c, c[1:]))
    for _ in range(rng.randint(1, 3)):  # stars
        hub, *leaves = take(rng.randint(4, 9))
        edges += [(hub, leaf) for leaf in leaves]
    for _ in range(rng.randint(2, 5)):  # isolated pairs
        edges.append(tuple(take(2)))
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    edges += rng.sample(edges, 3)
    rng.shuffle(edges)
    nodes = {n for e in edges for n in e}
    docs = sorted(nodes | set(take(5)))  # plus docs in no pair
    # few distinct values, so quality ties are common
    quality = {d: float(rng.randint(0, 3)) for d in docs}
    return edges, docs, quality


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", range(3))
def test_components_and_dedup_match_union_find(spark, seed):
    edges, docs, quality = _random_graph(seed)
    comp = _union_find(edges)  # roots are component minima
    members: dict[int, list[int]] = {}
    for n, c in comp.items():
        members.setdefault(c, []).append(n)
    free = [d for d in docs if d not in comp]
    want_kept = sorted(free + list(members))
    want_best = sorted(
        free
        + [max(m, key=lambda d: (quality[d], -d)) for m in members.values()]
    )

    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    df = spark.createDataFrame(
        [(d, quality[d]) for d in docs], "doc_id long, quality double"
    )
    got = {
        r.node: r.component
        for r in cl.connected_components(pairs).collect()
    }
    assert got == comp
    kept = sorted(r.doc_id for r in cl.dedup_by_components(df, pairs).collect())
    assert kept == want_kept
    best = sorted(
        r.doc_id
        for r in cl.dedup_by_components_quality(df, pairs, "quality").collect()
    )
    assert best == want_best
