"""Triangle counting."""

import itertools

from lib_gdal_spark.operators.graph import triangle_counts
from lib_gdal_spark.session import local_df


def _brute_triangles(edges):
    adj = {}
    es = set()
    for u, v in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        es.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if ((a, b) in es and (b, c) in es and (a, c) in es):
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangles_k5(spark):
    # complete graph on 5 nodes: every vertex is in C(4,2) = 6 triangles
    edges = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    out = triangle_counts(local_df(spark, edges, "u long, v long"))
    got = {r["node"]: r["triangles"] for r in out.collect()}
    assert got == {n: 6 for n in range(5)}


def test_triangles_matches_bruteforce(spark):
    # deterministic pseudo-random multigraph with dup/reversed/self edges
    edges = [((i * 7 + 3) % 23, (i * 13 + 5) % 23) for i in range(140)]
    edges += [(v, u) for u, v in edges[:30]] + [(4, 4), (9, 9)]
    out = triangle_counts(local_df(spark, edges, "u long, v long"))
    got = {r["node"]: r["triangles"] for r in out.collect()}
    assert got == _brute_triangles(edges)


def test_triangles_hub_skew(spark):
    # star hub (no triangles through the hub alone) + one attached triangle
    edges = [(0, i) for i in range(1, 40)] + [(1, 2)]
    out = triangle_counts(local_df(spark, edges, "u long, v long"))
    got = {r["node"]: r["triangles"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 1}
