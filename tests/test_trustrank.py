"""Personalized PageRank / TrustRank: seeded teleport semantics —
unreachable nodes get exactly 0, mass stays bounded by scale, seeds
outside the graph are ignored, and an all-outside seed set raises."""

import pytest

from lib_gdal_spark.operators.graph import pagerank, personalized_pagerank
from lib_gdal_spark.session import local_df


def _edges(spark, pairs):
    return local_df(spark, [(int(u), int(v)) for u, v in pairs],
                    "u long, v long")


def _seeds(spark, ids):
    return local_df(spark, [(int(i),) for i in ids], "node long")


def test_unreachable_island_gets_zero(spark):
    # component A: 1 -> 2 -> 3 -> 1 (seeded); island B: 10 -> 11 -> 10
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)])
    out = {r["node"]: r for r in
           personalized_pagerank(e, _seeds(spark, [1])).collect()}
    assert out[1]["is_seed"] and out[1]["rank_units"] > 0
    assert out[2]["rank_units"] > 0 and out[3]["rank_units"] > 0
    assert out[10]["rank_units"] == 0
    assert out[11]["rank_units"] == 0
    total = sum(r["rank_units"] for r in out.values())
    assert 0 < total <= 10**12  # floor-division loss only


def test_uniform_seed_set_matches_plain_pagerank(spark):
    # seeding EVERY node reproduces plain pagerank exactly (same n, same
    # integer arithmetic) — the strongest cross-check of the shared core
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    all_nodes = _seeds(spark, [1, 2, 3, 4])
    pp = {r["node"]: r["rank_units"]
          for r in personalized_pagerank(e, all_nodes).collect()}
    pr = {r["node"]: r["rank_units"] for r in pagerank(e).collect()}
    assert pp == pr


def test_outside_seeds_ignored_and_all_outside_raises(spark):
    e = _edges(spark, [(1, 2), (2, 1)])
    # 999 is not a graph node: ignored, so this equals seeding {1} alone
    a = sorted(map(tuple,
                   personalized_pagerank(e, _seeds(spark, [1, 999])).collect()))
    b = sorted(map(tuple,
                   personalized_pagerank(e, _seeds(spark, [1])).collect()))
    assert a == b
    with pytest.raises(ValueError):
        personalized_pagerank(e, _seeds(spark, [999]))


def test_dangling_mass_returns_to_seeds(spark):
    # 1 -> 2, 2 dangling: every drop of 2's rank must flow back to the
    # seed (1), never to non-seed nodes; node 3 is reachable only from 2.
    e = _edges(spark, [(1, 2), (2, 3)])
    # make 3 dangling instead: 1 -> 2 -> 3, seed {1}
    out = {r["node"]: r["rank_units"] for r in
           personalized_pagerank(e, _seeds(spark, [1]), n_iters=8).collect()}
    # ranks decay along the chain; the dangling node keeps arriving mass
    assert out[1] > out[2] > 0
    assert out[3] > 0


def test_degree_stats_known_values(spark):
    from lib_gdal_spark.operators.graph import degree_stats

    # 4-leaf star (hub 0) plus one mutual pair 10<->11
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 10)])
    r = degree_stats(e).collect()[0]
    assert r["n_nodes"] == 7 and r["n_edges"] == 6
    assert r["reciprocity"] == round(2 / 6, 6)
    # star edges pair degree 4 with degree 1 (disassortative), the
    # mutual pair 1-with-1; overall r must be negative
    assert r["assortativity"] < 0

    # a clique triangle (all 6 directed edges) is perfectly reciprocal
    # and degree-regular: assortativity denominator is 0 -> NULL; the
    # operator surfaces NULL rather than a fake 0
    e2 = _edges(spark, [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)])
    r2 = degree_stats(e2).collect()[0]
    assert r2["reciprocity"] == 1.0
    assert r2["assortativity"] is None


def test_kcore_cascade_peeling(spark):
    from lib_gdal_spark.operators.graph import kcore

    # K4 on {1,2,3,4} (degree 3 each) with a pendant chain 4-5-6: the
    # chain peels first, and the 2-core keeps exactly the K4 (degree 3).
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    e = _edges(spark, k4 + [(4, 5), (5, 6)])
    out = {r["node"]: r["core_deg"] for r in kcore(e, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # cascade: a tail 4-5, 5-6, 6-7 where each node depends on the next;
    # with k=2 the whole tail peels node by node (3 cascade rounds) but
    # the K4 core survives
    e2 = _edges(spark, k4 + [(4, 5), (5, 6), (6, 7)])
    out2 = {r["node"]: r["core_deg"] for r in kcore(e2, k=2).collect()}
    assert set(out2) == {1, 2, 3, 4}
    # empty core when k exceeds the densest degree
    assert kcore(e, k=4).count() == 0
    # distributed peel path (driver_threshold=0 disables the local
    # short-circuit) must agree with the driver peel exactly
    outd = {r["node"]: r["core_deg"]
            for r in kcore(e2, k=2, driver_threshold=0).collect()}
    assert outd == out2


def test_spam_mass_separates_island_from_trusted(spark):
    from lib_gdal_spark.operators.graph import spam_mass

    # trusted hub 1 endorses 2 and 3; spam island {10, 11} endorses
    # itself and pumps rank into target 12, unreachable from the seed
    e = _edges(spark, [(1, 2), (2, 3), (3, 1),
                       (10, 11), (11, 10), (10, 12), (11, 12)])
    seeds = spark.createDataFrame([(1,)], "node long")
    rows = {r["node"]: r for r in spam_mass(e, seeds).collect()}
    assert rows[1]["is_seed"] and not rows[12]["is_seed"]
    # the island receives zero trust -> rel_mass exactly 1
    for n in (10, 11, 12):
        assert rows[n]["tr_units"] == 0 and rows[n]["rel_mass"] == 1.0
    # the trusted neighborhood as a whole holds more trust than
    # pagerank gives it (per-node signs rotate with the 3-cycle under
    # finite iterations, so only the component sum is invariant)
    assert sum(rows[n]["mass_units"] for n in (1, 2, 3)) < 0
    # exactness: units columns reconcile by construction
    for r in rows.values():
        assert r["mass_units"] == r["pr_units"] - r["tr_units"]


def test_ktruss_cascade_peeling(spark):
    from lib_gdal_spark.operators.graph import ktruss

    # K5: every edge closes 3 triangles -> the 5-truss keeps all 10
    # edges with support 3; the 6-truss cascades to empty
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    e = _edges(spark, k5)
    out = {(r["u"], r["v"]): r["support"] for r in ktruss(e, k=5).collect()}
    assert out == {(a, b): 3 for a, b in k5}
    assert ktruss(e, k=6).count() == 0

    # K5 minus edge (0,1): edges touching 0 or 1 have support 2, edges
    # among {2,3,4} support 3. k=5 (support>=3) peels the support-2
    # edges first, which drops the {2,3,4} triangle to support 1 ->
    # cascades to empty over 3 rounds. k=4 keeps everything.
    k5m = [p for p in k5 if p != (0, 1)]
    e2 = _edges(spark, k5m)
    assert ktruss(e2, k=5).count() == 0
    out4 = {(r["u"], r["v"]): r["support"]
            for r in ktruss(e2, k=4).collect()}
    assert len(out4) == 9 and out4[(2, 3)] == 3 and out4[(0, 2)] == 2

    # chained triangles share vertices but no edges: support 1 each,
    # so the 3-truss keeps them and the 4-truss drops them
    chain = []
    for i in range(4):
        b = 10 + 2 * i
        chain += [(b, b + 1), (b + 1, b + 2), (b, b + 2)]
    e3 = _edges(spark, chain)
    assert ktruss(e3, k=3).count() == 12
    assert ktruss(e3, k=4).count() == 0

    # forced-distributed rounds must agree with the driver peel exactly
    mixed = _edges(spark, k5m + chain)
    loc = sorted(tuple(r) for r in ktruss(mixed, k=4).collect())
    dist = sorted(tuple(r) for r in
                  ktruss(mixed, k=4, driver_threshold=0).collect())
    assert loc == dist and len(loc) == 9
