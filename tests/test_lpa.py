"""LPA community detection: planted-block recovery, determinism under
repartitioning, and the contrast with connected components."""

from pyspark.sql import functions as F

from lib_gdal_spark.operators.components import connected_components
from lib_gdal_spark.operators.graph import lpa_communities
from lib_gdal_spark.session import local_df


def _planted(spark, n_blocks=5, size=20):
    n = n_blocks * size
    r = spark.range(0, n)
    blk = F.floor(F.col("id") / size)
    e = None
    for d in (1, 2, 3, 4):
        ed = r.select(F.col("id").alias("u"),
                      (blk * size + (F.col("id") + d) % size).alias("v"))
        e = ed if e is None else e.unionByName(ed)
    bridges = r.where(F.col("id") % size == 0).select(
        F.col("id").alias("u"), ((F.col("id") + size) % n).alias("v"))
    return e.unionByName(bridges), n_blocks, size


def test_recovers_planted_blocks_where_cc_sees_one(spark):
    edges, n_blocks, size = _planted(spark)
    out = {r["node"]: r["community"]
           for r in lpa_communities(edges).collect()}
    # exactly one community per block, and it is block-pure
    per_block = {}
    for node, comm in out.items():
        per_block.setdefault(node // size, set()).add(comm)
    assert all(len(s) == 1 for s in per_block.values())
    assert len({next(iter(s)) for s in per_block.values()}) == n_blocks
    # the bridge ring makes the whole graph ONE connected component
    cc = connected_components(edges)
    n_comp = cc.agg(F.countDistinct("component")).first()[0]
    assert n_comp == 1


def test_partitioning_invariant(spark):
    edges, _, _ = _planted(spark)
    a = sorted(map(tuple, lpa_communities(edges).collect()))
    b = sorted(map(tuple, lpa_communities(edges.repartition(13)).collect()))
    assert a == b


def test_two_triangles_one_bridge(spark):
    # triangles {1,2,3} and {10,11,12} joined by 3-10: each triangle is
    # its own community labeled by its minimum
    e = local_df(spark, [(1, 2), (2, 3), (3, 1),
                         (10, 11), (11, 12), (12, 10), (3, 10)],
                 "u long, v long")
    out = {r["node"]: r["community"] for r in lpa_communities(e).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != 1
