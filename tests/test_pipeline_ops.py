"""Tests for k-means and SemDeDup."""

import numpy as np
import pandas as pd

from lib_gdal_spark.operators import cluster as CL


def _vecs(spark, arrs, ids=None):
    ids = list(range(len(arrs))) if ids is None else ids
    pdf = pd.DataFrame({
        "vec_id": ids,
        "embedding": [np.asarray(a, dtype=np.float32) for a in arrs],
    })
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def test_kmeans_separated_clusters(spark):
    """Three well-separated blobs -> three pure clusters; exact zero
    distance for points equal to the final (mean) centroid."""
    rng = np.random.default_rng(0)
    centers = [[10, 0, 0], [0, 10, 0], [0, 0, 10]]
    # interleave blobs (id % 3 = blob) so the min-id init seeds all three
    blobs = [np.array(centers[i % 3], dtype=float) + rng.normal(0, 0.1, 3)
             for i in range(30)]
    out = CL.kmeans(_vecs(spark, blobs), k=3, iters=4).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], set()).add(r["vec_id"] % 3)
    # each cluster contains exactly one blob
    assert all(len(v) == 1 for v in by_cid.values()) and len(by_cid) == 3


def test_kmeans_parallelism_invariant(spark):
    """Identical assignment at 1 and 16 input partitions — the integer
    arithmetic makes the iteration order-independent (the property float
    k-means does NOT have)."""
    rng = np.random.default_rng(1)
    arrs = [rng.normal(0, 1, 8) for _ in range(120)]
    base = _vecs(spark, arrs)
    a = CL.kmeans(base.coalesce(1), k=5, iters=3).collect()
    b = CL.kmeans(base.repartition(16), k=5, iters=3).collect()
    assert (sorted((r["vec_id"], r["cid"], r["dist2"]) for r in a)
            == sorted((r["vec_id"], r["cid"], r["dist2"]) for r in b))


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k=3 over two tight blobs: one init centroid (two lowest-id points
    are in the same blob) empties out and must keep its previous
    position without crashing."""
    arrs = ([[0.0, 0.0], [0.001, 0.0]]          # ids 0,1 -> same blob
            + [[5.0, 5.0]] * 5 + [[0.0, 0.0]] * 3)
    out = CL.kmeans(_vecs(spark, arrs), k=3, iters=3).collect()
    assert len(out) == 10 and len({r["cid"] for r in out}) >= 2


def test_semantic_dedup_flags_lower_id_neighbor(spark):
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.99, 0.01, 0.0, 0.0]      # cos(a,b) ~ 0.99995
    c = [0.0, 1.0, 0.0, 0.0]        # orthogonal
    out = {r["vec_id"]: r.asDict() for r in CL.semantic_dedup(
        _vecs(spark, [a, b, c]), k=2, iters=2, threshold=0.9).collect()}
    assert out[0]["keep"] and not out[1]["keep"] and out[1]["n_dups"] == 1
    assert out[2]["keep"] and out[2]["n_dups"] == 0
