"""Tests for the round-3 pipeline additions: k-means / SemDeDup,
Bloom membership, line dedup."""

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


def _docs(spark, n=60):
    rows = [(i, f"src{i % 3}", "w%d " % i * ((i % 7) + 1))
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_bloom_membership_no_false_negatives(spark):
    from lib_gdal_spark.operators import dedup as DD

    bl_rows = [(i, f"blocked document number {i} with unique text") for i
               in range(50)]
    # candidates: 50 exact copies of blocklist texts + 500 novel texts
    cand_rows = [(1000 + i, t) for i, (_, t) in enumerate(bl_rows)] + [
        (2000 + i, f"novel candidate {i} never blocked") for i in range(500)
    ]
    bl = spark.createDataFrame(bl_rows, "doc_id long, text string")
    cand = spark.createDataFrame(cand_rows, "doc_id long, text string")
    out = {r["doc_id"]: r["bloom_hit"]
           for r in DD.bloom_membership(cand, bl).collect()}
    # every true member flagged (no false negatives, the Bloom guarantee)
    assert all(out[1000 + i] for i in range(50))
    # false-positive rate tiny at n=150 bits set in m=2^20
    fps = sum(out[2000 + i] for i in range(500))
    assert fps == 0


def test_bloom_membership_validations(spark):
    from lib_gdal_spark.operators import dedup as DD

    d = _docs(spark, 5)
    try:
        DD.bloom_membership(d, d, m_bits=1000)
        raise AssertionError("non-power-of-two m_bits accepted")
    except ValueError:
        pass
    try:
        DD.bloom_membership(d, d, m_bits=1 << 30)
        raise AssertionError("k*log2(m) > 64 accepted")
    except ValueError:
        pass


def test_line_dedup_first_occurrence_kept(spark):
    from lib_gdal_spark.operators import dedup as DD

    rows = [
        (1, "alpha beta\ncommon line\ngamma"),
        (2, "common line\ndelta\n\nepsilon"),   # dup of doc 1 line + blank
        (3, "common line\ndelta"),              # everything a duplicate
        (4, "  Common Line \nzeta"),            # normalization: trim+lower
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.line_dedup(d).collect()}
    assert out[1]["text"] == "alpha beta\ncommon line\ngamma"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    # doc 2 loses "common line", keeps the blank separator
    assert out[2]["text"] == "delta\n\nepsilon"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 3)
    # doc 3 is entirely duplicates -> empty text, zero kept
    assert out[3]["text"] == ""
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (2, 0)
    # doc 4's first line normalizes to "common line" -> dropped
    assert out[4]["text"] == "zeta"


def test_line_dedup_min_chars_exemption(spark):
    from lib_gdal_spark.operators import dedup as DD

    rows = [(1, "aa\nbb\naa"), (2, "aa\nbb")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # min_chars=3 exempts every 2-char line: nothing is deduped
    out = {r["doc_id"]: r["text"]
           for r in DD.line_dedup(d, min_chars=3).collect()}
    assert out == {1: "aa\nbb\naa", 2: "aa\nbb"}
    # default dedups within AND across docs
    out2 = {r["doc_id"]: r["text"] for r in DD.line_dedup(d).collect()}
    assert out2 == {1: "aa\nbb\naa".replace("\naa", "") , 2: ""}
