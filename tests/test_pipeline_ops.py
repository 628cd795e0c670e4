"""Tests for the round-3 pipeline additions: k-means / SemDeDup,
TF-IDF, PII redaction, Bloom membership, line dedup."""

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lib_gdal_spark.operators import cluster as CL
from lib_gdal_spark.operators import textops as TX


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


def test_tfidf_hand_case(spark):
    d = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "cherry")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): r for r in
           TX.tfidf_top_terms(d, k=2).collect()}
    idf_apple = math.log(4.0 / 2.0) + 1.0     # df=1 -> ln((3+1)/(1+1))+1
    assert abs(out[(0, "apple")]["tfidf"] - round(2 * idf_apple, 6)) < 1e-9
    assert out[(0, "apple")]["rank"] == 1
    # banana appears in 2 docs -> lower idf than apple
    assert out[(0, "banana")]["rank"] == 2


def test_redact_pii_all_categories(spark):
    d = spark.createDataFrame([(0,
        "mail a.b-c@x-y.org ip 10.0.0.255 card 4111-1111-1111-1111 "
        "ssn 078-05-1120 call +44 201 555 0199 done")],
        "doc_id long, text string")
    r = TX.redact_pii(d).first()
    assert (r["n_email"], r["n_ip"], r["n_card"], r["n_ssn"], r["n_phone"]) \
        == (1, 1, 1, 1, 1)
    assert r["redacted"] == ("mail <EMAIL> ip <IP> card <CARD> "
                             "ssn <SSN> call <PHONE> done")
    clean = TX.redact_pii(
        spark.createDataFrame([(1, "no pii here")], "doc_id long, text string")
    ).first()
    assert clean["redacted"] == "no pii here" and clean["n_email"] == 0


def test_ngram_lm_perplexity_hand_case(spark):
    """Hand-computed add-0.5 bigram LM: C1 = {a:3, b:3, z:2, only:1},
    V = 4 (k*V = 2), C2 = {(a,b):3, (b,a):1, (z,z):1}."""
    d = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "z z"), (3, "only")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in TX.ngram_lm_perplexity(d, k=0.5).collect()}
    q_ab = round(math.log(3.5 / 5.0) * 1e6)          # P(b|a)
    q_ba = round(math.log(1.5 / 5.0) * 1e6)          # P(a|b)
    q_zz = round(math.log(1.5 / 4.0) * 1e6)          # P(z|z)
    h0 = round(-(2 * q_ab + q_ba) / 3e6, 6)
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["cross_entropy"] - h0) < 1e-12
    assert abs(out[0]["ppl"] - round(math.exp(h0), 6)) < 1e-12
    assert abs(out[2]["cross_entropy"] - round(-q_zz / 1e6, 6)) < 1e-12
    assert out[3]["n_bigrams"] == 0 and out[3]["cross_entropy"] is None


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


def test_nb_classifier_separable_and_deterministic(spark):
    rows = (
        [(i, "good clean prose sentence", True) for i in range(20)]
        + [(100 + i, "spam junk casino pills", False) for i in range(20)]
        + [(200, "good clean prose", None),      # unlabeled, pos-ish
           (201, "casino pills spam", None),     # unlabeled, neg-ish
           (202, "", None)]                      # empty -> bare prior
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    out = {r["doc_id"]: r
           for r in TX.nb_classifier(d, F.col("y")).collect()}
    assert all(out[i]["pred_pos"] for i in range(20))
    assert not any(out[100 + i]["pred_pos"] for i in range(20))
    assert out[200]["pred_pos"] and not out[201]["pred_pos"]
    assert out[202]["n_grams"] == 0
    # empty doc scores exactly the prior: ln(21) - ln(21) = 0 -> not > 0
    assert out[202]["log_odds"] == 0.0 and not out[202]["pred_pos"]
    # exact integer math: identical at any parallelism
    out2 = {r["doc_id"]: r["log_odds"] for r in
            TX.nb_classifier(d.repartition(13), F.col("y")).collect()}
    assert out2 == {k: v["log_odds"] for k, v in out.items()}
