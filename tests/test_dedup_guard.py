"""Hot-shingle blow-up guard for exact n-gram Jaccard (VERDICT r2 #7)."""

import inspect

import pandas as pd

from lib_gdal_spark.operators import dedup as DD


def test_default_cap_is_finite():
    sig = inspect.signature(DD.ngram_jaccard_pairs)
    assert sig.parameters["max_doc_freq"].default is not None


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        schema="doc_id long, text string",
    )


def test_hot_shingle_capped(spark):
    """A shingle shared by every doc is dropped once its doc-frequency
    exceeds the cap, so the m^2 candidate explosion never materializes;
    genuinely-similar pairs still surface through their other shingles."""
    hot = "the quick brown fox jumps"
    texts = [f"{hot} unique{i} filler{i} words{i} here{i} now{i}"
             for i in range(12)]
    # two real near-dups sharing much more than the hot prefix
    texts.append("alpha beta gamma delta epsilon zeta eta theta iota kappa")
    texts.append("alpha beta gamma delta epsilon zeta eta theta iota kappa x")
    docs = _docs(spark, texts)

    capped = DD.ngram_jaccard_pairs(
        docs, shingle=3, threshold=0.5, max_doc_freq=5
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (12, 13) in got
    # the 12 hot-prefix docs share ONLY capped shingles -> no pair emitted
    assert all(a >= 12 for a, b in got)

    uncapped = DD.ngram_jaccard_pairs(
        docs, shingle=3, threshold=0.5, max_doc_freq=None
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in uncapped} >= got


def test_minhash_lsh_unpersists(spark):
    """minhash_lsh_pairs must not leave its signature cache behind."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    texts = ["common text body number %d with shared shingles" % (i % 3)
             for i in range(30)]
    DD.minhash_lsh_pairs(_docs(spark, texts), threshold=0.5).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the localCheckpoint RDD of the *result* may persist until GC, but the
    # signature cache itself must be gone (net growth <= 1 checkpoint RDD)
    assert after - before <= 1


def test_canonical_url(spark):
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://WWW.Example.com:80/Path/?utm_source=x&q=1#frag",
         "http://example.com/Path/?q=1"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a?utm_campaign=z", "https://example.com/a"),
        ("https://example.com/a?fbclid=abc&q=2&utm_x=1",
         "https://example.com/a?q=2"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "u string")
    got = [r["c"] for r in
           df.select(DD.canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [c[1] for c in cases], got


def test_dedup_by_canonical_url(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("http://www.a.com/x?utm_source=1", t0, "first"),
        ("http://a.com/x", t0 + datetime.timedelta(hours=1), "dup-later"),
        ("http://b.com/y", t0, "other"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, tag string")
    out = DD.dedup_by_canonical_url(df)
    got = {r["__canon"]: r["tag"] for r in out.collect()}
    assert got == {"http://a.com/x": "first", "http://b.com/y": "other"}


def test_decontaminate_flags_overlap(spark):
    from lib_gdal_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here nothing shared at all"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox runs fast")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict()
           for r in decontaminate(train, bench, n=3).collect()}
    # doc 1 shares exactly the 3-gram "quick brown fox"
    assert out[1]["contaminated"] and out[1]["n_contaminated"] == 1
    assert out[1]["n_grams"] == 7  # 9 tokens -> 7 trigrams, all distinct
    assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0
    # doc 3 has < n tokens -> collapses to one whole-doc gram, clean
    assert out[3]["n_grams"] == 1 and not out[3]["contaminated"]


def test_fuzzy_dedup_clusters_min_id(spark):
    from lib_gdal_spark.operators.dedup import fuzzy_dedup

    base = ("spark shuffles keyed rows between executors during wide "
            "transformations like joins and aggregations at scale")
    variant = base + " today"
    rows = [(10, base), (11, variant), (12, base),
            (50, "an entirely different document about raster pyramids "
                 "overview levels and resampling kernels with no overlap")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in fuzzy_dedup(df, threshold=0.5).collect()}
    # 10/11/12 form one cluster canonicalized to min id 10; 50 is absent
    assert set(out) == {10, 11, 12}
    assert all(out[i]["canonical_id"] == 10 for i in (10, 11, 12))
    assert all(out[i]["cluster_size"] == 3 for i in (10, 11, 12))
    assert out[10]["keep"] and not out[11]["keep"] and not out[12]["keep"]


def test_simhash_pairs_matches_bruteforce(spark):
    """Pigeonhole block-join candidates find EXACTLY the brute-force
    Hamming<=k pair set (Manku 2007 completeness bound)."""
    import numpy as np

    texts = []
    base = ("spark executes wide transformations by shuffling keyed rows "
            "between executors partitioned by the exchange hash").split()
    for i in range(40):
        toks = list(base)
        # perturb a few tokens so fingerprints land at varied distances
        for j in range(i % 5):
            toks[(3 * j + i) % len(toks)] = f"tok{i}_{j}"
        texts.append(" ".join(toks))
    texts += ["completely different subject matter about raster pyramids",
              "completely different subject matter about raster pyramids"]
    docs = _docs(spark, texts)

    for k in (0, 3):
        got = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in DD.simhash_pairs(docs, k=k).collect()}
        fp = {r["doc_id"]: np.uint64(r["simhash"])
              for r in DD.simhash64(docs).collect()}
        ids = sorted(fp)
        want = set()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                h = int(bin(int(fp[ids[x]] ^ fp[ids[y]])).count("1"))
                if h <= k:
                    want.add((ids[x], ids[y], h))
        assert got == want, (k, got ^ want)
    assert want, "test corpus produced no close pairs at k=3"


def test_simhash_pairs_hot_block_cap(spark):
    """A block value shared by more docs than the cap is dropped from
    candidate generation (no freq^2 blow-up); identical docs share every
    block so a tiny cap suppresses their pairs entirely."""
    docs = _docs(spark, ["identical body of text repeated verbatim"] * 8)
    assert DD.simhash_pairs(docs, k=0, max_block_freq=4).count() == 0
    assert DD.simhash_pairs(docs, k=0, max_block_freq=100).count() == 28


def test_simhash_pairs_param_guard(spark):
    import pytest

    docs = _docs(spark, ["a"])
    with pytest.raises(ValueError):
        DD.simhash_pairs(docs, k=4, n_blocks=4)
    with pytest.raises(ValueError):
        DD.simhash_pairs(docs, n_blocks=5)


def test_remove_repeated_windows(spark):
    """Cross-doc 4-token windows are cut from ALL docs sharing them;
    within-doc repeats alone don't trigger; short docs pass through."""
    docs = _docs(spark, [
        "alpha beta gamma delta unique0 tail0",      # shares a b g d with doc1
        "head1 alpha beta gamma delta tail1",
        "solo solo solo solo solo solo",             # within-doc repeat only
        "tiny doc",                                  # shorter than window
    ])
    out = {r["doc_id"]: r.asDict()
           for r in DD.remove_repeated_windows(docs, length=4).collect()}
    assert out[0]["clean_text"] == "unique0 tail0" and out[0]["n_removed"] == 4
    assert out[1]["clean_text"] == "head1 tail1" and out[1]["n_removed"] == 4
    # doc 2: windows repeat within one doc only -> min_docs=2 not met
    assert out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == "tiny doc" and out[3]["n_removed"] == 0


def test_remove_repeated_windows_overlap_merge(spark):
    """Overlapping duplicated windows merge into one contiguous cut span."""
    shared = "w1 w2 w3 w4 w5"  # two overlapping 4-windows, both duplicated
    docs = _docs(spark, [f"pre {shared} postA", f"{shared} postB"])
    out = {r["doc_id"]: r.asDict()
           for r in DD.remove_repeated_windows(docs, length=4).collect()}
    # output tokens are lowercased (normalization happens before hashing)
    assert out[0]["clean_text"] == "pre posta" and out[0]["n_removed"] == 5
    assert out[1]["clean_text"] == "postb" and out[1]["n_removed"] == 5
