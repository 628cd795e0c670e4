"""Toponym resolution (operators/toponym.py) on a hand-built fixture."""

import pandas as pd

from lib_gdal_spark.operators import toponym as T


def _gaz(spark):
    return spark.createDataFrame(pd.DataFrame({
        "place": ["paris", "berlin", "quito"],
        "lat": [48.85, 52.52, -0.18],
        "lon": [2.35, 13.40, -78.47],
        "pop": [2100000, 3600000, 1800000],
    }))


def test_population_prior_wins(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "flew from paris to berlin via paris",   # berlin: bigger pop
            "quito quito quito",                      # only quito
            "no places here at all",                  # no match -> dropped
        ],
    }))
    out = (T.toponym_resolve(docs, _gaz(spark))
           .orderBy("doc_id").toPandas())
    assert list(out["doc_id"]) == [1, 2]
    assert list(out["place"]) == ["berlin", "quito"]
    assert list(out["n_mentions"]) == [3, 3]
    assert list(out["n_places"]) == [2, 1]


def test_tie_breaks_on_place_name(spark):
    gaz = spark.createDataFrame(pd.DataFrame({
        "place": ["zeta", "alpha"],
        "lat": [1.0, 2.0], "lon": [3.0, 4.0],
        "pop": [500, 500],
    }))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [7], "text": ["zeta alpha zeta"],
    }))
    out = T.toponym_resolve(docs, gaz).toPandas()
    assert list(out["place"]) == ["alpha"]   # pop tie -> name asc


def test_corpus_gazetteer_deterministic_and_selective(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(6)),
        "text": ["spark window table scan merge batch value stream"] * 6,
    }))
    g1 = T.corpus_gazetteer(docs).orderBy("place").toPandas()
    g2 = T.corpus_gazetteer(docs).orderBy("place").toPandas()
    pd.testing.assert_frame_equal(g1, g2)
    vocab = {w for w in "spark window table scan merge batch value stream"
             .split() if len(w) >= 5}
    assert 0 < len(g1) < len(vocab)          # keep_mod filter selects some
    assert set(g1["place"]).issubset(vocab)
    assert ((g1["lat"] >= -85.0) & (g1["lat"] < 85.0)).all()
    assert ((g1["lon"] >= -180.0) & (g1["lon"] < 180.0)).all()


def test_broadcast_join_in_plan(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["paris"],
    }))
    plan = (T.toponym_resolve(docs, _gaz(spark))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
