"""Crawl-snapshot delta (operators/snapshots) and the hex k-ring pair
join (operators/knn.hex_ring_pairs).

snapshot_delta is pinned against a hand-built capture history with every
status class (new/changed/unchanged/gone); hex_ring_pairs against a
brute-force O(n^2) oracle (completeness of the ring-1 covering)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators.knn import hex_ring_pairs
from lib_gdal_spark.operators.snapshots import (snapshot_delta,
                                                snapshot_gone,
                                                snapshot_history)


class TestSnapshotDelta:
    @pytest.fixture(scope="class")
    def snaps(self, spark):
        rows = [
            # a: present all 3 crawls, changes at crawl 2
            ("a", 0, "h1"), ("a", 1, "h1"), ("a", 2, "h2"),
            # b: appears at crawl 1, unchanged after
            ("b", 1, "h3"), ("b", 2, "h3"),
            # c: gone after crawl 0
            ("c", 0, "h4"),
            # d: present 0 and 2 only (skipped a crawl), changed
            ("d", 0, "h5"), ("d", 2, "h6"),
        ]
        return spark.createDataFrame(
            rows, "url string, crawl int, content_hash string")

    def test_history_statuses(self, snaps):
        got = {(r["url"], r["crawl"]): r["status"]
               for r in snapshot_history(snaps).collect()}
        assert got == {
            ("a", 0): "new", ("a", 1): "unchanged", ("a", 2): "changed",
            ("b", 1): "new", ("b", 2): "unchanged",
            ("c", 0): "new",
            ("d", 0): "new", ("d", 2): "changed",
        }

    def test_gone(self, snaps):
        got = sorted(r["url"] for r in
                     snapshot_gone(snaps, last_crawl=2).collect())
        assert got == ["c"]

    def test_delta_is_union(self, snaps):
        d = snapshot_delta(snaps, last_crawl=2)
        assert d.count() == 8 + 1
        gone = d.filter(F.col("status") == "gone").collect()
        assert [(r["url"], r["crawl"]) for r in gone] == [("c", 2)]


class TestHexRingPairs:
    def test_matches_bruteforce(self, spark):
        rng = np.random.default_rng(7)
        n = 800
        pdf = pd.DataFrame({
            "pid": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-3.0, 3.0, n),
            "lat": rng.uniform(-3.0, 3.0, n),
        })
        got = (hex_ring_pairs(spark.createDataFrame(pdf),
                              max_dist=0.45, size=0.5)
               .select("pid_a", "pid_b").toPandas())
        got_set = set(map(tuple, got.values.tolist()))
        xs, ys = pdf.lon.values, pdf.lat.values
        want = set()
        for i in range(n):
            dx, dy = xs - xs[i], ys - ys[i]
            m = np.flatnonzero((dx * dx + dy * dy <= 0.45 ** 2)
                               & (pdf.pid.values > i))
            want.update((i, int(j)) for j in m)
        assert got_set == want

    def test_no_duplicate_candidates_survive(self, spark):
        # pairs output must be unique (one matching delta per pair)
        pdf = pd.DataFrame({"pid": [0, 1, 2],
                            "lon": [0.0, 0.1, 0.2],
                            "lat": [0.0, 0.0, 0.0]})
        got = hex_ring_pairs(spark.createDataFrame(pdf),
                             max_dist=0.45, size=0.5).toPandas()
        assert len(got) == len(got.drop_duplicates(["pid_a", "pid_b"]))
        assert len(got) == 3

    def test_bound_enforced(self, spark):
        with pytest.raises(ValueError):
            hex_ring_pairs(None, max_dist=0.6, size=0.5)
