"""Spark integration: pages enrichment, PIP join, tiles, kNN — each checked
against a single-process NumPy oracle implementing the same reference
semantics (SURVEY.md §5 adopted plan)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.functions import cells as C
from lib_gdal_spark.functions import geometry as G
from lib_gdal_spark.operators import geo, knn, pip_join
from lib_gdal_spark.sources import pages as P

N_PAGES = 3000


@pytest.fixture(scope="module")
def pages_df(spark):
    return P.generate_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def enriched(spark, pages_df):
    return geo.enrich_pages(pages_df, res=12).cache()


def test_generate_pages_rows(pages_df):
    assert pages_df.count() == N_PAGES
    assert pages_df.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_text_invariant_spark(spark, pages_df):
    bad = geo.verify_text_invariant(pages_df)
    assert bad.count() == 0


def test_enrich_matches_oracle(enriched):
    pdf = enriched.orderBy("url").toPandas()
    ids = pdf["url"].str.extract(r"/page/(\d+)$")[0].astype(np.int64).to_numpy()
    lon_o, lat_o = P.page_coords(ids)
    has = ~np.isnan(lon_o)
    got_lon = pdf["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
    assert np.array_equal(np.isnan(got_lon), ~has)
    assert np.array_equal(got_lon[has], lon_o[has])
    cell_o = C.lonlat_to_cell(lon_o[has], lat_o[has], 12)
    # fetch cells as non-null ints (pandas float64 would lose bits at 2^61)
    cpdf = (
        enriched.where(F.col("cell").isNotNull())
        .select("url", "cell")
        .orderBy("url")
        .toPandas()
    )
    ids2 = cpdf["url"].str.extract(r"/page/(\d+)$")[0].astype(np.int64).to_numpy()
    lon2, lat2 = P.page_coords(ids2)
    assert np.array_equal(
        cpdf["cell"].to_numpy(dtype=np.int64),
        C.lonlat_to_cell(lon2, lat2, 12),
    )
    assert len(cpdf) == has.sum()
    del cell_o


def _polygon_table(spark):
    polys = [
        (1, "box_europe", G.wkb_polygon([G.box_ring(-10.03, 35.07, 30.11, 60.13)])),
        (2, "tri_atlantic", G.wkb_polygon([np.array(
            [[-60.03, -20.07], [-10.11, -25.13], [-30.07, 30.19], [-60.03, -20.07]]
        )])),
        (3, "mp_two_boxes", G.wkb_multipolygon(
            [[G.box_ring(100.03, -40.07, 150.11, 10.13)],
             [G.box_ring(60.03, 20.07, 90.11, 50.13)]]
        )),
    ]
    return spark.createDataFrame(
        [(fid, name, bytearray(wkb)) for fid, name, wkb in polys],
        "fid long, name string, geom_wkb binary",
    )


def test_pip_join_matches_oracle(spark, enriched):
    polys = _polygon_table(spark)
    got = (
        pip_join.pip_join(enriched, polys, res=5, points_res=12)
        .orderBy("url", "fid")
        .toPandas()
    )
    # Oracle: brute force over all geo pages x all polygons
    pdf = enriched.where(F.col("lon").isNotNull()).select("url", "lon", "lat").toPandas()
    rows = []
    for fid, _, wkb in _polygon_table(spark).select("fid", "name", "geom_wkb").collect():
        rings = G.polygon_rings(bytes(wkb))
        inside = G.points_in_rings(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), rings)
        for u in pdf["url"].to_numpy()[inside]:
            rows.append((u, fid))
    exp = pd.DataFrame(rows, columns=["url", "fid"]).sort_values(
        ["url", "fid"]
    ).reset_index(drop=True)
    assert got.reset_index(drop=True).equals(exp)
    assert len(exp) > 0


def test_with_tile_matches_oracle(enriched):
    tiled = geo.with_tile(enriched.where(F.col("lon").isNotNull()), z=7)
    pdf = tiled.select("url", "lon", "lat", "tx", "ty").toPandas()
    ex, ey = C.lonlat_to_tile(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 7)
    assert np.array_equal(pdf["tx"].to_numpy(dtype=np.int64), ex)
    assert np.array_equal(pdf["ty"].to_numpy(dtype=np.int64), ey)


def test_with_tile_null_coords_get_null_tile(spark):
    """greatest/least skip NULLs: without a guard a NULL coordinate would
    land in tile (0, 2^z-1)."""
    pts = spark.createDataFrame(
        [(1, None, None), (2, 2.35, None), (3, None, 48.85), (4, 2.35, 48.85)],
        "pid long, lon double, lat double")
    for tms in (False, True):
        got = {r["pid"]: (r["tx"], r["ty"])
               for r in geo.with_tile(pts, z=8, tms=tms).collect()}
        assert got[1] == got[2] == got[3] == (None, None)
        ex, ey = C.lonlat_to_tile(np.array([2.35]), np.array([48.85]), 8, tms=tms)
        assert got[4] == (ex[0], ey[0])


def test_knn_bruteforce_vs_kring(spark, enriched):
    pts = (
        enriched.where(F.col("lon").isNotNull())
        .select(
            F.abs(F.xxhash64("url")).alias("tid"), F.col("lon").alias("tlon"),
            F.col("lat").alias("tlat"),
        )
        .limit(500)
        .cache()
    )
    queries = spark.createDataFrame(
        [(1, 2.35, 48.85), (2, -74.0, 40.7), (3, 139.69, 35.68)],
        "qid long, qlon double, qlat double",
    )
    bf = knn.knn_bruteforce(queries, pts, k=5).orderBy("qid", "rank").toPandas()
    kr = knn.knn_kring(queries, pts, k=5, res=2, rings=1).orderBy(
        "qid", "rank"
    ).toPandas()
    # coarse cells + 1 ring cover the whole neighborhood here -> exact
    assert bf[["qid", "tid", "rank"]].equals(kr[["qid", "tid", "rank"]])
    assert np.allclose(bf["dist_km"], kr["dist_km"])
    assert (bf.groupby("qid").size() == 5).all()


def test_pip_join_with_holes_and_multipolygon(spark):
    """Even-odd semantics through the full distributed PIP join: points in a
    polygon's hole are excluded; MultiPolygon parts all match."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from lib_gdal_spark.functions import cells as C
    from lib_gdal_spark.functions import geometry as G
    from lib_gdal_spark.operators import pip_join as PIP

    outer = G.box_ring(0.0, 0.0, 10.0, 10.0)
    hole = G.box_ring(4.0, 4.0, 6.0, 6.0)
    donut = G.wkb_polygon([outer, hole])
    two_parts = G.wkb_multipolygon([
        [G.box_ring(20.0, 20.0, 22.0, 22.0)],
        [G.box_ring(30.0, 30.0, 32.0, 32.0)],
    ])
    polys = spark.createDataFrame(
        [(1, bytearray(donut)), (2, bytearray(two_parts))],
        "fid long, geom_wkb binary",
    ).coalesce(1)

    pts_pd = pd.DataFrame({
        "pid": ["ring", "in_hole", "part_a", "part_b", "outside"],
        "lon": [2.2, 5.1, 21.3, 31.7, 50.0],
        "lat": [2.3, 5.2, 21.4, 31.8, 50.0],
    })
    pts_pd["cell"] = C.lonlat_to_cell(
        pts_pd["lon"].to_numpy(), pts_pd["lat"].to_numpy(), 12
    )
    pts = spark.createDataFrame(pts_pd)

    got = {(r["pid"], r["fid"]) for r in PIP.pip_join(
        pts, polys, res=7, points_res=12, point_cols=("pid", "lon", "lat")
    ).collect()}
    assert got == {("ring", 1), ("part_a", 2), ("part_b", 2)}


def test_knn_kring_exact_auto_matches_bruteforce(spark, sf_dir):
    """Auto-sized k-ring kNN with exactness escalation == brute force."""
    import __spark_entry__ as E
    from lib_gdal_spark.operators import knn as KNN
    from pyspark.sql import functions as F

    q = spark.createDataFrame(E.KNN_QUERIES,
                              "qid long, qlon double, qlat double")
    t = E._points(spark, sf_dir).select(
        F.col("pid").alias("tid"), F.col("lon").alias("tlon"),
        F.col("lat").alias("tlat"),
    )
    exact = {(r["qid"], r["rank"]): (r["tid"], r["dist_km"])
             for r in KNN.knn_bruteforce(q, t, k=5).collect()}
    auto = {(r["qid"], r["rank"]): (r["tid"], r["dist_km"])
            for r in KNN.knn_kring_exact(q, t, k=5).collect()}
    assert auto == exact
    # also with a deliberately terrible resolution (forces escalation)
    auto2 = {(r["qid"], r["rank"]): (r["tid"], r["dist_km"])
             for r in KNN.knn_kring_exact(q, t, k=5, res=12).collect()}
    assert auto2 == exact


def test_zorder_key_matches_python(spark):
    """JVM Morton interleave == bit-level python reference."""
    import numpy as np
    from pyspark.sql import functions as F

    from lib_gdal_spark.functions import cells as C

    rng = np.random.default_rng(5)
    xs = rng.integers(0, 1 << 16, 300)
    ys = rng.integers(0, 1 << 16, 300)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long")
    got = [r["k"] for r in df.select(
        C.zorder_key(F.col("x"), F.col("y")).alias("k")).collect()]

    def morton(a, b):
        out = 0
        for i in range(32):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    assert got == [morton(int(a), int(b)) for a, b in zip(xs, ys)]


def test_with_zorder_locality(spark):
    """Z-ordered layout: each output partition's lon/lat bounding box is
    far smaller than the global extent (what makes min/max skipping
    work), and the key order is preserved within partitions."""
    import numpy as np
    from pyspark.sql import functions as F

    from lib_gdal_spark.functions import cells as C

    rng = np.random.default_rng(6)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in
         zip(rng.uniform(-180, 180, 4000), rng.uniform(-85, 85, 4000))],
        "lon double, lat double")
    z = C.with_zorder(df, num_partitions=16).withColumn("pid", F.spark_partition_id())
    stats = z.groupBy("pid").agg(
        (F.max("lon") - F.min("lon")).alias("dl"),
        (F.max("lat") - F.min("lat")).alias("db"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    # every populated partition covers a small fraction of the globe
    areas = [r["dl"] * r["db"] for r in stats if r["n"] > 50]
    assert areas and max(areas) < 360 * 170 * 0.35


def test_compact_uncompact_cells(spark):
    """H3-style compact/uncompact on the quadtree cells: full quads merge
    (cascading), isolated cells stay; uncompact(compact(S)) == S for a
    full-resolution set."""
    import numpy as np
    from pyspark.sql import functions as F

    from lib_gdal_spark.functions import cells as C

    # a fully-covered res-3 quad tree under one res-1 cell + 2 isolated
    # res-3 cells elsewhere
    full = []
    for x in range(4, 8):       # res-3 cells x in [4,8), y in [0,4) == the
        for y in range(0, 4):   # complete subtree of res-1 cell (1, 0)
            full.append(int(C.pack_cell(3, np.array([x]), np.array([y]))[0]))
    isolated = [int(C.pack_cell(3, np.array([1]), np.array([1]))[0]),
                int(C.pack_cell(3, np.array([6]), np.array([7]))[0])]
    df = spark.createDataFrame([(c,) for c in full + isolated], "cell long")
    got = sorted(r["cell"] for r in C.compact_cells(df).collect())
    want = sorted([int(C.pack_cell(1, np.array([1]), np.array([0]))[0])]
                  + isolated)
    assert got == want
    # uncompact back to res 3 reproduces the original set exactly
    back = sorted(
        r["cell"] for r in
        C.uncompact_cells(C.compact_cells(df), 3).collect())
    assert back == sorted(full + isolated)
    # idempotence on an already-minimal set
    again = sorted(r["cell"] for r in C.compact_cells(
        C.compact_cells(df)).collect())
    assert again == want


class TestGeohash:
    """Geohash base-32 Morton codes (round-4 session-2)."""

    def test_published_anchors(self, spark):
        from lib_gdal_spark.functions import cells as C
        df = spark.createDataFrame(
            [(10.40744, 57.64911), (-5.6, 42.6)], "lon double, lat double")
        rows = df.select(
            C.geohash_encode(F.col("lon"), F.col("lat"), 11).alias("gh"),
        ).collect()
        # the two classic published examples
        assert rows[0]["gh"] == "u4pruydqqvj"
        assert rows[1]["gh"].startswith("ezs42")

    def test_roundtrip_and_prefix(self, spark):
        from lib_gdal_spark.functions import cells as C
        import random
        rng = random.Random(9)
        pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
               for _ in range(500)]
        df = spark.createDataFrame(pts, "lon double, lat double")
        enc = df.select(
            "lon", "lat",
            C.geohash_encode(F.col("lon"), F.col("lat"), 12).alias("gh12"),
            C.geohash_encode(F.col("lon"), F.col("lat"), 7).alias("gh7"),
        )
        rows = enc.select(
            "gh12", "gh7",
            C.geohash_decode(F.col("gh12"), 12).alias("c"),
            C.geohash_encode(F.col("c.lon"), F.col("c.lat"), 12)
            .alias("gh12b"),
        ).collect()
        for r in rows:
            # coarser precision is a strict prefix; center re-encodes
            assert r["gh12"].startswith(r["gh7"])
            assert r["gh12b"] == r["gh12"]

    def test_decode_center_in_cell(self, spark):
        from lib_gdal_spark.functions import cells as C
        df = spark.createDataFrame([(10.40744, 57.64911)],
                                   "lon double, lat double")
        # materialize the hash first: decode references its input 12x,
        # so decode(encode(..)) in ONE expression explodes the plan tree
        enc = df.select(
            C.geohash_encode(F.col("lon"), F.col("lat"), 12).alias("gh"))
        r = enc.select(
            C.geohash_decode(F.col("gh"), 12).alias("c")
        ).collect()[0]["c"]
        # precision-12 cell is ~3.7e-7 deg lon: center within half of that
        assert abs(r["lon"] - 10.40744) < 2e-7
        assert abs(r["lat"] - 57.64911) < 1e-7


class TestMGRS:
    """MGRS lettering (NGA TM 8358.1 / GEOTRANS tables; round-4)."""

    def test_lettering_rules(self, spark):
        from lib_gdal_spark.functions import cells as C
        # (zone, band_idx, E, N) -> expected prefix letters per the
        # published scheme: col sets A-H/J-R/S-Z by zone mod 3; row
        # A-start for odd zones, F-start for even zones.
        df = spark.createDataFrame(
            [(18, 13, 100000, 0),   # even zone, set 3 -> col S, row F
             (1, 13, 100000, 0),    # odd zone, set 1 -> col A, row A
             (2, 13, 899999, 1999999)],  # even, set 2 -> col R, row (19+5)%20=4 -> E
            "zone long, band long, e long, n long")
        rows = df.select(C.mgrs_encode(
            F.col("zone"), F.col("band"), F.col("e"), F.col("n"), 5)
            .alias("m")).collect()
        assert rows[0]["m"] == "18RSF0000000000"
        assert rows[1]["m"] == "1RAA0000000000"
        assert rows[2]["m"] == "2RRE9999999999"

    def test_paris_square_anchor(self, spark):
        from lib_gdal_spark.functions import cells as C
        # UTM 31N easting 448,251 northing 5,411,932 (the Eiffel Tower
        # vicinity) lies in the well-known 100 km square 31UDQ.
        df = spark.createDataFrame([(31, 448251.0, 5411932.0, 48.858)],
                                   "zone long, e double, n double, lat double")
        r = df.select(C.mgrs_encode(
            F.col("zone"), C.mgrs_band_index(F.col("lat")),
            F.col("e"), F.col("n"), 4).alias("m")).collect()[0]["m"]
        assert r == "31UDQ48251193"[:5] + "4825" + "1193"
        assert r.startswith("31UDQ")

    def test_band_index_edges(self, spark):
        from lib_gdal_spark.functions import cells as C
        df = spark.createDataFrame(
            [(-80.0,), (-79.9,), (-0.1,), (0.0,), (55.0,), (71.9,),
             (72.1,), (83.9,)], "lat double")
        rows = df.select(C.mgrs_band_index(F.col("lat")).alias("b")).collect()
        bands = [C.MGRS_BANDS[r["b"]] for r in rows]
        # 8-degree ladder through W (64..72); X is the 12-degree band
        # absorbing 72..84N (NGA TM 8358.1 fig. 6)
        assert bands == ["C", "C", "M", "N", "U", "W", "X", "X"]

    def test_roundtrip_property(self, spark):
        from lib_gdal_spark.functions import cells as C
        import random
        rng = random.Random(4)
        data = [(rng.randrange(1, 61), rng.randrange(0, 20),
                 rng.randrange(100000, 900000), rng.randrange(0, 10000000))
                for _ in range(400)]
        df = spark.createDataFrame(
            data, "zone long, band long, e long, n long")
        enc = df.select(
            "zone", "band", "e", "n",
            C.mgrs_encode(F.col("zone"), F.col("band"), F.col("e"),
                          F.col("n"), 5).alias("m"))
        rows = enc.select(
            "zone", "band", "e", "n",
            C.mgrs_decode(F.col("m"), 5).alias("d")).collect()
        for r in rows:
            assert r["d"]["zone"] == r["zone"]
            assert r["d"]["band_idx"] == r["band"]
            assert r["d"]["easting"] == float(r["e"])
            # northing: exact congruence mod the 2,000 km cycle, and at
            # least the band minimum (full inversion needs the band's
            # true range, which random (band, N) pairs need not satisfy)
            assert r["d"]["northing"] % 2000000 == r["n"] % 2000000
            assert (r["d"]["northing"]
                    >= C.MGRS_BAND_MIN_NORTHING[r["band"]])

    def test_decode_precision3(self, spark):
        from lib_gdal_spark.functions import cells as C
        df = spark.createDataFrame([("31UDQ482119",)], "m string")
        r = df.select(C.mgrs_decode(F.col("m"), 3).alias("d")).collect()[0]
        assert r["d"]["zone"] == 31
        assert r["d"]["easting"] == 448200.0
        # band U min northing 5,300,000 -> cycle resolves to 5,411,900
        assert r["d"]["northing"] == 5411900.0


class TestPlusCodes:
    """Open Location Codes (the published Google OLC spec; round-4)."""

    def test_published_zurich_anchor(self, spark):
        from lib_gdal_spark.functions import cells as C
        # the spec's canonical example: 47.365590, 8.524997 in Zurich
        df = spark.createDataFrame([(8.524997, 47.365590)],
                                   "lon double, lat double")
        r = df.select(
            C.olc_encode(F.col("lon"), F.col("lat"), 10).alias("c10"),
            C.olc_encode(F.col("lon"), F.col("lat"), 11).alias("c11"),
        ).collect()[0]
        assert r["c10"] == "8FVC9G8F+6X"
        assert r["c11"].startswith("8FVC9G8F+6X") and len(r["c11"]) == 12

    def test_origin_and_plus_position(self, spark):
        from lib_gdal_spark.functions import cells as C
        df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
        r = df.select(C.olc_encode(F.col("lon"), F.col("lat"), 10)
                      .alias("c")).collect()[0]["c"]
        assert r == "6FG22222+22"
        assert r[8] == "+"

    def test_roundtrip_and_cell_contains(self, spark):
        from lib_gdal_spark.functions import cells as C
        import random
        rng = random.Random(11)
        pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
               for _ in range(500)]
        df = spark.createDataFrame(pts, "lon double, lat double")
        for length in (10, 11):
            enc = df.select(
                "lon", "lat",
                C.olc_encode(F.col("lon"), F.col("lat"), length)
                .alias("c"))
            rows = enc.select(
                "lon", "lat", "c",
                C.olc_decode(F.col("c"), length).alias("d"),
            ).collect()
            for r in rows:
                d = r["d"]
                # the original point lies inside the decoded cell, and
                # the center re-encodes to the same code
                assert d["lat_lo"] - 1e-9 <= r["lat"] <= d["lat_hi"] + 1e-9
                assert d["lon_lo"] - 1e-9 <= r["lon"] <= d["lon_hi"] + 1e-9
            re = enc.select(
                "c",
                C.olc_decode(F.col("c"), length).alias("d"),
            ).select(
                "c",
                C.olc_encode(F.col("d.lon_c"), F.col("d.lat_c"), length)
                .alias("c2"))
            assert re.filter(F.col("c") != F.col("c2")).count() == 0

    def test_pole_clip(self, spark):
        from lib_gdal_spark.functions import cells as C
        # 90N encodes into the northernmost cell (spec behavior)
        df = spark.createDataFrame([(0.0, 90.0), (0.0, 89.9999)],
                                   "lon double, lat double")
        rows = df.select(C.olc_encode(F.col("lon"), F.col("lat"), 10)
                         .alias("c")).collect()
        assert rows[0]["c"] == rows[1]["c"]


class TestMGRSFromLonLat:
    """End-to-end lon/lat -> UTM -> MGRS (round-4)."""

    def test_known_squares(self):
        import numpy as np
        from lib_gdal_spark.functions import cells as C
        r = C.mgrs_from_lonlat(
            np.array([2.2945, -74.0445, 151.2153]),
            np.array([48.8584, 40.6892, -33.8568]))
        # published 100 km squares: Paris 31UDQ, NYC 18TWL, Sydney 56HLH
        assert r[0].startswith("31UDQ")
        assert r[1].startswith("18TWL")
        assert r[2].startswith("56HLH")
        # Eiffel Tower digits near the commonly-cited 31UDQ 48251 11932
        # reference (tolerance covers the monument's ~125 m footprint —
        # "the Eiffel Tower" is not a single point)
        assert abs(int(r[0][5:10]) - 48251) <= 100
        assert abs(int(r[0][10:15]) - 11932) <= 100

    def test_southern_hemisphere_and_precision(self):
        import numpy as np
        from lib_gdal_spark.functions import cells as C
        r5 = C.mgrs_from_lonlat(np.array([151.2153]), np.array([-33.8568]))
        r1 = C.mgrs_from_lonlat(np.array([151.2153]), np.array([-33.8568]),
                                precision=1)
        # coarser precision truncates the same reference
        assert r1[0] == r5[0][:5] + r5[0][5] + r5[0][10]
        assert len(r5[0]) == 15 and len(r1[0]) == 7

    def test_domain_guard(self):
        import numpy as np
        import pytest as _pt
        from lib_gdal_spark.functions import cells as C
        with _pt.raises(ValueError):
            C.mgrs_from_lonlat(np.array([0.0]), np.array([85.0]))

    def test_matches_jvm_lettering(self, spark):
        """NumPy end-to-end lettering == the JVM mgrs_encode lettering
        given the same UTM parts (cross-checks the two implementations)."""
        import numpy as np
        from lib_gdal_spark.functions import cells as C
        from lib_gdal_spark.functions import crs as CRS
        rng = np.random.default_rng(3)
        lon = rng.uniform(-179, 179, 50)
        lat = rng.uniform(-79, 83, 50)
        full = C.mgrs_from_lonlat(lon, lat)
        zone = np.clip(((lon + 180.0) // 6.0).astype(np.int64) + 1, 1, 60)
        band = np.clip(((lat + 80.0) // 8.0).astype(np.int64), 0, 19)
        rows = []
        for i in range(lon.size):
            tm = CRS.utm_zone(int(zone[i]), south=bool(lat[i] < 0))
            e, n = tm.forward(np.array([lon[i]]), np.array([lat[i]]))
            rows.append((int(zone[i]), int(band[i]),
                         int(np.floor(e[0])), int(np.floor(n[0]))))
        df = spark.createDataFrame(rows, "zone long, band long, e long, n long")
        jvm = [r["m"] for r in df.select(C.mgrs_encode(
            F.col("zone"), F.col("band"), F.col("e"), F.col("n"), 5)
            .alias("m")).collect()]
        assert list(full) == jvm


class TestQuadkeys:
    """Bing tile-system quadkeys (round-4)."""

    def test_published_example(self, spark):
        from lib_gdal_spark.functions import cells as C
        # the Microsoft tile-system doc example: (x=3, y=5, z=3) -> "213"
        df = spark.createDataFrame([(3, 5)], "x long, y long")
        r = df.select(C.quadkey_encode(3, F.col("x"), F.col("y"))
                      .alias("q")).collect()[0]["q"]
        assert r == "213"

    def test_roundtrip_and_prefix(self, spark):
        from lib_gdal_spark.functions import cells as C
        import random
        rng = random.Random(5)
        rows = [(rng.randrange(0, 1 << 12), rng.randrange(0, 1 << 12))
                for _ in range(300)]
        df = spark.createDataFrame(rows, "x long, y long")
        enc = df.select(
            "x", "y",
            C.quadkey_encode(12, F.col("x"), F.col("y")).alias("q"),
            C.quadkey_encode(9, F.shiftright(F.col("x"), 3),
                             F.shiftright(F.col("y"), 3)).alias("p"))
        bad = enc.filter(F.expr("substr(q, 1, 9) != p")).count()
        assert bad == 0
        dec = enc.select("x", "y",
                         C.quadkey_decode(F.col("q"), 12).alias("d"))
        assert dec.filter((F.col("d.x") != F.col("x"))
                          | (F.col("d.y") != F.col("y"))).count() == 0

    def test_zoom_guard(self):
        import pytest as _pt
        from pyspark.sql import functions as F
        from lib_gdal_spark.functions import cells as C
        with _pt.raises(ValueError):
            C.quadkey_encode(0, F.lit(0), F.lit(0))
        with _pt.raises(ValueError):
            C.quadkey_decode(F.lit("0"), 29)
