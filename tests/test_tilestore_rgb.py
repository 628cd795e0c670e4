"""RGB(A) tile-store encode (sinks/tilestore.py multi-band path)."""

import sqlite3

import numpy as np

from lib_gdal_spark.sinks.tilestore import write_mbtiles
from lib_gdal_spark.sources.png import parse_png
from lib_gdal_spark.sources.rasters import byte20, BYTE20_GT, tiles_from_array


def test_rgb_mbtiles_roundtrip(spark, tmp_path):
    b20 = byte20()
    rows = []
    for bi, arr in enumerate([b20, 255 - b20, b20 // 2], start=1):
        rows.extend(tiles_from_array("r", arr.astype(np.uint8), BYTE20_GT,
                                     tile=20, band=bi, zoom=3))
    from lib_gdal_spark.sources.rasters import RASTER_COLS, RASTER_SCHEMA
    df = spark.createDataFrame(
        [tuple(r[c] for c in RASTER_COLS) for r in rows],
        schema=RASTER_SCHEMA)
    path = str(tmp_path / "rgb.mbtiles")
    n = write_mbtiles(df, path, "r", band=(1, 2, 3))
    assert n == 1
    con = sqlite3.connect(path)
    (blob,) = con.execute("SELECT tile_data FROM tiles").fetchone()
    con.close()
    p = parse_png(bytes(blob))
    assert len(p.bands) == 3
    assert np.array_equal(p.bands[0], b20)
    assert np.array_equal(p.bands[1], 255 - b20)
    assert np.array_equal(p.bands[2], b20 // 2)
