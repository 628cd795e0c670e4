"""OGR CSV layer codec (drivers/vector/csv semantics)."""

from lib_gdal_spark.functions.wkt import wkt_to_wkb
from lib_gdal_spark.sources.csvlayer import parse_csv_layer, write_csv_layer


class TestCsvLayer:
    def test_quoting_roundtrip(self):
        rows = [{
            "wkb": wkt_to_wkb("POINT (1 2)"),
            "s": 'a,"quoted", and\nnewline',
            "i": -7,
            "r": 2.5,
        }]
        text, csvt = write_csv_layer(
            rows, [("s", "String"), ("i", "Integer"), ("r", "Real")])
        back = parse_csv_layer(text, csvt)
        assert back[0]["s"] == rows[0]["s"]
        assert back[0]["i"] == -7 and back[0]["r"] == 2.5
        assert back[0]["wkb"] == rows[0]["wkb"]

    def test_untyped_defaults_to_string(self):
        rows = [{"wkb": wkt_to_wkb("POINT (0 0)"), "a": "5"}]
        text, _ = write_csv_layer(rows, [("a", "Integer")])
        back = parse_csv_layer(text, csvt=None)  # no .csvt sidecar
        assert back[0]["a"] == "5"  # stays string, like the reference

    def test_geometry_types(self):
        for wkt in ("POINT (3 4)",
                    "LINESTRING (0 0, 1 1, 2 0)",
                    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))"):
            rows = [{"wkb": wkt_to_wkb(wkt)}]
            text, csvt = write_csv_layer(rows, [])
            back = parse_csv_layer(text, csvt)
            assert back[0]["wkb"] == rows[0]["wkb"]
