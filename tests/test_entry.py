"""Driver-contract tests: Spark queries vs DuckDB oracles at sf0.001.

Mirrors the driver's correctness gate (CORRECTNESS_r{N}.json): row count,
column set, and order-insensitive exact value equality.
"""

from __future__ import annotations

import importlib
import importlib.util
import pathlib
import pkgutil
import re
import sys
import tempfile

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
import lib_gdal_spark

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Subset that exercises every operator family; the full set runs in
# tools/check_correctness.py at sf0.01.
SUBSET = [
    "ogr_like_filter",
    "ogr_summary_record",
    "ogr_first_match_join",
    "ogr_two_valued_null",
    "tile_assign_z8",
    "cell_pack_parent",
    "pip_join_pentagon",
    "knn_kring",
    "warp_bilinear_z2",
    "warp_average_z2",
    "warp_utm_nearest",
    "pages_enrich",
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, sf_dir, oracle, name):
    sdf = E.queries()[name](spark, sf_dir).toPandas()
    odf = oracle.execute(E.oracle_sql()[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _canon(sdf), _canon(odf)
    b = b.astype(a.dtypes.to_dict(), errors="ignore")
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_mbtiles_roundtrip_leaves_no_file(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = E.queries()["mbtiles_roundtrip"](spark, sf_dir).collect()
    assert len(rows) == 16
    assert not list(tmp_path.rglob("*.mbtiles*"))

def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == ["pid", "fid", "z", "tx", "ty"]


def test_rows_only_queries_run(spark, sf_dir):
    qs = E.queries()
    for name in ("raster_checksum", "pages_enrich"):
        n = qs[name](spark, sf_dir).count()
        assert n >= 0


def test_every_package_module_imports():
    """A kept module that still imports a deleted one fails here, not at
    the first query that happens to reach it."""
    names = [m.name for m in pkgutil.walk_packages(
        lib_gdal_spark.__path__, prefix="lib_gdal_spark.")]
    assert names
    for name in names:
        importlib.import_module(name)


def test_every_query_has_an_oracle():
    """No orphan oracles and no unchecked queries; ``feature_matching`` is
    rows-only because its matcher is sequential by reference semantics."""
    assert set(E.queries()) - {"feature_matching"} == set(E.oracle_sql())


def test_check_correctness_checks_its_own_checkout(monkeypatch):
    """tools/check_correctness.py imports the registry of the checkout it
    lives in, so a second checkout checks its own code."""
    root = pathlib.Path(__file__).resolve().parents[1]
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delitem(sys.modules, "__spark_entry__", raising=False)
    spec = importlib.util.spec_from_file_location(
        "check_correctness", root / "tools" / "check_correctness.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert pathlib.Path(tool.E.__file__).resolve().is_relative_to(root)


def test_scripts_call_only_registered_entry_names():
    """bench.py and the tools call the registry as ``E.<name>``, some from
    job templates held in strings, so the scan reads the text: a deleted
    query fails here instead of at the next bench run."""
    root = pathlib.Path(__file__).resolve().parents[1]
    scanned, missing = [], []
    for path in [root / "bench.py", *sorted((root / "tools").glob("*.py"))]:
        text = path.read_text()
        if "__spark_entry__ as E" not in text:
            continue
        scanned.append(path.name)
        missing += [f"{path.name}: E.{name}"
                    for name in sorted(set(re.findall(r"\bE\.(\w+)", text)))
                    if not hasattr(E, name)]
    assert "bench.py" in scanned
    assert not missing
