"""Tests of the benchmark itself, at a tiny input size.

Run from the repository root: ``python -m pytest geobench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from geobench import job as J  # noqa: E402
from geobench import tracing as T  # noqa: E402
from geobench import workloads as W  # noqa: E402
from lib_gdal_spark.sinks import tilestore as TS  # noqa: E402

TINY = 0.02


def _bench_names(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _run_cli(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "geobench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def spark():
    from lib_gdal_spark.session import get_spark

    s = get_spark("geobench-test", master="local[2]",
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _observed(spark, wl, tmp_path):
    d = str(tmp_path / "in")
    os.makedirs(d)
    wl.generate(d, seed=3, parts=2)
    want = wl.expected(d)
    out = wl.run(spark, wl.load(spark, d), str(tmp_path / "out"))
    return wl.observe(out), want


def _corrupt_pages(got):
    got["hits"].append(["https://host0.example/page/0", 1])
    got["tiles"][1] += 1


def _corrupt_dense(got):
    fid = next(iter(got["per_fid"]))
    got["per_fid"][fid][0] += 1
    for q, nn in got["knn"].items():
        got["knn"][q] = [("nobody", d) for _, d in nn]


def _corrupt_raster(got):
    key = next(iter(got["tiles"]))
    px = TS.decode_png_gray(got["tiles"][key]).copy()
    px[0, 0] ^= 1
    got["tiles"][key] = TS.encode_png_gray(px)


@pytest.mark.parametrize("name, corrupt", [
    ("pages_geo_join", _corrupt_pages),
    ("pip_dense_knn", _corrupt_dense),
    ("raster_tile_write", _corrupt_raster),
])
def test_workload_passes_its_checks_and_catches_corruption(spark, tmp_path, name,
                                                           corrupt):
    wl = W.WORKLOADS[name](TINY)
    got, want = _observed(spark, wl, tmp_path)
    assert wl.check(got, want) == []
    corrupt(got)
    assert wl.check(got, want)


def test_every_workload_runs_from_the_command_line():
    p = _run_cli("--workload", "all", "--seed", "5", "--seconds", "1",
                 "--scale", str(TINY))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = {f"{w}.{m}": u for w in W.WORKLOADS
            for m, u in _bench_names("end_to_end").items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    p = _run_cli("--workload", "pip_dense_knn", "--seed", "5", "--seconds", "1",
                 "--trace", "1", "--scale", str(TINY))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert result["correct"]
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == _bench_names("per_layer")
    detail = json.loads(p.stdout.splitlines()[0])
    with open(detail["trace_file"]) as f:
        spans = json.load(f)
    assert {s["name"] for s in spans} >= {"job", "pip_join.join", "knn.join"}


def test_metric_tables_match_benchmark_json():
    assert J.END_TO_END == _bench_names("end_to_end")
    assert J.PER_LAYER == _bench_names("per_layer")


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "geobench"), tmp_path / "geobench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run_cli("--workload", "pages_geo_join", "--seed", "1", "--seconds", "1",
                 cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""


def test_self_time_subtracts_children():
    tr = T.Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("b"):
            pass
    a = tr.duration("a")
    assert tr.self_time("a") == pytest.approx(a - tr.duration("b"))


def test_quartiles_reports_tail_only_with_ten_beyond():
    q = T.quartiles(list(np.arange(1.0, 21.0)))
    assert q["n"] == 20 and q["median"] == 10.5 and "p50" in q
    assert "p90" not in T.quartiles([1.0, 2.0, 3.0])
