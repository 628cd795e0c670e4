"""One benchmark run of one workload, in a fresh Spark driver process.

``run.py`` starts this program once per workload; it is not meant to be
run by hand. Phases:

1. set-up: get the seeded inputs (generated without Spark, or reused from
   the cache; never timed), start the session, then run the job
   ``SETUP_REPS`` times as warm-up. ``setup_s`` is the session start
   (imports included) plus the median warm-up run.
2. timed: run the job back to back (a closed loop, one client) until
   ``--seconds`` have passed; every run's outputs are checked.
3. ``--trace 1`` only: one more run under a Spark job group for the
   counters, then the layer-by-layer traced job and the kernel calls.

The result is written as JSON to ``--result``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geobench import layers as L  # noqa: E402
from geobench import tracing as T  # noqa: E402
from geobench import workloads as W  # noqa: E402
from lib_gdal_spark.session import get_spark  # noqa: E402

import_s = time.perf_counter() - T0

SETUP_REPS = 3
CACHE_KEEP = 6  # input sets kept on disk, most recently used first

END_TO_END = {"rows_per_s": "rows/s", "job_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "sources.scan_s": "s", "sources.rows": "count", "sources.bytes": "bytes",
    "extract.batch_s": "s", "extract.rows_per_s": "rows/s",
    "cells.lonlat_to_cell_s": "s", "geo.enrich_s": "s", "geo.with_tile_s": "s",
    "pip_join.cover_s": "s", "pip_join.cover_rows": "count",
    "pip_join.candidates": "count", "pip_join.envelope_pass": "count",
    "pip_join.hits": "count", "pip_join.envelope_ratio": "ratio",
    "pip_join.hit_ratio": "ratio", "pip_join.join_s": "s",
    "pip_join.geometry.points_in_rings_s": "s",
    "knn.candidates": "count", "knn.useful_ratio": "ratio", "knn.join_s": "s",
    "cells.k_ring_s": "s",
    "raster.tasks": "count", "raster.src_tiles_joined": "count",
    "raster.read_amplification": "ratio", "raster.warp_s": "s",
    "resample.warp_tile_s": "s", "resample.pixels_per_s": "px/s",
    "tilestore.encode_png_s": "s", "tilestore.write_s": "s",
    "tilestore.files": "count", "tilestore.bytes": "bytes",
    "sink.output_mb": "MB",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.executor_run_s": "s", "spark.tasks": "count",
    "trace.overhead_s": "s", "trace.predicted_share": "ratio",
}


class Runner:
    """Runs the job once, times it, and checks what it produced."""

    def __init__(self, spark, wl, inp, want, out_root: str) -> None:
        self.spark, self.wl, self.inp, self.want = spark, wl, inp, want
        self.out_root = out_root
        self.reps: list[dict] = []

    def rep(self, counters: T.SparkCounters | None = None) -> dict:
        out_dir = os.path.join(self.out_root, f"rep{len(self.reps)}")
        shutil.rmtree(out_dir, ignore_errors=True)
        rec = {"job_s": None, "problems": [], "output_bytes": 0}
        try:
            group = counters.group("job") if counters else nullcontext()
            t = time.perf_counter()
            with group:
                out = self.wl.run(self.spark, self.inp, out_dir)
            rec["job_s"] = time.perf_counter() - t
            got = self.wl.observe(out)
            rec["output_bytes"] = got["output_bytes"]
            rec["problems"] = self.wl.check(got, self.want)
        except Exception as exc:  # a failed run is counted, not fatal
            traceback.print_exc()
            rec["problems"] = [f"raised {type(exc).__name__}: {exc}"]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        for p in rec["problems"]:
            print(f"[geobench] {self.wl.name} run {len(self.reps)}: {p}",
                  file=sys.stderr)
        self.reps.append(rec)
        return rec


def inputs(wl, seed: int, parts: int, cache_root: str) -> tuple[str, bool]:
    """Directory of the workload's inputs for ``seed``, generating them if
    the cache lacks them; also says whether the cache had them."""
    d = os.path.join(cache_root, f"{wl.name}-s{seed}-{wl.size_key}")
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d, True
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    wl.generate(tmp, seed, parts)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.replace(tmp, d)
    entries = sorted((os.path.join(cache_root, e) for e in os.listdir(cache_root)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, False


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True, help="scratch directory")
    ap.add_argument("--result", required=True, help="JSON result path")
    args = ap.parse_args(argv)

    wl = W.WORKLOADS[args.workload](args.scale)
    cpus = len(os.sched_getaffinity(0))
    cache_root = os.path.join(args.work, "cache")
    os.makedirs(cache_root, exist_ok=True)
    t_gen = time.perf_counter()
    d, cache_hit = inputs(wl, args.seed, cpus, cache_root)
    want = wl.expected(d)
    gen_s = time.perf_counter() - t_gen

    tmp = os.environ.get("TMPDIR", os.path.join(args.work, "tmp"))
    # The heap starts at its cap, so peak memory does not depend on how far
    # the heap had grown by the end of the run.
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    if args.trace:
        conf.update(T.TRACE_CONF)
    t_session = time.perf_counter()
    spark = get_spark(f"geobench-{wl.name}", master=f"local[{cpus}]",
                      extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session + import_s
        inp = wl.load(spark, d)
        out_root = os.path.join(args.work, "out", f"{wl.name}-{os.getpid()}")
        runner = Runner(spark, wl, inp, want, out_root)

        warm = [runner.rep()["job_s"] for _ in range(SETUP_REPS)]
        with T.PeakRss() as rss:
            t_start = time.perf_counter()
            first = len(runner.reps)
            while (len(runner.reps) == first
                   or time.perf_counter() - t_start < args.seconds):
                runner.rep()
        timed = [r["job_s"] for r in runner.reps[first:] if r["job_s"] is not None]

        metrics: dict[str, dict] = {}
        detail: dict = {}
        if args.trace:
            metrics, detail = traced(wl, inp, d, runner, timed, out_root,
                                     os.path.join(args.work, "traces"))
        shutil.rmtree(out_root, ignore_errors=True)
    finally:
        spark.stop()

    failed = sum(1 for r in runner.reps if r["problems"])
    if not timed or None in warm:
        print("[geobench] no successful run to report", file=sys.stderr)
        return 1
    job = T.quartiles(timed)
    if not args.trace:
        values = {"rows_per_s": wl.rows / job["median"], "job_s": job["median"],
                  "setup_s": session_s + statistics.median(warm),
                  "peak_rss_mb": rss.peak / 2**20}
        metrics = {n: _metric(values[n], u) for n, u in END_TO_END.items()}
    detail.update(
        workload=wl.name, seed=args.seed, scale=args.scale, cpus=cpus,
        rows=wl.rows, job_s=job, job_s_runs=timed, session_s=session_s,
        warmup_s=warm,
        generate_s=gen_s, cache_hit=cache_hit,
        output_mb=statistics.median(r["output_bytes"] for r in runner.reps) / 2**20,
        failed_ratio=failed / len(runner.reps),
        problems=sorted({p for r in runner.reps for p in r["problems"]}),
    )
    with open(args.result, "w") as f:
        json.dump({"correct": failed == 0, "attempted": len(runner.reps),
                   "failed": failed, "metrics": metrics, "detail": detail}, f)
    return 0


def traced(wl, inp, input_dir: str, runner: Runner, timed: list[float],
           out_root: str, trace_dir: str):
    """Counters from one more plain run, then the traced layer-by-layer
    job; returns the per-layer metrics and a detail record."""
    counters = T.SparkCounters(runner.spark)
    rec = runner.rep(counters)
    c = counters.read("job")
    tracer = T.Tracer()
    m = L.trace_layers(tracer, wl.layers(inp), os.path.join(out_root, "traced"))
    job_span = tracer.duration("job")
    layer_s = sum(tracer.self_time(n) for n in L.LAYER_SPANS)
    predicted = sum(tracer.self_time(n) for n in W.PREDICTED_LAYERS[wl.name])
    m.update({
        # bytes of the input tables on disk: Spark's input-bytes counter
        # misses most of a small parquet scan
        "sources.rows": c["input_records"],
        "sources.bytes": sum(os.path.getsize(os.path.join(r, f))
                             for r, _, files in os.walk(input_dir)
                             for f in files if f.endswith(".parquet")),
        "sink.output_mb": rec["output_bytes"] / 2**20,
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"], "spark.gc_s": c["gc_ms"] / 1e3,
        "spark.executor_run_s": c["executor_run_ms"] / 1e3,
        "spark.tasks": c["tasks"],
        "trace.overhead_s": job_span - statistics.median(timed),
        "trace.predicted_share": predicted / layer_s,
    })
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{wl.name}-{os.getpid()}.json")
    tracer.dump(path)
    detail = {
        "trace_file": path,
        "self_s": {n: tracer.self_time(n) for n in L.LAYER_SPANS + (L.MATERIALIZE,)},
        "predicted_layers": list(W.PREDICTED_LAYERS[wl.name]),
    }
    metrics = {name: _metric(m[name], unit) for name, unit in PER_LAYER.items()}
    return metrics, detail


if __name__ == "__main__":
    sys.exit(main())
