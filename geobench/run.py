"""Benchmark of the lib_gdal_spark engine: pages -> PIP -> tiles, dense PIP
with kNN, and raster warp with a tile write.

Run from the root of a checkout:

    python3 geobench/run.py [--workload NAME|all] [--seed N] [--seconds S]
                            [--trace 0|1]

Each workload runs in a fresh Spark driver process (``job.py``) on
``local[<usable cpus>]``, with Spark's local directories, temporary files,
cached inputs and outputs all under ``.geobench/`` in the checkout. For
each workload a detail line is printed; the last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). With ``--workload all`` the metric names are prefixed by workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pages_geo_join", "pip_dense_knn", "raster_tile_write")
CHILD_TIMEOUT_S = 170
# Driver heap, set through the session's own knob (job.py also starts the
# heap at this size). 2g holds every workload; the session's 8g default
# would let the young generation alone touch several GB of a small host.
DRIVER_MEM = "2g"


def _session_members(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Stop every process left in the child's session (JVM, Python
    workers) and wait until all of them have ended."""
    for sig, grace_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        if not _session_members(sid):
            return
        for pid in _session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while _session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _session_members(sid):
        raise RuntimeError(f"processes of session {sid} did not end")


def _runnable_others() -> float:
    """Runnable tasks on the host besides this one, as a median of a few
    instant readings (the 1-minute load average would still show the
    previous run of the benchmark itself)."""
    counts = []
    for _ in range(5):
        with open("/proc/loadavg") as f:
            counts.append(int(f.read().split()[3].split("/")[0]) - 1)
        time.sleep(0.1)
    return sorted(counts)[len(counts) // 2]


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all cpus since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def run_workload(name: str, args, cpus: int) -> dict | None:
    work = os.path.join(ROOT, ".geobench")
    tag = f"{name}-{os.getpid()}"
    private = [os.path.join(work, "spark", tag), os.path.join(work, "tmp", tag)]
    for d in private + [os.path.join(work, "results")]:
        os.makedirs(d, exist_ok=True)
    result = os.path.join(work, "results", f"{tag}.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=private[0], TMPDIR=private[1],
               SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    cmd = [sys.executable, os.path.join(HERE, "job.py"), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--scale", str(args.scale),
           "--work", work, "--result", result]
    load_before = os.getloadavg()
    others_before = _runnable_others()
    total0, steal0 = _cpu_jiffies()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[geobench] {name} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        rc = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
        for d in private:
            shutil.rmtree(d, ignore_errors=True)
    load_after = os.getloadavg()
    total1, steal1 = _cpu_jiffies()
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    if rc != 0 or not os.path.exists(result):
        return None
    with open(result) as f:
        res = json.load(f)
    os.remove(result)
    # A run is flagged, not pooled silently, when other work contended for
    # the cpus: other tasks were runnable as it started, or the hypervisor
    # took a noticeable share of cpu time away while it ran.
    res["detail"].update(
        load_before=load_before, load_after=load_after,
        runnable_others_before=others_before, steal_share=steal,
        host_loaded=others_before >= cpus / 2 or steal > 0.05)
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Benchmark of the lib_gdal_spark engine.")
    ap.add_argument("--workload", default="all",
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (tests)")
    args = ap.parse_args(argv)

    missing = [p for p in ("lib_gdal_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"[geobench] not a checkout of the engine: missing {missing}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res = run_workload(name, args, cpus)
        if res is None:
            print(f"[geobench] {name} did not produce a result", file=sys.stderr)
            return 1
        if res["detail"]["host_loaded"]:
            d = res["detail"]
            print(f"[geobench] {name}: host was loaded: "
                  f"{d['runnable_others_before']} other runnable tasks, "
                  f"{d['steal_share']:.1%} cpu stolen", file=sys.stderr)
        print(json.dumps(res["detail"]), flush=True)
        results[name] = res

    if len(results) == 1:
        (res,) = results.values()
        metrics = res["metrics"]
    else:
        metrics = {f"{n}.{k}": v for n, r in results.items()
                   for k, v in r["metrics"].items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
