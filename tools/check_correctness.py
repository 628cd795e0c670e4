"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, then compares row count, column names, and order-insensitive values
(sorted by all columns; floats compared exactly, as a value-hash would).

Usage:
    python tools/check_correctness.py [query ...]
    python tools/check_correctness.py --changed-since <git-ref>

``--changed-since`` is the fast inner-loop mode: it maps the .py files
git reports as touched since <git-ref> to the registry queries whose
function source references any touched module — TRANSITIVELY through the
package's internal import graph (a change to functions/overlay.py selects
every query built on operators/layer_algebra.py). The FULL sweep (no
arguments) still gates session end; this mode is for iterating.
"""

from __future__ import annotations

import pathlib
import re
import sys
import time

import duckdb
import pandas as pd

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as E  # noqa: E402
from lib_gdal_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _module_graph() -> dict[str, set[str]]:
    """module basename -> set of module basenames it imports, scanned
    textually over every lib_gdal_spark/*.py (no execution)."""
    pkg = REPO / "lib_gdal_spark"
    names = {p.stem for p in pkg.rglob("*.py") if p.stem != "__init__"}
    pat = re.compile(
        r"from lib_gdal_spark(?:\.\w+)* import (\w+)|"
        r"lib_gdal_spark(?:\.\w+)*\.(\w+) import|"
        r"from lib_gdal_spark\.\w+\.(\w+) import")
    deps: dict[str, set[str]] = {}
    for p in pkg.rglob("*.py"):
        got = set()
        src = p.read_text()
        for m in pat.finditer(src):
            for g in m.groups():
                if g and g in names:
                    got.add(g)
        deps[p.stem] = got
    return deps


def _entry_diff_queries(ref: str):
    """Map changed __spark_entry__.py line hunks to the query names they
    touch: a hunk inside ``def q_<x>`` selects every registry entry
    bound to that function; a hunk inside ``oracle_sql`` selects the
    names whose ``sqls["name"]`` assignment block contains it. Returns
    None (-> full sweep) for hunks in shared helpers outside both."""
    import subprocess
    out = subprocess.run(
        ["git", "diff", "-U0", ref, "--", "__spark_entry__.py"],
        capture_output=True, text=True, cwd=REPO, check=True)
    hunks = []
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@",
                         out.stdout, re.M):
        start = int(m.group(1))
        n = int(m.group(2)) if m.group(2) is not None else 1
        hunks.append((start, start + max(n, 1) - 1))
    if not hunks:
        return set()
    lines = open(REPO / "__spark_entry__.py").read().splitlines()
    # top-level def spans
    defs = []  # (name, start_line_1based)
    for i, ln in enumerate(lines, 1):
        m = re.match(r"^def (\w+)\(", ln)
        if m:
            defs.append((m.group(1), i))
    defs.append(("<eof>", len(lines) + 1))
    spans = [(name, s, defs[k + 1][1] - 1)
             for k, (name, s) in enumerate(defs[:-1])]
    # fn name -> query names (one function may back several entries)
    fn_to_q = {}
    for qname, fn in E.queries().items():
        fn_to_q.setdefault(getattr(fn, "__name__", ""), set()).add(qname)
    # sqls["name"] assignment start lines inside oracle_sql
    sql_marks = [(m.group(1), src_line)
                 for src_line, ln in enumerate(lines, 1)
                 if (m := re.search(r"sqls\[\"([\w]+)\"\]\s*=", ln))]
    sql_marks.append(("<eof>", len(lines) + 1))
    hits: set[str] = set()
    qnames = set(E.queries())
    for h0, h1 in hunks:
        placed = False
        for name, s, e in spans:
            if s <= h0 and h1 <= e:
                if name in fn_to_q:
                    hits |= fn_to_q[name]
                    placed = True
                elif name == "oracle_sql":
                    for k, (qn, sl) in enumerate(sql_marks[:-1]):
                        if sl <= h1 and h0 < sql_marks[k + 1][1]:
                            if qn in qnames:
                                hits.add(qn)
                                placed = True
                elif name in ("queries", "entry"):
                    placed = True  # registration lines; new names will
                    # run via their own q_ hunks, entry() is smoke-only
                break
        if not placed:
            return None
    return hits


def _affected_queries(ref: str) -> set[str]:
    """Queries whose function source mentions a module touched since
    ``ref`` or any module that (transitively) imports a touched one."""
    import inspect
    import subprocess
    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "*.py"],
        capture_output=True, text=True, cwd=REPO, check=True)
    touched = {f.rsplit("/", 1)[-1][:-3] for f in out.stdout.split()
               if f.startswith("lib_gdal_spark/") and f.endswith(".py")}
    entry_hits: set[str] = set()
    if "__spark_entry__.py" in out.stdout.split():
        entry_hits = _entry_diff_queries(ref)
        if entry_hits is None:
            print("[changed-since] __spark_entry__.py structure changed "
                  "-> full sweep")
            return set(E.queries())
    if not touched and not entry_hits:
        return entry_hits
    if not touched:
        print(f"[changed-since {ref}] entry-only edits -> "
              f"{len(entry_hits)} queries")
        return entry_hits
    deps = _module_graph()
    # reverse-transitive closure: every module that reaches a touched one
    dirty = set(touched)
    grew = True
    while grew:
        grew = False
        for mod, imports in deps.items():
            if mod not in dirty and imports & dirty:
                dirty.add(mod)
                grew = True
    pat = re.compile(r"\b(" + "|".join(map(re.escape, sorted(dirty))) + r")\b")
    hits = set()
    for name, fn in E.queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            hits.add(name)
            continue
        if pat.search(src):
            hits.add(name)
    hits |= entry_hits
    print(f"[changed-since {ref}] touched={sorted(touched)} "
          f"closure={len(dirty)} modules (+{len(entry_hits)} entry edits) "
          f"-> {len(hits)} queries")
    return hits


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--changed-since"]:
        only = _affected_queries(args[1] if len(args) > 1 else "HEAD")
        if not only:
            print("==> ALL OK (no registry-relevant changes)")
            return
    else:
        only = set(args)
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s) cols={list(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        ok = True
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"[FAIL] {name}: columns spark={sorted(sdf.columns)} "
                  f"oracle={sorted(odf.columns)}")
            ok = False
        elif len(sdf) != len(odf):
            print(f"[FAIL] {name}: rows spark={len(sdf)} oracle={len(odf)}")
            ok = False
        else:
            a, b = canon(sdf), canon(odf)
            b = b.astype(a.dtypes.to_dict(), errors="ignore")
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=True
                )
            except AssertionError as exc:
                print(f"[FAIL] {name}: values differ: {str(exc)[:400]}")
                neq = ~(a.eq(b) | (a.isna() & b.isna()))
                bad = neq.any(axis=1)
                print("spark:\n", a[bad].head(5))
                print("oracle:\n", b[bad].head(5))
                ok = False
        if ok:
            print(f"[ OK ] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print("\n==>", "ALL OK" if not failures else f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
