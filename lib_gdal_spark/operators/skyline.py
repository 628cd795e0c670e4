"""Skyline (Pareto frontier) selection — the classic multi-criteria
"best documents" operator (Borzsony, Kossmann & Stocker, ICDE 2001):
keep every row not dominated by another row, where row b dominates row a
when b is >= a on every criterion and strictly better on at least one
(">=" per each column's declared direction).

A training-data pipeline uses this to pick documents that trade off
competing quality signals (e.g. MAXIMIZE token count, MINIMIZE length —
information density) without collapsing them into one weighted score.

Scale shape: the skyline operator is idempotent and combinable —
skyline(A u B) = skyline(skyline(A) u skyline(B)) — so each partition
reduces to its local skyline inside an Arrow worker (the same
partial-then-merge contract as any combinable aggregate),
and only those survivors move. The final merge is one task over the
concatenated local skylines, guarded by ``max_candidates`` with a LOUD
error (skylines over near-anticorrelated criteria can be large; the
guard raises before any task can die quietly). No driver-side loop, no
collect: both passes are mapInPandas.

Determinism: dominance is pure integer/float comparison — no hashing,
no ordering sensitivity (the skyline of a set is unique) — so the
DuckDB NOT EXISTS oracle matches exactly.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _local_skyline(mat: np.ndarray) -> np.ndarray:
    """Row indices of the skyline of ``mat`` (all columns MAXIMIZED).
    Sort by column sum descending (a dominator always has a >= sum, so
    every row's potential dominators precede it), then keep rows not
    dominated by the skyline found so far. O(n log n + n*|skyline|)."""
    n = mat.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.argsort(-mat.sum(axis=1), kind="stable")
    keep: list[int] = []
    sky = np.empty((0, mat.shape[1]), dtype=mat.dtype)
    for i in order:
        row = mat[i]
        if sky.shape[0]:
            ge = (sky >= row).all(axis=1)
            gt = (sky > row).any(axis=1)
            if bool((ge & gt).any()):
                continue
            # duplicates of an existing skyline point are skyline too
        keep.append(int(i))
        sky = np.vstack([sky, row[None, :]])
    return np.array(keep, dtype=np.int64)


def skyline(
    df: DataFrame,
    criteria: Sequence[tuple[str, str]],
    keep_cols: Sequence[str] = (),
    max_candidates: int = 2_000_000,
) -> DataFrame:
    """Pareto frontier of ``df`` over ``criteria`` =
    [(column, "max" | "min"), ...]. Returns the skyline rows with
    ``keep_cols`` + the criterion columns. NULL in any criterion drops
    the row (NULL is never "better", matching SQL NOT EXISTS semantics
    where comparisons with NULL are not satisfied — documented contract).
    """
    if not criteria:
        raise ValueError("need at least one (column, direction) criterion")
    dirs = []
    for col, d in criteria:
        if d not in ("max", "min"):
            raise ValueError(f"direction must be max|min, got {d!r}")
        dirs.append((col, 1.0 if d == "max" else -1.0))
    cols = [c for c, _ in dirs]
    out_cols = [*keep_cols, *cols]
    proj = df.select(*out_cols).na.drop(subset=cols)

    def pass_(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        mat = np.column_stack([
            allp[c].to_numpy(dtype=np.float64) * s for c, s in dirs
        ])
        yield allp.iloc[_local_skyline(mat)]

    schema = proj.schema
    local = proj.mapInPandas(pass_, schema)
    n_cand = local.count()
    if n_cand > max_candidates:
        raise ValueError(
            f"skyline merge would gather {n_cand} local-skyline rows "
            f"(> max_candidates={max_candidates}); the criteria are too "
            "anticorrelated for a single-task merge — pre-bucket one "
            "criterion or raise max_candidates explicitly"
        )
    return local.repartition(1).mapInPandas(pass_, schema)
