"""Trajectory segmentation: speed-threshold stay/move runs per entity.

The dwell-detection operator for timestamped geotagged streams (the
classic trajectory-mining primitive — Zheng 2015's stay-point family,
here the speed-threshold run formulation, which is exactly expressible
in windowed SQL and therefore oracle-checkable): split each entity's
time-ordered track into maximal runs of consecutive STEPS classified
stay (step distance <= v_max * dt) or move, and emit the stay runs
longer than ``min_dwell_s`` with their centroid — the places the entity
lingered. Reference analog: none (lib_gdal has no trajectory layer);
the nearest kin in this repo is mapmatch (the road-snap that often
precedes this).

Scale shape: ONE window (partitionBy entity, orderBy ts, monotonic lag
+ running sum — Spark executes it as a single keyed sort within
partitions after one hash exchange on the entity key; per-entity tracks
are small, so no skew beyond the hottest entity's row count) followed by
one map-side-combinable groupBy. No UDFs, no cross joins; everything is
JVM column math, and the stay/move comparison is a single multiply
(dist^2 <= (v_max*dt)^2 avoided deliberately — sqrt once, spelled
identically in the oracle, keeps the expression IEEE-identical in both
engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["dwell_segments", "trajectory_similarity", "od_matrix",
           "hausdorff_pairs", "dtw_pairs"]


def dwell_segments(track: DataFrame, v_max: float,
                   min_dwell_s: float = 0.0) -> DataFrame:
    """Stay segments of each entity's track.

    ``track``: (eid, ts, x, y) — ts a timestamp, x/y planar coordinates
    (pre-project lon/lat for metric thresholds). Ordering ties break on
    (ts, x, y), so the result is deterministic for any input.

    A STEP i-1 -> i is a ``stay`` step when
    ``dist(i-1, i) <= v_max * dt_seconds`` (dt from microsecond-exact
    epoch arithmetic), else a ``move`` step. Maximal runs of equal-class
    steps form segments; this returns the stay runs with
    ``dur_s >= min_dwell_s`` as
    (eid, seg, t_start, t_end, dur_s, n_pts, cx, cy): seg the step-run
    ordinal within the entity, t_start the run's first point's ts,
    n_pts the number of distinct track points in the run (steps + 1),
    and (cx, cy) the unweighted centroid of those points.
    """
    w = Window.partitionBy("eid").orderBy("ts", "x", "y")
    st = track.select(
        F.col("eid").alias("eid"),
        # parquet timestamps arrive as TIMESTAMP_NTZ; unix_micros needs
        # TIMESTAMP, and the session timezone is pinned UTC so the cast
        # is a pure reinterpretation
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    ).withColumn("px", F.lag("x").over(w)) \
     .withColumn("py", F.lag("y").over(w)) \
     .withColumn("pts", F.lag("ts").over(w)) \
     .where(F.col("pts").isNotNull())
    dist = F.sqrt((F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
                  + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py")))
    dt = (F.unix_micros("ts") - F.unix_micros("pts")) / F.lit(1000000.0)
    st = st.withColumn(
        "cls", F.when(dist <= F.lit(float(v_max)) * dt, F.lit("stay"))
                .otherwise(F.lit("move")))
    st = st.withColumn(
        "brk",
        F.when(F.lag("cls").over(w).isNull()
               | (F.lag("cls").over(w) != F.col("cls")), 1).otherwise(0))
    st = st.withColumn(
        "seg", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    stays = st.where(F.col("cls") == "stay")
    agg = stays.groupBy("eid", "seg").agg(
        F.min("pts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.count(F.lit(1)).alias("n_steps"),
        # centroid over DISTINCT run points: every step's cur point
        # plus the run's first prev point (min_by on the order key)
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.min_by("px", F.struct("ts", "x", "y")).alias("fx"),
        F.min_by("py", F.struct("ts", "x", "y")).alias("fy"),
    )
    dur = (F.unix_micros("t_end") - F.unix_micros("t_start")) / F.lit(1e6)
    n_pts = F.col("n_steps") + 1
    return (
        agg.where(dur >= F.lit(float(min_dwell_s)))
        .select(
            "eid", "seg", "t_start", "t_end",
            F.round(dur, 6).alias("dur_s"),
            n_pts.cast("long").alias("n_pts"),
            F.round((F.col("sx") + F.col("fx")) / n_pts, 9).alias("cx"),
            F.round((F.col("sy") + F.col("fy")) / n_pts, 9).alias("cy"),
        )
    )


def trajectory_similarity(
    tracks: DataFrame,
    id_col: str = "tid",
    max_len: int = 4096,
    max_pairs: int = 2_000_000,
) -> DataFrame:
    """All-pairs trajectory similarity: discrete Fréchet distance (Eiter
    & Mannila 1994 coupling recurrence) and directed-symmetric Hausdorff
    distance — the two classic curve-matching metrics behind trajectory
    clustering, map-trace dedup, and route canonicalization.

    ``tracks``: (tid long, seq int, x long, y long) — integer-lattice
    vertices. Both metrics are returned SQUARED (``frechet2``,
    ``hausdorff2``): on integer coordinates every DP cell is an exact
    int64 (max/min of squared distances — no sqrt anywhere), so results
    are bit-reproducible and oracle-checkable; callers wanting metric
    units take one sqrt at the end.

    Scale shape: one groupBy assembles each track into an ordered array
    (sort_array on the (seq, x, y) struct); the tid_a < tid_b self-join
    is the pair axis — QUADRATIC in the number of tracks by definition
    of all-pairs, guarded by ``max_pairs`` (pre-bucket by region or
    cluster upstream to bound it); each pair's O(La*Lb) dynamic program
    runs inside an Arrow batch, lengths guarded by ``max_len``.

    Returns (tid_a, tid_b, len_a, len_b, hausdorff2, frechet2).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    asm = (
        tracks.groupBy(F.col(id_col).alias("tid"))
        .agg(F.sort_array(F.collect_list(
            F.struct("seq", "x", "y"))).alias("pts"),
            F.count(F.lit(1)).alias("n"))
    )
    bad = asm.where(F.col("n") > max_len).limit(1).collect()
    if bad:
        raise ValueError(
            f"track {bad[0]['tid']} has {bad[0]['n']} vertices "
            f"(> max_len={max_len}); simplify or split upstream")
    n_tracks = asm.count()
    if n_tracks * (n_tracks - 1) // 2 > max_pairs:
        raise ValueError(
            f"{n_tracks} tracks -> {n_tracks * (n_tracks - 1) // 2} pairs "
            f"(> max_pairs={max_pairs}); pre-cluster or bucket upstream")
    a = asm.select(F.col("tid").alias("tid_a"), F.col("pts").alias("pa"))
    b = asm.select(F.col("tid").alias("tid_b"), F.col("pts").alias("pb"))
    pairs = a.join(b, F.col("tid_a") < F.col("tid_b"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for _, r in batch.iterrows():
                pa = np.array([(p["x"], p["y"]) for p in r["pa"]],
                              dtype=np.int64)
                pb = np.array([(p["x"], p["y"]) for p in r["pb"]],
                              dtype=np.int64)
                dx = pa[:, 0][:, None] - pb[:, 0][None, :]
                dy = pa[:, 1][:, None] - pb[:, 1][None, :]
                d2 = dx * dx + dy * dy  # (La, Lb) exact int64
                h2 = max(d2.min(axis=1).max(), d2.min(axis=0).max())
                la, lb = d2.shape
                prev = np.empty(lb, dtype=np.int64)
                prev[0] = d2[0, 0]
                for j in range(1, lb):
                    prev[j] = max(prev[j - 1], d2[0, j])
                for i in range(1, la):
                    cur = np.empty(lb, dtype=np.int64)
                    cur[0] = max(prev[0], d2[i, 0])
                    for j in range(1, lb):
                        cur[j] = max(d2[i, j],
                                     min(prev[j], prev[j - 1], cur[j - 1]))
                    prev = cur
                rows.append((int(r["tid_a"]), int(r["tid_b"]),
                             la, lb, int(h2), int(prev[lb - 1])))
            yield pd.DataFrame(
                rows, columns=["tid_a", "tid_b", "len_a", "len_b",
                               "hausdorff2", "frechet2"])

    return pairs.mapInPandas(
        kernel,
        schema="tid_a long, tid_b long, len_a long, len_b long, "
               "hausdorff2 long, frechet2 long",
    )


def od_matrix(track: DataFrame, cell: float) -> DataFrame:
    """Origin-destination flow matrix (the flow-mapping staple; GIS
    'OD cost matrix' / flowmap aggregation): bin each track point to a
    square cell of size ``cell``, take every CONSECUTIVE step (per
    entity, ordered by (ts, x, y) — the dwell_segments determinism
    contract) that crosses a cell boundary, and aggregate transitions
    into (origin cell, destination cell) flows.

    Returns (ocx, ocy, dcx, dcy, trips, users): trips = number of
    boundary-crossing steps, users = distinct entities making that
    transition. Exact integers end-to-end (cells are floor-divided
    lattice keys), so the result is order- and partition-independent.

    Scale shape: ONE window shuffle keyed by entity (the track is
    already the per-user event stream) + one combinable groupBy on the
    4-int cell-pair key; no geometry moves. At web scale the flows
    table is tiny (|cells|^2 worst case, far less in practice) while
    the input can be the full 10^12-event stream.
    """
    w = Window.partitionBy("eid").orderBy("ts", "x", "y")
    cx = F.floor(F.col("x") / cell).cast("long")
    cy = F.floor(F.col("y") / cell).cast("long")
    st = track.select(
        "eid", "ts", "x", "y", cx.alias("cx"), cy.alias("cy"),
    ).withColumn("pcx", F.lag("cx").over(w)) \
     .withColumn("pcy", F.lag("cy").over(w)) \
     .where(F.col("pcx").isNotNull()
            & ((F.col("cx") != F.col("pcx"))
               | (F.col("cy") != F.col("pcy"))))
    return (
        st.groupBy(
            F.col("pcx").alias("ocx"), F.col("pcy").alias("ocy"),
            F.col("cx").alias("dcx"), F.col("cy").alias("dcy"))
        .agg(F.count(F.lit(1)).alias("trips"),
             F.countDistinct("eid").alias("users"))
    )


def hausdorff_pairs(
    points: DataFrame,
    pairs: DataFrame,
    tid_col: str = "tid",
    x_col: str = "x",
    y_col: str = "y",
    round_decimals: int = 9,
) -> DataFrame:
    """Discrete Hausdorff distance for each (tid_a, tid_b) row of
    ``pairs`` over the point table ``points`` (tid, x, y):

        h(A,B) = max_{a in A} min_{b in B} d(a, b)
        H(A,B) = max(h(A,B), h(B,A))

    Distances round at ``round_decimals`` BEFORE the min/max lattice so
    both engines aggregate identical values (the repo-wide tie
    doctrine). Returns (tid_a, tid_b, h_ab, h_ba, hausdorff).
    """
    a = points.select(F.col(tid_col).alias("tid_a"),
                      F.col(x_col).alias("xa"), F.col(y_col).alias("ya"))
    b = points.select(F.col(tid_col).alias("tid_b"),
                      F.col(x_col).alias("xb"), F.col(y_col).alias("yb"))
    j = (pairs.join(a, "tid_a").join(b, "tid_b"))
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    d = F.round(F.sqrt(dx * dx + dy * dy), round_decimals)
    # forward: min over b per (pair, a-point), then max over the pair
    fwd = (j.groupBy("tid_a", "tid_b", "xa", "ya")
           .agg(F.min(d).alias("dmin"))
           .groupBy("tid_a", "tid_b")
           .agg(F.max("dmin").alias("h_ab")))
    bwd = (j.groupBy("tid_a", "tid_b", "xb", "yb")
           .agg(F.min(d).alias("dmin"))
           .groupBy("tid_a", "tid_b")
           .agg(F.max("dmin").alias("h_ba")))
    return (fwd.join(bwd, ["tid_a", "tid_b"])
            .select("tid_a", "tid_b", "h_ab", "h_ba",
                    F.greatest("h_ab", "h_ba").alias("hausdorff")))


def dtw_pairs(
    points: DataFrame,
    pairs: DataFrame,
    tid_col: str = "tid",
    seq_col: str = "vi",
    x_col: str = "x",
    y_col: str = "y",
    max_len: int = 256,
) -> DataFrame:
    """Dynamic time warping distance for each (tid_a, tid_b) pair:
    classic Sakoe-Chiba DP with steps (i-1,j), (i,j-1), (i-1,j-1) and
    SQUARED euclidean point cost — integer coordinates make every cell
    of the DP table an exact BIGINT, so the result is reproducible at
    any parallelism and in a SQL oracle (the gate unrolls the DP by
    anti-diagonals).

    Shape: the two point sequences of one pair meet inside one Arrow
    group (applyInPandas over the explicit pair table — never
    all-pairs); the O(n*m) table is worker-local and ``max_len`` guards
    the quadratic cell count loudly. Returns (tid_a, tid_b, n_a, n_b,
    dtw_cost BIGINT)."""
    import numpy as np
    import pandas as pd

    a = points.select(F.col(tid_col).alias("tid_a"),
                      F.col(seq_col).alias("ia"),
                      F.col(x_col).alias("xa"), F.col(y_col).alias("ya"))
    b = points.select(F.col(tid_col).alias("tid_b"),
                      F.col(seq_col).alias("ib"),
                      F.col(x_col).alias("xb"), F.col(y_col).alias("yb"))
    j = pairs.join(a, "tid_a").join(b, "tid_b")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        aa = (pdf[["ia", "xa", "ya"]].drop_duplicates()
              .sort_values("ia", ignore_index=True))
        bb = (pdf[["ib", "xb", "yb"]].drop_duplicates()
              .sort_values("ib", ignore_index=True))
        n, m = len(aa), len(bb)
        if n > max_len or m > max_len:
            raise ValueError(
                f"dtw_pairs: sequence longer than max_len={max_len} "
                f"({n}x{m}); raise max_len knowingly — the DP table is "
                "O(n*m) per pair")
        ax = aa["xa"].to_numpy(np.int64)[:, None]
        ay = aa["ya"].to_numpy(np.int64)[:, None]
        bx = bb["xb"].to_numpy(np.int64)[None, :]
        by = bb["yb"].to_numpy(np.int64)[None, :]
        cost = (ax - bx) ** 2 + (ay - by) ** 2
        d = np.empty((n, m), dtype=np.int64)
        d[0, 0] = cost[0, 0]
        for i2 in range(1, n):
            d[i2, 0] = cost[i2, 0] + d[i2 - 1, 0]
        for j2 in range(1, m):
            d[0, j2] = cost[0, j2] + d[0, j2 - 1]
        for i2 in range(1, n):
            for j2 in range(1, m):
                d[i2, j2] = cost[i2, j2] + min(
                    d[i2 - 1, j2], d[i2, j2 - 1], d[i2 - 1, j2 - 1])
        return pd.DataFrame([{
            "tid_a": key[0], "tid_b": key[1],
            "n_a": n, "n_b": m, "dtw_cost": int(d[n - 1, m - 1]),
        }])

    return j.groupBy("tid_a", "tid_b").applyInPandas(
        run, schema="tid_a long, tid_b long, n_a long, n_b long, "
                    "dtw_cost long")


def frechet_pairs(
    points: DataFrame,
    pairs: DataFrame,
    tid_col: str = "tid",
    seq_col: str = "vi",
    x_col: str = "x",
    y_col: str = "y",
    max_len: int = 256,
) -> DataFrame:
    """Discrete Frechet distance (squared, integer) for each explicit
    (tid_a, tid_b) pair — the coupled-walk distance (Eiter & Mannila
    1994): F(i,j) = max(d2(i,j), min(F(i-1,j), F(i,j-1), F(i-1,j-1))).
    Integer squared-euclidean costs keep every DP cell an exact BIGINT.
    Same shape/guards as :func:`dtw_pairs`. Returns (tid_a, tid_b,
    n_a, n_b, frechet_d2)."""
    import numpy as np
    import pandas as pd

    a = points.select(F.col(tid_col).alias("tid_a"),
                      F.col(seq_col).alias("ia"),
                      F.col(x_col).alias("xa"), F.col(y_col).alias("ya"))
    b = points.select(F.col(tid_col).alias("tid_b"),
                      F.col(seq_col).alias("ib"),
                      F.col(x_col).alias("xb"), F.col(y_col).alias("yb"))
    j = pairs.join(a, "tid_a").join(b, "tid_b")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        aa = (pdf[["ia", "xa", "ya"]].drop_duplicates()
              .sort_values("ia", ignore_index=True))
        bb = (pdf[["ib", "xb", "yb"]].drop_duplicates()
              .sort_values("ib", ignore_index=True))
        n, m = len(aa), len(bb)
        if n > max_len or m > max_len:
            raise ValueError(
                f"frechet_pairs: sequence over max_len={max_len}")
        ax = aa["xa"].to_numpy(np.int64)[:, None]
        ay = aa["ya"].to_numpy(np.int64)[:, None]
        bx = bb["xb"].to_numpy(np.int64)[None, :]
        by = bb["yb"].to_numpy(np.int64)[None, :]
        c = (ax - bx) ** 2 + (ay - by) ** 2
        d = np.empty((n, m), dtype=np.int64)
        d[0, 0] = c[0, 0]
        for i2 in range(1, n):
            d[i2, 0] = max(c[i2, 0], d[i2 - 1, 0])
        for j2 in range(1, m):
            d[0, j2] = max(c[0, j2], d[0, j2 - 1])
        for i2 in range(1, n):
            for j2 in range(1, m):
                d[i2, j2] = max(c[i2, j2], min(
                    d[i2 - 1, j2], d[i2, j2 - 1], d[i2 - 1, j2 - 1]))
        return pd.DataFrame([{
            "tid_a": key[0], "tid_b": key[1],
            "n_a": n, "n_b": m, "frechet_d2": int(d[n - 1, m - 1]),
        }])

    return j.groupBy("tid_a", "tid_b").applyInPandas(
        run, schema="tid_a long, tid_b long, n_a long, n_b long, "
                    "frechet_d2 long")


def lcss_pairs(
    points: DataFrame,
    pairs: DataFrame,
    eps2: int,
    tid_col: str = "tid",
    seq_col: str = "vi",
    x_col: str = "x",
    y_col: str = "y",
    max_len: int = 256,
) -> DataFrame:
    """Longest common subsequence similarity for trajectories (Vlachos,
    Kollios & Gunopulos, ICDE 2002): points match when their SQUARED
    distance <= ``eps2`` (integer threshold — no float epsilon);
    L(i,j) = L(i-1,j-1)+1 on a match else max(L(i-1,j), L(i,j-1)).
    Returns (tid_a, tid_b, n_a, n_b, lcss_len, lcss_sim) with
    sim = len / min(n_a, n_b) (the paper's normalization, one
    division)."""
    import numpy as np
    import pandas as pd

    a = points.select(F.col(tid_col).alias("tid_a"),
                      F.col(seq_col).alias("ia"),
                      F.col(x_col).alias("xa"), F.col(y_col).alias("ya"))
    b = points.select(F.col(tid_col).alias("tid_b"),
                      F.col(seq_col).alias("ib"),
                      F.col(x_col).alias("xb"), F.col(y_col).alias("yb"))
    j = pairs.join(a, "tid_a").join(b, "tid_b")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        aa = (pdf[["ia", "xa", "ya"]].drop_duplicates()
              .sort_values("ia", ignore_index=True))
        bb = (pdf[["ib", "xb", "yb"]].drop_duplicates()
              .sort_values("ib", ignore_index=True))
        n, m = len(aa), len(bb)
        if n > max_len or m > max_len:
            raise ValueError(f"lcss_pairs: sequence over max_len={max_len}")
        ax = aa["xa"].to_numpy(np.int64)[:, None]
        ay = aa["ya"].to_numpy(np.int64)[:, None]
        bx = bb["xb"].to_numpy(np.int64)[None, :]
        by = bb["yb"].to_numpy(np.int64)[None, :]
        hit = ((ax - bx) ** 2 + (ay - by) ** 2) <= eps2
        d = np.zeros((n + 1, m + 1), dtype=np.int64)
        for i2 in range(1, n + 1):
            for j2 in range(1, m + 1):
                if hit[i2 - 1, j2 - 1]:
                    d[i2, j2] = d[i2 - 1, j2 - 1] + 1
                else:
                    d[i2, j2] = max(d[i2 - 1, j2], d[i2, j2 - 1])
        L = int(d[n, m])
        return pd.DataFrame([{
            "tid_a": key[0], "tid_b": key[1], "n_a": n, "n_b": m,
            "lcss_len": L, "lcss_sim": round(L / min(n, m), 9),
        }])

    return j.groupBy("tid_a", "tid_b").applyInPandas(
        run, schema="tid_a long, tid_b long, n_a long, n_b long, "
                    "lcss_len long, lcss_sim double")


def circular_stats(
    points: DataFrame,
    tid_col: str = "tid",
    seq_col: str = "vi",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Circular statistics of trajectory step headings (Mardia & Jupp,
    Directional Statistics): each consecutive step contributes its UNIT
    vector (dx/len, dy/len) — algebraic, no trig — quantized to the
    1e-12 lattice and summed as exact decimal, so the resultant is
    engine-exact. Reports the circular mean direction (degrees,
    atan2(V, U) — one fixed float), the mean resultant length
    R = |(U, V)| / n, circular variance 1 - R, and the Rayleigh
    uniformity statistic z = n * R^2 (large z = directed movement).
    Zero-length steps drop. One row
    (n_steps, mean_deg, r_len, circ_var, rayleigh_z)."""
    w = Window.partitionBy(tid_col).orderBy(seq_col)
    steps = points.select(
        tid_col,
        (F.lead(x_col).over(w) - F.col(x_col)).alias("dx"),
        (F.lead(y_col).over(w) - F.col(y_col)).alias("dy"),
    ).where(F.col("dx").isNotNull()
            & ((F.col("dx") != 0) | (F.col("dy") != 0)))
    ln = F.sqrt((F.col("dx") * F.col("dx")
                 + F.col("dy") * F.col("dy")).cast("double"))
    uq = F.round(F.col("dx").cast("double") / ln * 1e12) \
        .cast("decimal(38,0)")
    vq = F.round(F.col("dy").cast("double") / ln * 1e12) \
        .cast("decimal(38,0)")
    agg = steps.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(uq).alias("u"), F.sum(vq).alias("v"))
    u = F.col("u").cast("double") / 1e12
    v = F.col("v").cast("double") / 1e12
    n = F.col("n").cast("double")
    r = F.sqrt(u * u + v * v) / n
    return agg.select(
        F.col("n").cast("long").alias("n_steps"),
        F.round(F.degrees(F.atan2(v, u)), 9).alias("mean_deg"),
        F.round(r, 9).alias("r_len"),
        F.round(1.0 - r, 9).alias("circ_var"),
        F.round(n * r * r, 9).alias("rayleigh_z"))
