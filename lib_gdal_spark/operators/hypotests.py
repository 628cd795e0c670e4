"""Classical hypothesis tests as exact-integer DataFrame aggregations.

The repo-wide exactness doctrine applied to rank/count statistics: every
test statistic is arranged so ALL aggregation happens on integers
(doubled average ranks, contingency counts, n-scaled sums — all
order-independent and shuffle-safe), with a handful of FIXED float
expressions applied to the exact aggregates at the end. DuckDB oracles
replay the identical integer derivations hash-exactly.

Beyond-reference surface (lib_gdal has no statistics layer); the
textbook formulas are public (Conover, Practical Nonparametric
Statistics; Kendall & Stuart). Companion of timeseries.welch_ttest_row.

Rank convention: ties take the average rank. To stay integer, DOUBLED
ranks are used everywhere: r2(v) = 2*count(<v) + count(==v) + 1, so
sums of r2 are exact BIGINT and the 2x factors cancel in the final
float expressions.

Scale: every test is one groupBy(value) count + one window prefix over
the DISTINCT value spine (|values| rows, not |rows|) + combinable
per-group aggregates. No all-pairs anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _doubled_ranks(df: DataFrame, val_col: str) -> DataFrame:
    """(value, cnt, r2) over the distinct-value spine: r2 = doubled
    average rank of every row holding that value."""
    counts = df.groupBy(F.col(val_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    return counts.select(
        "v", "cnt",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1
         ).alias("r2"))


def _tie_term(ranks: DataFrame):
    """sum of (t^3 - t) over tied groups — the shared tie correction."""
    return F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))


def mann_whitney_u(df: DataFrame, group_col: str, val_col: str,
                   group_a, group_b) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum for two groups: exact doubled
    rank sums, U, and the tie-corrected normal approximation

        z = (U1 - n1*n2/2) / sqrt(n1*n2/12 * ((n+1) - T/(n*(n-1))))

    with T = sum(t^3 - t). One row: (n1, n2, r2_sum1, u1_x2, z)
    — u1_x2 = 2*U1 stays integer."""
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    ranks = _doubled_ranks(two, "v")
    per_val = two.groupBy("g", "v").agg(F.count(F.lit(1)).alias("k"))
    j = per_val.join(ranks, "v")
    agg = j.groupBy("g").agg(
        F.sum(F.col("k")).alias("n"),
        F.sum(F.col("k") * F.col("r2")).alias("r2_sum"))
    t = ranks.agg(_tie_term(ranks).alias("tt"))
    a = agg.where(F.col("g") == group_a).select(
        F.col("n").alias("n1"), F.col("r2_sum").alias("r2_sum1"))
    b = agg.where(F.col("g") == group_b).select(F.col("n").alias("n2"))
    out = a.crossJoin(b).crossJoin(F.broadcast(t))
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1x2 = F.col("r2_sum1") - n1 * (n1 + 1)  # 2*U1, exact
    var = (n1 * n2).cast("double") / 12.0 * (
        (n + 1).cast("double")
        - F.col("tt").cast("double") / (n * (n - 1)).cast("double"))
    z = (u1x2.cast("double") / 2.0 - (n1 * n2).cast("double") / 2.0) \
        / F.sqrt(var)
    return out.select(
        n1.cast("long").alias("n1"), n2.cast("long").alias("n2"),
        F.col("r2_sum1").cast("long").alias("r2_sum1"),
        u1x2.cast("long").alias("u1_x2"),
        F.round(z, 9).alias("z"))


def kruskal_wallis(df: DataFrame, group_col: str,
                   val_col: str) -> DataFrame:
    """Kruskal-Wallis H across all groups, tie-corrected:

        H = [12/(n(n+1)) * sum_g R_g^2/n_g - 3(n+1)]
            / (1 - T/(n^3 - n))

    One row: (k_groups, n, h) with the rank sums exact (doubled-rank
    sums divided by 2 only inside the final float)."""
    d = df.select(F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    ranks = _doubled_ranks(d, "v")
    per_val = d.groupBy("g", "v").agg(F.count(F.lit(1)).alias("k"))
    j = per_val.join(ranks, "v")
    agg = j.groupBy("g").agg(
        F.sum("k").alias("ng"),
        F.sum(F.col("k").cast("decimal(38,0)")
              * F.col("r2").cast("decimal(38,0)")).alias("r2g"))
    t = ranks.agg(_tie_term(ranks).alias("tt"))
    tot = agg.agg(
        F.count(F.lit(1)).alias("kg"), F.sum("ng").alias("n"),
        F.sum((F.col("r2g") * F.col("r2g")).cast("double")
              / (4.0 * F.col("ng").cast("double"))).alias("rr"))
    out = tot.crossJoin(F.broadcast(t))
    n = F.col("n").cast("double")
    h0 = 12.0 / (n * (n + 1.0)) * F.col("rr") - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("tt").cast("double") / (n * n * n - n)
    return out.select(
        F.col("kg").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        F.round(h0 / corr, 9).alias("h"))


def chi2_independence(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pearson chi-square test of independence on the a x b contingency
    table: chi2 = sum (O - RC/N)^2 / (RC/N) from exact integer counts.
    One row: (n, df_free, chi2)."""
    ct = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("o"))
    ra = ct.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = ct.groupBy("b").agg(F.sum("o").alias("cb"))
    n = ct.agg(F.sum("o").alias("n"),
               F.countDistinct("a").alias("na"),
               F.countDistinct("b").alias("nb"))
    # the full a x b grid (zero cells contribute E, not 0)
    grid = ra.crossJoin(cb).join(ct, ["a", "b"], "left").select(
        "a", "b", "ra", "cb", F.coalesce("o", F.lit(0)).alias("o"))
    j = grid.crossJoin(F.broadcast(n))
    e = (F.col("ra") * F.col("cb")).cast("double") / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    return j.agg(
        F.first("n").alias("n"),
        ((F.first("na") - 1) * (F.first("nb") - 1)).cast("long")
        .alias("df_free"),
        F.round(F.sum(term), 9).alias("chi2"))


def anova_oneway(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """One-way ANOVA F from exact integer moments: with group sums S_g,
    counts n_g, total sum S and n,

        SSB = sum S_g^2/n_g - S^2/n ;  SSW = sum x^2 - sum S_g^2/n_g
        F   = (SSB/(k-1)) / (SSW/(n-k))

    Values must be integers (the repo's count-series contract). SSB is
    a difference of near-equal large terms, so a float sum over groups
    is order-dependent through catastrophic cancellation; instead the
    k-row group-stat table collects to the driver (the markov_chain /
    kmeans driver-state contract) and SSB/SSW are computed as EXACT
    arbitrary-precision fractions

        SSB = sum_g (n*S_g - n_g*S)^2 * prod_{h!=g} n_h / (n^2 prod n_h)

    converted to float exactly once (float(num)/float(den), the fixed
    expression an oracle can replay). One row: (k_groups, n, ssb, ssw,
    f)."""
    d = df.select(F.col(group_col).alias("g"),
                  F.col(val_col).cast("long").alias("v"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = d.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("v").alias("sg"),
        F.sum(_dc("v") * _dc("v")).alias("s2g"))
    rows = g.collect()
    k = len(rows)
    ngs = [int(r["ng"]) for r in rows]
    sgs = [int(r["sg"]) for r in rows]
    s2s = [int(r["s2g"]) for r in rows]
    n = sum(ngs)
    s = sum(sgs)
    prod_all = 1
    for x in ngs:
        prod_all *= x
    ssb_num = sum((n * sgs[i] - ngs[i] * s) ** 2 * (prod_all // ngs[i])
                  for i in range(k))
    ssb_den = n * n * prod_all
    ssw_num = sum(s2s) * prod_all - sum(
        sgs[i] * sgs[i] * (prod_all // ngs[i]) for i in range(k))
    ssw_den = prod_all
    ssb = float(ssb_num) / float(ssb_den)
    ssw = float(ssw_num) / float(ssw_den)
    fstat = (ssb / (k - 1)) / (ssw / (n - k))
    spark = df.sparkSession
    # ssb/ssw round at 6 (they reach 1e7 — 9 decimals is past the
    # 17-significant-digit double edge where engine round() impls
    # diverge); f is O(1e2) and rounds at 9
    return spark.createDataFrame(
        [(k, n, round(ssb, 6), round(ssw, 6), round(fstat, 9))],
        "k_groups long, n long, ssb double, ssw double, f double")


def ks_2samp(df: DataFrame, group_col: str, val_col: str,
             group_a, group_b) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: D = max_v |F1(v) - F2(v)| held as
    the EXACT integer numerator max |c1(v)*n2 - c2(v)*n1| over the
    pooled value spine. One row: (n1, n2, d_num, d, lambda_stat) with
    lambda = d * sqrt(n1*n2/(n1+n2)) (the asymptotic test scale)."""
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    cnt = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("c2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        "v", F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"))
    tot = two.groupBy().agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("n2"))
    j = cum.crossJoin(F.broadcast(tot))
    dnum = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    out = j.agg(F.max(dnum).alias("d_num"),
                F.first("n1").alias("n1"), F.first("n2").alias("n2"))
    d = F.col("d_num").cast("double") \
        / (F.col("n1") * F.col("n2")).cast("double")
    lam = d * F.sqrt((F.col("n1") * F.col("n2")).cast("double")
                     / (F.col("n1") + F.col("n2")).cast("double"))
    return out.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(d, 9).alias("d"),
        F.round(lam, 9).alias("lambda_stat"))


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation with average-rank ties: Pearson on the
    DOUBLED rank columns (the 2x factors cancel), every moment an exact
    decimal(38,0). One row: (n, rho)."""
    d = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    rx = _doubled_ranks(d.select(F.col("x").alias("v")), "v") \
        .select(F.col("v").alias("x"), F.col("r2").alias("rx"))
    ry = _doubled_ranks(d.select(F.col("y").alias("v")), "v") \
        .select(F.col("v").alias("y"), F.col("r2").alias("ry"))
    j = d.join(rx, "x").join(ry, "y")
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"), F.sum("ry").alias("sy"),
        F.sum(_dc("rx") * _dc("ry")).alias("sxy"),
        F.sum(_dc("rx") * _dc("rx")).alias("sxx"),
        F.sum(_dc("ry") * _dc("ry")).alias("syy"))
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx").cast("decimal(38,0)")
           * F.col("sy").cast("decimal(38,0)")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx").cast("decimal(38,0)")
          * F.col("sx").cast("decimal(38,0)")).cast("double")
    dy = (n * F.col("syy") - F.col("sy").cast("decimal(38,0)")
          * F.col("sy").cast("decimal(38,0)")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / F.sqrt(dx * dy), 9).alias("rho"))


def mcnemar_test(df: DataFrame, before_col: str, after_col: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: only the discordant
    counts matter — b = (1 -> 0), c = (0 -> 1);

        chi2 = (b - c)^2 / (b + c)   (uncorrected)
        chi2_cc = (|b - c| - 1)^2 / (b + c)   (continuity-corrected)

    Exact integer counts, two fixed float divisions. One row:
    (n, b, c, chi2, chi2_cc)."""
    d = df.select(F.col(before_col).cast("int").alias("x"),
                  F.col(after_col).cast("int").alias("y"))
    agg = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1)
              .otherwise(0)).alias("b"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1)
              .otherwise(0)).alias("c"))
    b, c = F.col("b"), F.col("c")
    chi2 = ((b - c) * (b - c)).cast("double") / (b + c).cast("double")
    cc = (F.abs(b - c) - 1)
    chi2cc = (cc * cc).cast("double") / (b + c).cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        b.cast("long").alias("b"), c.cast("long").alias("c"),
        F.round(chi2, 9).alias("chi2"), F.round(chi2cc, 9).alias("chi2_cc"))


def bh_fdr(df: DataFrame, id_col: str, p_col: str) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment: with p-values sorted
    ascending (rank i of n, ties broken on the id),

        q_(i) = min_{j >= i} p_(j) * n / j ,  clipped at 1

    — the suffix-min over the rank spine, one window pass. The
    multiplication p*n/j is the single float expression, evaluated
    identically in SQL; q rounds at 9. Returns (id, p, rank, q)."""
    w = Window.orderBy(F.col("p"), F.col("id"))
    tot = df.select(F.count(F.lit(1)).alias("n"))
    ranked = (df.select(F.col(id_col).alias("id"),
                        F.col(p_col).alias("p"))
              .withColumn("rank", F.row_number().over(w))
              .crossJoin(F.broadcast(tot)))
    raw = ranked.withColumn(
        "raw", F.col("p") * F.col("n").cast("double")
        / F.col("rank").cast("double"))
    wmin = Window.orderBy(F.col("rank")).rowsBetween(0, Window.unboundedFollowing)
    return raw.select(
        "id", "p", F.col("rank").cast("long").alias("rank"),
        F.round(F.least(F.min("raw").over(wmin), F.lit(1.0)), 9).alias("q"))


def gini_lorenz(df: DataFrame, val_col: str, deciles: int = 10) -> DataFrame:
    """Gini coefficient + Lorenz curve of a non-negative integer value
    column (the inequality/concentration audit for token counts, traffic,
    link mass):

        G = (2 * sum_i i*x_(i) - (n+1) * sum x) / (n * sum x)

    over the ascending sort (ties broken stably by the window's order —
    any order among equal values gives the same sums). The numerator and
    both sums are exact integers; one final division. Lorenz points
    report the cumulative value share at each 1/``deciles`` population
    quantile boundary (exact integer cumsum over the rank spine).

    Scale shape: NO global row sort — everything runs on the
    DISTINCT-VALUE spine (one combinable groupBy(value) count + a
    spine-sized prefix window): a value v holding ranks [r+1, r+c]
    contributes v*(c*r + c*(c+1)/2) to the rank-weighted sum, and each
    decile boundary position p lands inside exactly one value group,
    where cum(p) = cum_before + (p - r)*v.

    Returns one row per EXACT boundary — each k in 1..``deciles`` with
    k*n divisible by ``deciles`` (all ``deciles`` rows only when n is a
    multiple of it; k = ``deciles`` is always present): (decile,
    pop_frac, cum_share, gini) with gini repeated (flat schema)."""
    counts = df.groupBy(F.col(val_col).cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v")
    spine = counts.select(
        "v", "c",
        F.coalesce(F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("r"),
        F.coalesce(F.sum(F.col("c") * F.col("v")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("cum_before"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # c*(c+1) DIV 2 stays integer (always even product) — decimal
    # division would introduce fractional scale
    iv_term = _dc("v") * (_dc("c") * _dc("r")
                          + F.expr("c * (c + 1) DIV 2")
                          .cast("decimal(38,0)"))
    tot = spine.agg(F.sum("c").alias("n"),
                    F.sum(F.col("c") * F.col("v")).alias("s"),
                    F.sum(iv_term).alias("iv"))
    # decile boundary p = k*n/deciles inside this group: r < p <= r+c
    ks = counts.sparkSession.range(1, deciles + 1).select(
        F.col("id").alias("k"))
    dec = (spine.crossJoin(F.broadcast(tot))
           .join(F.broadcast(ks),
                 ((F.col("k") * F.col("n")) % deciles == 0)
                 & (F.col("r") * deciles < F.col("k") * F.col("n"))
                 & (F.col("k") * F.col("n")
                    <= (F.col("r") + F.col("c")) * deciles))
           .select(
               F.col("k").alias("decile"),
               (F.col("k").cast("double") / deciles).alias("pop_frac"),
               ((F.col("cum_before")
                 + ((F.col("k") * F.col("n") / deciles).cast("long")
                    - F.col("r")) * F.col("v")).cast("double")
                / F.col("s").cast("double")).alias("cum_share")))
    g = tot.select(
        ((2 * F.col("iv") - (F.col("n") + 1).cast("decimal(38,0)")
          * F.col("s").cast("decimal(38,0)")).cast("double")
         / (F.col("n").cast("double") * F.col("s").cast("double")))
        .alias("gini"))
    return (dec.crossJoin(F.broadcast(g))
            .select("decile", F.round("pop_frac", 9).alias("pop_frac"),
                    F.round("cum_share", 9).alias("cum_share"),
                    F.round("gini", 9).alias("gini")))


def herfindahl(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index over group shares:
    HHI = sum_g (S_g / S)^2 = sum S_g^2 / S^2 — both sums exact
    decimal(38,0), one division. Returns (k_groups, hhi, hhi_norm)
    with the 0..1 normalization (HHI - 1/k)/(1 - 1/k)."""
    g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.col(val_col).cast("long")).alias("sg"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = g.agg(F.count(F.lit(1)).alias("k"), F.sum("sg").alias("s"),
                F.sum(_dc("sg") * _dc("sg")).alias("s2"))
    hhi = (F.col("s2").cast("double")
           / (F.col("s").cast("double") * F.col("s").cast("double")))
    k = F.col("k").cast("double")
    norm = F.when(F.col("k") == 1, F.lit(1.0)) \
        .otherwise((hhi - 1.0 / k) / (1.0 - 1.0 / k))
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.round(hhi, 9).alias("hhi"),
        F.round(norm, 9).alias("hhi_norm"))


def runs_test(df: DataFrame, seq_col: str, flag_col: str) -> DataFrame:
    """Wald-Wolfowitz runs test of randomness for a binary sequence
    ordered by ``seq_col``: the run count R is an exact integer (1 +
    number of adjacent flips, via one lag window), and

        E[R] = 1 + 2*n1*n0/n
        Var[R] = 2*n1*n0*(2*n1*n0 - n) / (n^2 * (n-1))
        z = (R - E[R]) / sqrt(Var[R])

    Returns one row (n, n1, n0, runs, z)."""
    w = Window.orderBy(F.col("t"))
    d = df.select(F.col(seq_col).alias("t"),
                  F.col(flag_col).cast("int").alias("f"))
    flips = d.withColumn("prev", F.lag("f").over(w)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f").alias("n1"),
        F.sum(F.when(F.col("prev").isNotNull()
                     & (F.col("f") != F.col("prev")), 1)
              .otherwise(0)).alias("flips"))
    n, n1 = F.col("n"), F.col("n1")
    n0 = n - n1
    r = F.col("flips") + 1
    two = (2 * n1 * n0).cast("double")
    er = 1.0 + two / n.cast("double")
    varr = (two * (two - n.cast("double"))
            / (n.cast("double") * n.cast("double")
               * (n - 1).cast("double")))
    return flips.select(
        n.cast("long").alias("n"), n1.cast("long").alias("n1"),
        n0.cast("long").alias("n0"), r.cast("long").alias("runs"),
        F.round((r.cast("double") - er) / F.sqrt(varr), 9).alias("z"))


def durbin_watson(series: DataFrame) -> DataFrame:
    """Durbin-Watson autocorrelation statistic of the OLS residuals of
    x on t, computed on the n-scaled INTEGER residual lattice: with
    den = n*Stt - St^2, slope_num = n*Stx - St*Sx,

        e_t * n * den = n*den*x_t - den*Sx... (all integer)

    — the den factors cancel in DW = sum (e_t - e_{t-1})^2 / sum e_t^2,
    so DW is an exact ratio of two decimal(38,0) sums (one division).
    Returns one row (n, dw)."""
    tot = series.agg(
        F.count(F.lit(1)).alias("n"), F.sum("t").alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t").cast("decimal(38,0)")
              * F.col("t").cast("decimal(38,0)")).alias("stt"),
        F.sum(F.col("t").cast("decimal(38,0)")
              * F.col("x").cast("decimal(38,0)")).alias("stx"))
    j = series.crossJoin(F.broadcast(tot))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = _dc("n") * F.col("stt") - F.col("st").cast("decimal(38,0)") \
        * F.col("st").cast("decimal(38,0)")
    bnum = _dc("n") * F.col("stx") - F.col("st").cast("decimal(38,0)") \
        * F.col("sx").cast("decimal(38,0)")
    # scaled residual: r_t = den*(n*x_t - Sx) - bnum*(n*t - St), exact
    rt = (den * (_dc("n") * _dc("x") - F.col("sx").cast("decimal(38,0)"))
          - bnum * (_dc("n") * _dc("t") - F.col("st").cast("decimal(38,0)")))
    d = j.select("t", rt.alias("r"))
    w = Window.orderBy("t")
    lag = d.withColumn("rp", F.lag("r").over(w))
    agg = lag.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("r") - F.col("rp"))
              * (F.col("r") - F.col("rp"))).alias("num"),
        F.sum(F.col("r") * F.col("r")).alias("den2"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("num").cast("double")
                / F.col("den2").cast("double"), 9).alias("dw"))


def grubbs_stat(df: DataFrame, val_col: str) -> DataFrame:
    """Grubbs outlier statistic G = max|x - mean| / s from exact
    integer moments (s the sample std); the flagged value is the
    argmax with ties to the smallest value. Returns one row
    (n, x_out, g)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = d.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                F.sum(_dc("v") * _dc("v")).alias("s2"))
    j = d.crossJoin(F.broadcast(tot))
    dev = F.abs(_dc("n") * _dc("v") - F.col("s").cast("decimal(38,0)"))
    best = (j.select("v", "n", "s", "s2", dev.alias("d"))
            .orderBy(F.col("d").desc(), F.col("v").asc()).limit(1))
    n = F.col("n").cast("double")
    var_scaled = (F.col("n").cast("decimal(38,0)") * F.col("s2")
                  - F.col("s").cast("decimal(38,0)")
                  * F.col("s").cast("decimal(38,0)")).cast("double")
    # G = (|n*x - S|/n) / sqrt((n*S2 - S^2)/(n*(n-1)))
    g = (F.col("d").cast("double") / n) \
        / F.sqrt(var_scaled / (n * (n - 1.0)))
    return best.select(
        F.col("n").cast("long").alias("n"),
        F.col("v").cast("long").alias("x_out"),
        F.round(g, 9).alias("g"))


def cohen_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement for two categorical label
    columns (the LLM-judge agreement statistic): with integer counts
    n, o = sum of diagonal, and e_num = sum_c row_c * col_c,

        kappa = (n*o - e_num) / (n^2 - e_num)

    — the cross-multiplied form, exact integers until one division.
    Returns one row (n, po, pe, kappa)."""
    ct = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("c"))
    ra = ct.groupBy("a").agg(F.sum("c").alias("ra"))
    cb = ct.groupBy("b").agg(F.sum("c").alias("cb"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    e = (ra.join(cb, ra["a"] == cb["b"])
         .agg(F.sum(_dc("ra") * _dc("cb")).alias("e_num")))
    base = ct.agg(F.sum("c").alias("n"),
                  F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
                        .otherwise(0)).alias("o"))
    j = base.crossJoin(F.broadcast(e))
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("o").cast("decimal(38,0)") - F.col("e_num"))
    den = (n * n - F.col("e_num"))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("o").cast("double") / F.col("n").cast("double"), 9)
        .alias("po"),
        F.round(F.col("e_num").cast("double")
                / (F.col("n") * F.col("n")).cast("double"), 9).alias("pe"),
        F.round(num.cast("double") / den.cast("double"), 9).alias("kappa"))


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC-AUC with midrank tie handling: AUC = (R1 - n1(n1+1)/2)
    / (n1*n0) where R1 is the positive class's average-rank sum — the
    Mann-Whitney identity on the doubled-rank lattice, so the numerator
    2*R1 - n1(n1+1)*... stays integer until one division. Returns one
    row (n_pos, n_neg, auc)."""
    d = df.select(F.col(score_col).alias("v"),
                  F.col(label_col).cast("int").alias("y"))
    ranks = _doubled_ranks(d.select("v"), "v")
    per = d.groupBy("y", "v").agg(F.count(F.lit(1)).alias("k"))
    j = per.join(ranks.select("v", "r2"), "v")
    agg = j.groupBy("y").agg(F.sum("k").alias("n"),
                             F.sum(F.col("k") * F.col("r2")).alias("r2s"))
    pos = agg.where(F.col("y") == 1).select(
        F.col("n").alias("n1"), F.col("r2s").alias("r2_pos"))
    neg = agg.where(F.col("y") == 0).select(F.col("n").alias("n0"))
    out = pos.crossJoin(neg)
    n1, n0 = F.col("n1"), F.col("n0")
    # 2*U = r2_pos - n1*(n1+1); AUC = U / (n1*n0)
    u2 = F.col("r2_pos") - n1 * (n1 + 1)
    return out.select(
        n1.cast("long").alias("n_pos"), n0.cast("long").alias("n_neg"),
        F.round(u2.cast("double") / (2.0 * (n1 * n0).cast("double")), 9)
        .alias("auc"))


def pr_curve(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Precision/recall/F1 at every distinct score threshold (predict
    positive when score >= threshold): exact integer TP/FP via suffix
    sums over the descending score spine; three divisions per row.
    Returns (threshold, tp, fp, fn, precision, recall, f1) ordered by
    threshold descending."""
    d = df.select(F.col(score_col).alias("v"),
                  F.col(label_col).cast("int").alias("y"))
    per = d.groupBy("v").agg(
        F.sum("y").alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"))
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0)
    tot = d.agg(F.sum("y").alias("p_all"))
    cum = per.select(
        "v", F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp")).crossJoin(F.broadcast(tot))
    tp, fp = F.col("tp"), F.col("fp")
    fn = F.col("p_all") - tp
    prec = tp.cast("double") / (tp + fp).cast("double")
    rec = tp.cast("double") / F.col("p_all").cast("double")
    f1 = (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double")
    return cum.select(
        F.col("v").alias("threshold"),
        tp.cast("long").alias("tp"), fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(prec, 9).alias("precision"),
        F.round(rec, 9).alias("recall"),
        F.round(f1, 9).alias("f1")).orderBy(F.col("threshold").desc())


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     bins: int = 10, score_max: int = 1000) -> DataFrame:
    """Reliability diagram: bucket an integer score in [0, score_max)
    into ``bins`` equal bins; per bin report the mean predicted
    probability (bin-center convention via exact integer score sums)
    and the observed positive rate, plus the ECE contribution
    |conf - acc| * n_bin / n. Returns ``bins`` rows at most:
    (bin, n_bin, conf, acc, ece_term)."""
    d = df.select(F.col(score_col).alias("v"),
                  F.col(label_col).cast("int").alias("y"))
    b = d.withColumn("bin", F.floor(F.col("v") * bins / score_max)
                     .cast("long"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    g = (b.groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n_bin"), F.sum("v").alias("sv"),
              F.sum("y").alias("sy"))
         .crossJoin(F.broadcast(tot)))
    conf = (F.col("sv").cast("double")
            / (F.col("n_bin").cast("double") * float(score_max)))
    acc = F.col("sy").cast("double") / F.col("n_bin").cast("double")
    return g.select(
        "bin", F.col("n_bin").cast("long").alias("n_bin"),
        F.round(conf, 9).alias("conf"), F.round(acc, 9).alias("acc"),
        F.round(F.abs(conf - acc) * F.col("n_bin").cast("double")
                / F.col("n").cast("double"), 9).alias("ece_term"),
    ).orderBy("bin")


def theil_index(df: DataFrame, val_col: str) -> DataFrame:
    """Theil T inequality index of a positive integer value column:

        T = (1/S) * sum x*ln(x) - ln(S/n_pos)

    (the x*ln(x/mu)/n/mu form rearranged so the per-row log term is
    ln(x) alone). Determinism: ln(x) is quantized to the 1e-12 lattice
    and sum x*L(x) runs as exact decimal(38,0) (the periodogram
    pattern); the two outer logs are fixed float expressions of the
    exact totals. Zero values are excluded from the sum AND from the
    mean: with zeros present this is the Theil T of the positive
    subpopulation (n_pos rows), not of all n rows.
    Returns one row (n, n_pos, theil)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    pos = d.where(F.col("v") > 0)
    _dc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    lq = F.round(F.log(F.col("v").cast("double")) * 1e12)
    agg = pos.agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("v").alias("s"),
        F.sum(_dc(lq) * _dc(F.col("v"))).alias("xlq"))
    j = agg.crossJoin(F.broadcast(tot))
    s = F.col("s").cast("double")
    t = (F.col("xlq").cast("double") / 1e12) / s \
        - F.log(s / F.col("n_pos").cast("double"))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(t, 9).alias("theil"))


def kendall_tau(df: DataFrame, x_col: str, y_col: str,
                max_rows: int = 20_000) -> DataFrame:
    """Kendall tau-b rank correlation with tie handling:

        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))

    with C/D the concordant/discordant pair counts, n0 = n(n-1)/2, and
    n1/n2 the tie-pair terms sum t(t-1)/2 per tied x (resp. y) value —
    ALL exact integers, one final float expression.

    The pair classification is an explicit i<j self-join — O(n^2) by
    definition (Knight's O(n log n) variant needs a global mergesort
    that SQL oracles cannot replay); ``max_rows`` guards the quadratic
    loudly. Returns one row (n, concordant, discordant, tau_b)."""
    d = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y")) \
        .withColumn("i", F.monotonically_increasing_id())
    n = d.count()
    if n > max_rows:
        raise ValueError(
            f"kendall_tau: n={n} exceeds max_rows={max_rows} — the pair "
            "classification is O(n^2); sample first or raise knowingly")
    a = d.select(F.col("i").alias("ia"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"))
    b = d.select(F.col("i").alias("ib"), F.col("x").alias("xb"),
                 F.col("y").alias("yb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    sx = F.signum(F.col("xa") - F.col("xb"))
    sy = F.signum(F.col("ya") - F.col("yb"))
    agg = pairs.agg(
        F.sum(F.when(sx * sy > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0)).alias("d"))
    tx = (df.groupBy(F.col(x_col).alias("v"))
          .agg(F.count(F.lit(1)).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1")))
    ty = (df.groupBy(F.col(y_col).alias("v"))
          .agg(F.count(F.lit(1)).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2")))
    j = agg.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n0 = float(n * (n - 1) // 2)
    tau = ((F.col("c") - F.col("d")).cast("double")
           / F.sqrt((n0 - F.col("n1").cast("double"))
                    * (n0 - F.col("n2").cast("double"))))
    return j.select(
        F.lit(n).cast("long").alias("n"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round(tau, 9).alias("tau_b"))


def ndcg_at_k(df: DataFrame, query_col: str, doc_col: str,
              score_col: str, rel_col: str, k: int = 10) -> DataFrame:
    """NDCG@k per query (Jarvelin & Kekalainen 2002, the binary/graded
    ranking-eval workhorse): rank docs by score descending (ties by doc
    id — deterministic), DCG = sum rel_i * w_i over the top k with the
    discount w_i = 1/log2(i+1) QUANTIZED to the 1e-12 lattice, so
    rel-weighted sums are exact decimal integers; IDCG uses the same
    lattice over rel sorted descending. One final division per query.
    Returns (query, dcg_q, idcg_q, ndcg) — *_q are the exact lattice
    sums as strings."""
    w_rank = Window.partitionBy("q").orderBy(
        F.col("s").desc(), F.col("doc").asc())
    w_ideal = Window.partitionBy("q").orderBy(
        F.col("r").desc(), F.col("doc").asc())
    d = df.select(F.col(query_col).alias("q"), F.col(doc_col).alias("doc"),
                  F.col(score_col).alias("s"),
                  F.col(rel_col).cast("long").alias("r"))
    disc = F.round(F.lit(1e12) / F.log2(F.col("rank") + 1)).cast("decimal(38,0)")
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dcg = (d.withColumn("rank", F.row_number().over(w_rank))
           .where(F.col("rank") <= k)
           .groupBy("q").agg(F.sum(disc * _dc("r")).alias("dcg_q")))
    idcg = (d.withColumn("rank", F.row_number().over(w_ideal))
            .where(F.col("rank") <= k)
            .groupBy("q").agg(F.sum(disc * _dc("r")).alias("idcg_q")))
    j = dcg.join(idcg, "q")
    nd = F.when(F.col("idcg_q") > 0,
                F.col("dcg_q").cast("double")
                / F.col("idcg_q").cast("double")).otherwise(F.lit(0.0))
    return j.select(
        F.col("q").alias("query"),
        F.col("dcg_q").cast("string").alias("dcg_q"),
        F.col("idcg_q").cast("string").alias("idcg_q"),
        F.round(nd, 9).alias("ndcg"))


def atkinson_index(df: DataFrame, val_col: str) -> DataFrame:
    """Atkinson inequality index at epsilon = 1:

        A = 1 - geometric_mean(x) / mean(x)
          = 1 - exp(sum ln(x) / n) * n / S

    over positive values; ln(x) quantized to the 1e-12 lattice and
    summed exactly (the theil_index doctrine), outer exp/division
    fixed float expressions. Returns one row (n_pos, atkinson)."""
    pos = df.select(F.col(val_col).cast("long").alias("v")) \
        .where(F.col("v") > 0)
    lq = F.round(F.log(F.col("v").cast("double")) * 1e12).cast("decimal(38,0)")
    agg = pos.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                  F.sum(lq).alias("lsum"))
    a = 1.0 - F.exp((F.col("lsum").cast("double") / 1e12)
                    / F.col("n").cast("double")) \
        * F.col("n").cast("double") / F.col("s").cast("double")
    return agg.select(F.col("n").cast("long").alias("n_pos"),
                      F.round(a, 9).alias("atkinson"))


def hoover_index(df: DataFrame, val_col: str) -> DataFrame:
    """Hoover (Robin Hood) index — the share of total value that would
    need redistribution for perfect equality:

        H = sum |x - mu| / (2 * S) = sum |n*x - S| / (2 * n * S)

    — the n-scaled numerator is an exact integer sum. One row
    (n, hoover)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    tot = d.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    j = d.crossJoin(F.broadcast(tot))
    _dc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = F.abs(_dc(F.col("n")) * _dc(F.col("v"))
                - _dc(F.col("s")))
    agg = j.agg(F.first("n").alias("n"), F.first("s").alias("s"),
                F.sum(dev).alias("sdev"))
    h = F.col("sdev").cast("double") \
        / (2.0 * F.col("n").cast("double") * F.col("s").cast("double"))
    return agg.select(F.col("n").cast("long").alias("n"),
                      F.round(h, 9).alias("hoover"))


def mad_robust(df: DataFrame, val_col: str) -> DataFrame:
    """Median absolute deviation — the robust scale estimate: med =
    lower median of x (exact, from the value-spine counts, ties to the
    smaller value — the deterministic convention), MAD = lower median
    of |x - med| (again via counts). ALL integer; no float anywhere.
    One row (n, median, mad)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    n = d.count()
    target = (n + 1) // 2  # lower median position (1-based)
    counts = d.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("c").over(w))
    med = (cum.where(F.col("cum") >= target)
           .orderBy("v").limit(1).collect()[0]["v"])
    dev = d.select(F.abs(F.col("v") - int(med)).alias("v"))
    dcounts = dev.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    dcum = dcounts.withColumn("cum", F.sum("c").over(w))
    mad = (dcum.where(F.col("cum") >= target)
           .orderBy("v").limit(1).collect()[0]["v"])
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, int(med), int(mad))], "n long, median long, mad long")


def palma_ratio(df: DataFrame, val_col: str) -> DataFrame:
    """Palma ratio — top-10% value share over bottom-40% share, the
    inequality headline number. Population cuts come from the
    distinct-value spine (rank ranges per value, no global row sort):
    a value group holding ranks [r+1, r+c] contributes
    v * overlap([r+1, r+c], cut_range) to each side — exact integers,
    one final division. Cut positions use floor(n*q) (bottom 40% =
    ranks 1..floor(0.4n); top 10% = ranks n-floor(0.1n)+1..n). One row
    (n, bottom40_sum, top10_sum, palma)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    counts = d.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v")
    spine = counts.select(
        "v", "c",
        F.coalesce(F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("r"))
    tot = counts.agg(F.sum("c").alias("n"))
    j = spine.crossJoin(F.broadcast(tot))
    b_hi = F.floor(F.col("n") * 4 / 10)          # bottom cut rank
    t_lo = F.col("n") - F.floor(F.col("n") / 10) # top cut rank (exclusive)
    # overlap of [r+1, r+c] with [1, b_hi] and (t_lo, n]
    bot = F.greatest(F.lit(0), F.least(F.col("r") + F.col("c"), b_hi)
                     - F.col("r"))
    top = F.greatest(F.lit(0), F.col("r") + F.col("c")
                     - F.greatest(F.col("r"), t_lo))
    agg = j.agg(F.first("n").alias("n"),
                F.sum(F.col("v") * bot).alias("b40"),
                F.sum(F.col("v") * top).alias("t10"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("b40").cast("long").alias("bottom40_sum"),
        F.col("t10").cast("long").alias("top10_sum"),
        F.round(F.col("t10").cast("double")
                / F.col("b40").cast("double"), 9).alias("palma"))


def wilcoxon_signed_rank(df: DataFrame, a_col: str,
                         b_col: str) -> DataFrame:
    """Wilcoxon signed-rank test for paired samples: zero differences
    drop (the standard convention), |d| takes doubled average ranks
    over the remaining pairs, W+ = sum of ranks of positive d (held
    doubled, exact), and the tie-corrected normal approximation

        z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - T/48)

    with T = sum(t^3 - t) over tied |d| groups. One row
    (n_pairs, n_used, w_plus_x2, z)."""
    d = df.select((F.col(a_col) - F.col(b_col)).cast("long").alias("d"))
    tot = d.agg(F.count(F.lit(1)).alias("n_pairs"))
    nz = d.where(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("v"),
        (F.col("d") > 0).cast("int").alias("pos"))
    ranks = _doubled_ranks(nz.select("v"), "v")
    per = nz.groupBy("pos", "v").agg(F.count(F.lit(1)).alias("k"))
    j = per.join(ranks, "v")
    agg = j.agg(
        F.sum("k").alias("n_used"),
        F.sum(F.when(F.col("pos") == 1, F.col("k") * F.col("r2"))
              .otherwise(0)).alias("wp2"))
    t = ranks.agg(_tie_term(ranks).alias("tt"))
    out = agg.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(tot))
    n = F.col("n_used").cast("double")
    wplus = F.col("wp2").cast("double") / 2.0
    mean = n * (n + 1.0) / 4.0
    var = (n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
           - F.col("tt").cast("double") / 48.0)
    return out.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_used").cast("long").alias("n_used"),
        F.col("wp2").cast("long").alias("w_plus_x2"),
        F.round((wplus - mean) / F.sqrt(var), 9).alias("z"))


def chao1_richness(df: DataFrame, key_col: str) -> DataFrame:
    """Chao1 species-richness estimate (Chao 1984) over a key column —
    how many distinct keys the corpus would hold at infinite sampling:

        S_chao1 = S_obs + f1*(f1 - 1) / (2*(f2 + 1))

    (the bias-corrected form, defined for f2 = 0 too) with f1/f2 the
    singleton/doubleton counts — exact integers, one division. One row
    (s_obs, f1, f2, chao1)."""
    freq = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c"))
    agg = freq.agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"))
    est = (F.col("s_obs").cast("double")
           + (F.col("f1") * (F.col("f1") - 1)).cast("double")
           / (2.0 * (F.col("f2") + 1).cast("double")))
    return agg.select(
        F.col("s_obs").cast("long").alias("s_obs"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(est, 9).alias("chao1"))


def good_turing_counts(df: DataFrame, key_col: str,
                       max_r: int = 10) -> DataFrame:
    """Good-Turing frequency-of-frequency table with the adjusted
    counts r* = (r+1) * N_{r+1} / N_r for r = 1..max_r (Good 1953; the
    LM smoothing primitive): N_r are exact integers, r* one division
    per row (NULL where N_{r+1} or N_r is 0). Returns
    (r, n_r, r_star) ordered by r."""
    freq = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c"))
    nr = (freq.where(F.col("c") <= max_r + 1)
          .groupBy(F.col("c").alias("r"))
          .agg(F.count(F.lit(1)).alias("n_r")))
    nxt = nr.select((F.col("r") - 1).alias("r"),
                    F.col("n_r").alias("n_next"))
    out = (nr.join(nxt, "r", "left").where(F.col("r") <= max_r)
           .select(
               F.col("r").cast("long").alias("r"),
               F.col("n_r").cast("long").alias("n_r"),
               F.round((F.col("r") + 1).cast("double")
                       * F.col("n_next").cast("double")
                       / F.col("n_r").cast("double"), 9).alias("r_star")))
    return out.orderBy("r")


def simpson_diversity(df: DataFrame, key_col: str) -> DataFrame:
    """Simpson diversity over a key column — the probability two draws
    (without replacement) differ:

        D = 1 - sum n_i*(n_i - 1) / (N*(N - 1))

    exact integers until one division; also reports the inverse-Simpson
    effective category count 1/sum(p_i^2) (with-replacement form). One
    row (n, k_keys, simpson, inv_simpson)."""
    freq = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = freq.agg(
        F.count(F.lit(1)).alias("kk"), F.sum("c").alias("n"),
        F.sum(_dc("c") * (_dc("c") - 1)).alias("pp"),
        F.sum(_dc("c") * _dc("c")).alias("p2"))
    n = F.col("n").cast("double")
    simpson = 1.0 - F.col("pp").cast("double") / (n * (n - 1.0))
    inv = (n * n) / F.col("p2").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("kk").cast("long").alias("k_keys"),
        F.round(simpson, 9).alias("simpson"),
        F.round(inv, 9).alias("inv_simpson"))


def friedman_test(df: DataFrame, block_col: str, treat_col: str,
                  val_col: str) -> DataFrame:
    """Friedman rank test for k treatments over n complete blocks:
    within-block doubled average ranks (ties handled), rank sums per
    treatment exact, and the tie-corrected statistic

        chi2_F = (k-1) * sum_j (R_j - n(k+1)/2)^2
                 / (sum_ij r_ij^2 - n*k*(k+1)^2/4)

    (the general tied form; all sums exact on the doubled lattice —
    the 2x factors cancel between numerator and denominator). Blocks
    must be complete (every treatment once); incomplete blocks raise.
    One row (n_blocks, k_treat, chi2_f)."""
    d = df.select(F.col(block_col).alias("b"), F.col(treat_col).alias("g"),
                  F.col(val_col).alias("v"))
    kc = d.groupBy("b").agg(F.countDistinct("g").alias("kk"),
                            F.count(F.lit(1)).alias("cnt"))
    bad = kc.where(F.col("kk") != F.col("cnt")).count()
    ks = [r["kk"] for r in kc.select("kk").distinct().collect()]
    if bad or len(ks) != 1:
        raise ValueError("friedman_test needs complete blocks "
                         "(each treatment exactly once per block)")
    k = int(ks[0])
    n = kc.count()
    # doubled average rank within block: rank() gives 1 + count(<v),
    # so r2 = 2*(rank-1) + count(==v) + 1
    eqw = Window.partitionBy("b", "v")
    ranked = d.withColumn(
        "r2",
        2 * (F.rank().over(Window.partitionBy("b").orderBy("v")) - 1)
        + F.count(F.lit(1)).over(eqw) + 1)
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    rj = ranked.groupBy("g").agg(F.sum("r2").alias("rsum"))
    sq = ranked.agg(F.sum(_dc("r2") * _dc("r2")).alias("ssq"))
    # numerator: sum_j (2R_j - n(k+1))^2 / 4 on the doubled lattice
    mean2 = n * (k + 1)
    num = rj.agg(F.sum(
        (_dc("rsum") - F.lit(mean2).cast("decimal(38,0)"))
        * (_dc("rsum") - F.lit(mean2).cast("decimal(38,0)"))
    ).alias("num2"))
    j = num.crossJoin(F.broadcast(sq))
    den2 = F.col("ssq").cast("double") - n * k * (k + 1) * (k + 1)
    chi2 = (k - 1) * F.col("num2").cast("double") / den2
    return j.select(
        F.lit(n).cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k_treat"),
        F.round(chi2, 9).alias("chi2_f"))


def cochran_q(df: DataFrame, block_col: str, treat_col: str,
              flag_col: str) -> DataFrame:
    """Cochran's Q for k binary treatments over n blocks (the McNemar
    generalization):

        Q = k(k-1) * sum_j (C_j - N/k)^2 / (k*N - sum_i R_i^2)

    with C_j treatment totals, R_i block totals, N the grand total —
    exact integers, cross-multiplied numerator (k*C_j - N)^2 / k. One
    row (n_blocks, k_treat, q)."""
    d = df.select(F.col(block_col).alias("b"), F.col(treat_col).alias("g"),
                  F.col(flag_col).cast("long").alias("x"))
    ks = [r["kk"] for r in
          d.groupBy("b").agg(F.countDistinct("g").alias("kk"))
          .select("kk").distinct().collect()]
    if len(ks) != 1:
        raise ValueError("cochran_q needs complete blocks")
    k = int(ks[0])
    cj = d.groupBy("g").agg(F.sum("x").alias("c"))
    ri = d.groupBy("b").agg(F.sum("x").alias("r"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = d.agg(F.count(F.lit(1)).alias("nk"), F.sum("x").alias("bigN"))
    numdf = cj.crossJoin(F.broadcast(tot)).agg(F.sum(
        (F.lit(k).cast("decimal(38,0)") * _dc("c") - _dc("bigN"))
        * (F.lit(k).cast("decimal(38,0)") * _dc("c") - _dc("bigN"))
    ).alias("num"))
    dendf = ri.crossJoin(F.broadcast(tot)).agg(
        F.first("bigN").alias("bigN"), F.first("nk").alias("nk"),
        F.sum(_dc("r") * _dc("r")).alias("rr"))
    j = numdf.crossJoin(F.broadcast(dendf))
    q = ((k - 1.0) * F.col("num").cast("double") / k) \
        / (k * F.col("bigN").cast("double")
           - F.col("rr").cast("double"))
    return j.select(
        (F.col("nk") / k).cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k_treat"),
        F.round(q, 9).alias("q"))


def cronbach_alpha(df: DataFrame, subject_col: str, item_col: str,
                   val_col: str) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over a long
    (subject, item, value) table with complete k-item subjects:

        alpha = k/(k-1) * (1 - sum_i var_i / var_total)

    with var_i the per-item population variance and var_total the
    variance of subject totals — every variance is (n*S2 - S^2)/n^2
    from exact decimal moments (single subtraction, no float sums).
    One row (n_subjects, k_items, alpha)."""
    d = df.select(F.col(subject_col).alias("s"), F.col(item_col).alias("i"),
                  F.col(val_col).cast("long").alias("v"))
    ks = [r["kk"] for r in
          d.groupBy("s").agg(F.countDistinct("i").alias("kk"))
          .select("kk").distinct().collect()]
    if len(ks) != 1:
        raise ValueError("cronbach_alpha needs complete subjects")
    k = int(ks[0])
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    per_item = d.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
        F.sum(_dc("v") * _dc("v")).alias("s2"))
    iv = per_item.agg(
        F.first("n").alias("n"),
        F.sum((( _dc("n") * F.col("s2")
                - _dc("sv") * _dc("sv"))).cast("double")).alias("ivar2"))
    totals = d.groupBy("s").agg(F.sum("v").alias("t"))
    tv = totals.agg(
        F.count(F.lit(1)).alias("n2"), F.sum("t").alias("st"),
        F.sum(_dc("t") * _dc("t")).alias("t2"))
    j = iv.crossJoin(F.broadcast(tv))
    tvar2 = (F.col("n2").cast("decimal(38,0)") * F.col("t2")
             - _dc("st") * _dc("st")).cast("double")
    alpha = (k / (k - 1.0)) * (1.0 - F.col("ivar2") / tvar2)
    return j.select(
        F.col("n").cast("long").alias("n_subjects"),
        F.lit(k).cast("long").alias("k_items"),
        F.round(alpha, 9).alias("alpha"))


def wasserstein_1d(df: DataFrame, group_col: str, val_col: str,
                   group_a, group_b) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between two empirical
    distributions over an integer value column:

        W1 = sum_v |F1(v)*n2 - F2(v)*n1| * gap(v) / (n1*n2)

    over the pooled value spine with gap(v) the distance to the next
    distinct value — the exact closed form of the CDF-area integral;
    the numerator sum is exact decimal, one final division (the KS
    machinery with gap weighting). One row (n1, n2, w1)."""
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).cast("long").alias("v"))
    cnt = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("c2"))
    w = Window.orderBy("v")
    cum = cnt.select(
        "v",
        F.sum("c1").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("f1"),
        F.sum("c2").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("f2"),
        (F.lead("v").over(w) - F.col("v")).alias("gap"))
    tot = two.groupBy().agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("n2"))
    _dc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = cum.where(F.col("gap").isNotNull()).crossJoin(F.broadcast(tot))
    term = F.abs(_dc(F.col("f1")) * _dc(F.col("n2"))
                 - _dc(F.col("f2")) * _dc(F.col("n1"))) * _dc(F.col("gap"))
    agg = j.agg(F.first("n1").alias("n1"), F.first("n2").alias("n2"),
                F.sum(term).alias("num"))
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"), 9)
        .alias("w1"))


def total_variation(df: DataFrame, group_col: str, val_col: str,
                    group_a, group_b) -> DataFrame:
    """Total variation distance between two empirical distributions:
    TV = (1/2) sum_v |c1(v)*n2 - c2(v)*n1| / (n1*n2) — exact decimal
    numerator, one division. One row (n1, n2, tv)."""
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    cnt = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("c2"))
    tot = two.groupBy().agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("n2"))
    _dc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = cnt.crossJoin(F.broadcast(tot))
    term = F.abs(_dc(F.col("c1")) * _dc(F.col("n2"))
                 - _dc(F.col("c2")) * _dc(F.col("n1")))
    agg = j.agg(F.first("n1").alias("n1"), F.first("n2").alias("n2"),
                F.sum(term).alias("num"))
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("num").cast("double")
                / (2.0 * (F.col("n1") * F.col("n2")).cast("double")), 9)
        .alias("tv"))


def hellinger_distance(df: DataFrame, group_col: str, val_col: str,
                       group_a, group_b) -> DataFrame:
    """Hellinger distance between two empirical distributions:

        H^2 = 1 - sum_v sqrt(p1(v) * p2(v))
            = 1 - sum_v sqrt(c1(v)*c2(v)) / sqrt(n1*n2)

    with sqrt(c1*c2) QUANTIZED to the 1e-6 lattice and summed as exact
    decimal (the quantized-transcendental doctrine); the outer sqrt and
    division are fixed float expressions. One row (n1, n2, hellinger).
    """
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    cnt = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("c2"))
    tot = two.groupBy().agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("n2"))
    sq = F.round(F.sqrt((F.col("c1") * F.col("c2")).cast("double")) * 1e6) \
        .cast("decimal(38,0)")
    agg = cnt.agg(F.sum(sq).alias("bc_q"))
    j = agg.crossJoin(F.broadcast(tot))
    bc = (F.col("bc_q").cast("double") / 1e6) \
        / F.sqrt((F.col("n1") * F.col("n2")).cast("double"))
    h = F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc))
    return j.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(h, 9).alias("hellinger"))


def cliffs_delta(df: DataFrame, group_col: str, val_col: str,
                 group_a, group_b) -> DataFrame:
    """Cliff's delta ordinal effect size — the Mann-Whitney companion
    the readout actually needs: delta = 2*U1/(n1*n2) - 1 in the
    midrank form (exact: u1_x2/(n1*n2) - 1 on the doubled lattice).
    One row (n1, n2, delta)."""
    base = mann_whitney_u(df, group_col, val_col, group_a, group_b)
    return base.select(
        "n1", "n2",
        F.round(F.col("u1_x2").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double") - 1.0, 9)
        .alias("delta"))


def levene_test(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Brown-Forsythe/Levene variance-homogeneity test: the one-way
    ANOVA F applied to z = |x - median_g| (group median = the value at
    rank ceil((n+1)/2) on the value spine, i.e. the UPPER median for
    even n — unlike mad_robust's lower median; the deviations stay integer,
    so the composed :func:`anova_oneway` keeps its exact-fraction
    contract). One row (k_groups, n, w) with w the F statistic."""
    d = df.select(F.col(group_col).alias("g"),
                  F.col(val_col).cast("long").alias("v"))
    counts = d.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("g").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("c").over(w))
    ng = d.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    j = cum.join(ng, "g").where(
        F.col("cum") * 2 >= F.col("n") + 1)
    med = j.groupBy("g").agg(F.min("v").alias("med"))
    z = d.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z"))
    out = anova_oneway(z, "g", "z")
    return out.select("k_groups", "n", F.col("f").alias("w"))


def trimmed_mean(df: DataFrame, val_col: str,
                 trim_pct: int = 10) -> DataFrame:
    """Symmetric trimmed mean: drop the lowest and highest
    floor(n*trim_pct/100) observations by rank and average the rest —
    computed on the distinct-value spine via exact rank-range overlaps
    (the palma_ratio machinery, no global row sort). One row
    (n, n_trimmed_each, kept_sum, trimmed_mean)."""
    d = df.select(F.col(val_col).cast("long").alias("v"))
    counts = d.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v")
    spine = counts.select(
        "v", "c",
        F.coalesce(F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("r"))
    tot = counts.agg(F.sum("c").alias("n"))
    j = spine.crossJoin(F.broadcast(tot))
    t = F.floor(F.col("n") * trim_pct / 100).cast("long")
    lo = t            # keep ranks (t, n - t]
    hi = F.col("n") - t
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("r") + F.col("c"), hi) - F.greatest(F.col("r"), lo))
    agg = j.agg(F.first("n").alias("n"), F.first(t).alias("t"),
                F.sum(F.col("v") * kept).alias("s"),
                F.sum(kept).alias("k"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("n_trimmed_each"),
        F.col("s").cast("long").alias("kept_sum"),
        F.round(F.col("s").cast("double") / F.col("k").cast("double"), 9)
        .alias("trimmed_mean"))


def bootstrap_ci_mean(df: DataFrame, val_col: str, n_resamples: int = 200,
                      alpha_pct: int = 5, seed: int = 42,
                      id_col: str | None = None) -> DataFrame:
    """Deterministic percentile bootstrap CI for the mean: resample b
    draws its n indices via splitmix(b * n + i) % n (the repo's
    splitmix doctrine — bit-exact on every engine), each resample mean
    is an exact integer sum over the drawn values, and the CI takes the
    lower-rank percentile cut of the B sorted exact sums (ties by sum
    — integers, so deterministic). ``df`` must carry a dense 0..n-1
    ``id_col`` addressing the rows. One row
    (n, b, mean, ci_lo, ci_hi)."""
    from lib_gdal_spark.sources.pages import _mix

    d = df.select(F.col(id_col or "pid").alias("i"),
                  F.col(val_col).cast("long").alias("v"))
    n = d.count()
    spark = df.sparkSession
    draws = spark.range(n_resamples * n).select(
        F.floor(F.col("id") / n).alias("b"), F.col("id").alias("t"))

    @F.pandas_udf("long")
    def pick(t: pd.Series) -> pd.Series:
        m = _mix(t.to_numpy(np.int64), 303, seed)
        return pd.Series((m % np.uint64(n)).astype(np.int64))

    cand = draws.withColumn("i", pick(F.col("t")))
    sums = (cand.join(d, "i").groupBy("b")
            .agg(F.sum("v").alias("s")).collect())
    svals = sorted(int(r["s"]) for r in sums)
    b = len(svals)
    lo_i = max(0, (b * alpha_pct) // 200)          # alpha/2 cut
    hi_i = min(b - 1, b - 1 - (b * alpha_pct) // 200)
    tot = d.agg(F.sum("v").alias("s")).collect()[0]["s"]
    return spark.createDataFrame(
        [(n, b, round(float(tot) / n, 9),
          round(svals[lo_i] / n, 9), round(svals[hi_i] / n, 9))],
        "n long, b long, mean double, ci_lo double, ci_hi double")


def partial_correlation(df: DataFrame, x_col: str, y_col: str,
                        z_col: str) -> DataFrame:
    """First-order partial correlation r_xy.z — the x~y association
    with the confounder z held fixed:

        r_xy.z = (r_xy - r_xz * r_yz)
                 / sqrt((1 - r_xz^2) * (1 - r_yz^2))

    with every pairwise r computed from exact decimal(38,0) moments
    (n*Sab - Sa*Sb over the exact cross-sums) and the composition a
    fixed float expression. One row (n, r_xy, r_xz, r_yz, r_partial).
    """
    d = df.select(F.col(x_col).cast("long").alias("x"),
                  F.col(y_col).cast("long").alias("y"),
                  F.col(z_col).cast("long").alias("z"))
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(_dc("x") * _dc("x")).alias("sxx"),
        F.sum(_dc("y") * _dc("y")).alias("syy"),
        F.sum(_dc("z") * _dc("z")).alias("szz"),
        F.sum(_dc("x") * _dc("y")).alias("sxy"),
        F.sum(_dc("x") * _dc("z")).alias("sxz"),
        F.sum(_dc("y") * _dc("z")).alias("syz"))
    n = F.col("n").cast("decimal(38,0)")

    def _r(sab, sa, sb, saa, sbb):
        num = (n * F.col(sab)
               - F.col(sa).cast("decimal(38,0)")
               * F.col(sb).cast("decimal(38,0)")).cast("double")
        da = (n * F.col(saa) - F.col(sa).cast("decimal(38,0)")
              * F.col(sa).cast("decimal(38,0)")).cast("double")
        db = (n * F.col(sbb) - F.col(sb).cast("decimal(38,0)")
              * F.col(sb).cast("decimal(38,0)")).cast("double")
        return num / F.sqrt(da * db)

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    rp = (rxy - rxz * ryz) / F.sqrt((1.0 - rxz * rxz)
                                    * (1.0 - ryz * ryz))
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(rxy, 9).alias("r_xy"), F.round(rxz, 9).alias("r_xz"),
        F.round(ryz, 9).alias("r_yz"), F.round(rp, 9).alias("r_partial"))


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramer's V association strength for an a x b contingency table:
    V = sqrt(chi2 / (n * min(r-1, c-1))) composed over
    :func:`chi2_independence`'s exact-count chi2. One row
    (n, df_free, chi2, v)."""
    base = chi2_independence(df, a_col, b_col)
    counts = df.agg(
        F.countDistinct(F.col(a_col)).alias("na"),
        F.countDistinct(F.col(b_col)).alias("nb"))
    j = base.crossJoin(F.broadcast(counts))
    mind = F.least(F.col("na") - 1, F.col("nb") - 1)
    v = F.sqrt(F.col("chi2") / (F.col("n").cast("double")
                                * mind.cast("double")))
    return j.select("n", "df_free", "chi2", F.round(v, 9).alias("v"))


def odds_ratio(df: DataFrame, exposure_col: str,
               outcome_col: str) -> DataFrame:
    """2x2 odds ratio + relative risk with the 95% Woolf log CI — the
    A/B readout triple:

        OR = a*d / (b*c);  RR = (a/(a+b)) / (c/(c+d))
        CI = exp(ln(OR) +- 1.96 * sqrt(1/a + 1/b + 1/c + 1/d))

    a/b/c/d exact counts (exposed-pos, exposed-neg, unexposed-pos,
    unexposed-neg); all derived values fixed float expressions. Zero
    cells yield NULL OR/CI (no continuity fudge — loud). One row
    (a, b, c, d, odds_ratio, relative_risk, ci_lo, ci_hi)."""
    d = df.select(F.col(exposure_col).cast("int").alias("e"),
                  F.col(outcome_col).cast("int").alias("o"))
    agg = d.agg(
        F.sum(((F.col("e") == 1) & (F.col("o") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("e") == 1) & (F.col("o") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("e") == 0) & (F.col("o") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("e") == 0) & (F.col("o") == 0)).cast("long")).alias("d"))
    a, b, c, dd = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    ok = (a > 0) & (b > 0) & (c > 0) & (dd > 0)
    orr = (a * dd).cast("double") / (b * c).cast("double")
    rr = (a.cast("double") / (a + b).cast("double")) \
        / (c.cast("double") / (c + dd).cast("double"))
    se = F.sqrt(1.0 / a.cast("double") + 1.0 / b.cast("double")
                + 1.0 / c.cast("double") + 1.0 / dd.cast("double"))
    lo = F.exp(F.log(orr) - 1.96 * se)
    hi = F.exp(F.log(orr) + 1.96 * se)
    return agg.select(
        a.cast("long").alias("a"), b.cast("long").alias("b"),
        c.cast("long").alias("c"), dd.cast("long").alias("d"),
        F.round(F.when(ok, orr), 9).alias("odds_ratio"),
        F.round(F.when(ok, rr), 9).alias("relative_risk"),
        F.round(F.when(ok, lo), 9).alias("ci_lo"),
        F.round(F.when(ok, hi), 9).alias("ci_hi"))


def jonckheere_terpstra(df: DataFrame, group_col: str, val_col: str,
                        order: list) -> DataFrame:
    """Jonckheere-Terpstra trend test for an ORDERED alternative across
    k groups: J = sum over ordered group pairs g < h of
    [#(x_g < x_h) + (1/2)#(x_g = x_h)], held DOUBLED (j_x2 exact).
    Computed on the value spine — per-value group counts joined to
    per-group strict suffix sums, no pairwise row joins. z uses the
    no-tie normal approximation

        E[J] = (n^2 - sum n_g^2)/4
        Var[J] = (n^2 (2n+3) - sum n_g^2 (2 n_g+3)) / 72

    (ties make z slightly conservative; j_x2 itself is exact). One row
    (n, j_x2, z)."""
    k = len(order)
    omap = {g: i for i, g in enumerate(order)}
    d = df.select(F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    got = {r["g"] for r in d.select("g").distinct().collect()}
    if got - set(order):
        raise ValueError(f"groups {got - set(order)} missing from order")
    mapping = F.create_map(*[x for g, i in omap.items()
                             for x in (F.lit(g), F.lit(i))])
    di = d.select(mapping[F.col("g")].alias("gi"), "v")
    cnt = di.groupBy("v").pivot("gi", list(range(k))).count().fillna(0)
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, -1)
    cols = [F.col(f"{i}") for i in range(k)]
    gt = cnt.select(
        "v", *[c.alias(f"c{i}") for i, c in enumerate(cols)],
        *[F.coalesce(F.sum(c).over(w), F.lit(0)).alias(f"gt{i}")
          for i, c in enumerate(cols)])
    _dc = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j2 = None
    for g in range(k):
        for h in range(g + 1, k):
            term = _dc(f"c{g}") * (2 * _dc(f"gt{h}") + _dc(f"c{h}"))
            j2 = term if j2 is None else j2 + term
    agg = gt.agg(F.sum(j2).alias("j_x2"))
    ng = di.groupBy("gi").agg(F.count(F.lit(1)).alias("ng"))
    tot = ng.agg(F.sum("ng").alias("n"),
                 F.sum(F.col("ng") * F.col("ng")).alias("sn2"),
                 F.sum(F.col("ng") * F.col("ng")
                       * (2 * F.col("ng") + 3)).alias("sn23"))
    jj = agg.crossJoin(F.broadcast(tot))
    n = F.col("n").cast("double")
    mean = (n * n - F.col("sn2").cast("double")) / 4.0
    var = (n * n * (2.0 * n + 3.0)
           - F.col("sn23").cast("double")) / 72.0
    z = (F.col("j_x2").cast("double") / 2.0 - mean) / F.sqrt(var)
    return jj.select(
        F.col("n").cast("long").alias("n"),
        F.col("j_x2").cast("long").alias("j_x2"),
        F.round(z, 9).alias("z"))
