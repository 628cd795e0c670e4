"""Great-circle navigation helpers — ``core/ogr/ogr_geo_utils.cpp``
(OGR_GreatCircle_Distance :55, _InitialHeading :72, _ExtendPosition :135)
re-expressed as pure JVM Column expressions (no UDF, codegen-friendly).

The reference's spherical model and its exact constant derivations are
kept: DEG2RAD = pi/180, RAD2DEG = 1/DEG2RAD (the reciprocal, NOT 180/pi —
they differ in the last ulp), RAD2METER = (180/pi) * 60 * 1852 (nautical
miles), acos clamped to [-1, 1] (OGR_Safe_acos). Branch guards (poles,
meridian tracks, equator tracks) follow the reference's order so every
input hits the same branch.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

DEG2RAD = math.pi / 180.0
RAD2DEG = 1.0 / DEG2RAD
RAD2METER = (180.0 / math.pi) * 60.0 * 1852.0
METER2RAD = 1.0 / RAD2METER


def _safe_acos(x: Column) -> Column:
    """acos of ``x`` clamped to [-1, 1]. ``least``/``greatest`` skip
    NULLs, so a NULL ``x`` gives acos(-1) = pi: callers wrap their result
    in :func:`_guard`."""
    return F.acos(F.least(F.greatest(x, F.lit(-1.0)), F.lit(1.0)))


def _guard(value: Column, *inputs: Column) -> Column:
    """``value``, or NULL when any input is NULL (a NULL coordinate must
    not read as a half-globe distance through a clamp). It tests the
    inputs, not the clamped value, so each nested acos keeps one copy of
    its argument in the plan; testing the argument doubled them, and the
    dead-reckoned position of ``great_circle`` outgrew codegen's 64 KB
    method limit."""
    has = inputs[0].isNotNull()
    for c in inputs[1:]:
        has = has & c.isNotNull()
    return F.when(has, value)


def great_circle_distance(lat_a: Column, lon_a: Column,
                          lat_b: Column, lon_b: Column) -> Column:
    """Spherical distance in meters (``ogr_geo_utils.cpp:55``)."""
    cos_p = F.cos((lon_b - lon_a) * F.lit(DEG2RAD))
    lat_ar = lat_a * F.lit(DEG2RAD)
    lat_br = lat_b * F.lit(DEG2RAD)
    cos_angle = (F.sin(lat_ar) * F.sin(lat_br)
                 + F.cos(lat_ar) * F.cos(lat_br) * cos_p)
    return _guard(_safe_acos(cos_angle) * F.lit(RAD2METER),
                  lat_a, lon_a, lat_b, lon_b)


def great_circle_initial_heading(lat_a: Column, lon_a: Column,
                                 lat_b: Column, lon_b: Column) -> Column:
    """Initial track angle in degrees (``ogr_geo_utils.cpp:72``), with the
    reference's special-case ladder (poles, identical point, equator,
    shared meridian) in its order."""
    lat_ar = lat_a * F.lit(DEG2RAD)
    lat_br = lat_b * F.lit(DEG2RAD)
    diff_g = (lon_a - lon_b) * F.lit(DEG2RAD)
    denom = (F.sin(lat_ar) * F.cos(diff_g)
             - F.cos(lat_ar) * F.tan(lat_br))
    track = F.atan(F.sin(diff_g) / denom) * F.lit(RAD2DEG)
    general = (
        F.when(denom == 0.0, F.lit(0.0))
        .when(denom > 0.0, F.lit(180.0) + track)
        .when(track < 0.0, F.lit(360.0) + track)
        .otherwise(track)
    )
    # fmod(x, 360): x - trunc(x/360)*360 (C fmod semantics for finite x;
    # the oracle mirrors this trunc form rather than calling fmod)
    x = lon_a - lon_b
    fmod360 = x - (x / F.lit(360.0)).cast("long").cast("double") * F.lit(360.0)
    return (
        F.when((F.abs(lat_a - 90.0) < 1e-10) | (F.abs(lat_b + 90.0) < 1e-10),
               F.lit(180.0))
        .when((F.abs(lat_a + 90.0) < 1e-10) | (F.abs(lat_b - 90.0) < 1e-10),
              F.lit(0.0))
        .when((F.abs(fmod360) < 1e-10) & (F.abs(lat_a - lat_b) < 1e-10),
              F.lit(0.0))
        .when((F.abs(lat_a) < 1e-10) & (F.abs(lat_b) < 1e-10),
              F.when(lon_b > lon_a, F.lit(90.0)).otherwise(F.lit(270.0)))
        .when(F.abs(fmod360) < 1e-10,
              F.when(lat_a > lat_b, F.lit(180.0)).otherwise(F.lit(0.0)))
        .otherwise(general)
    )


def great_circle_extend_position(lat_a: Column, lon_a: Column,
                                 distance_m: Column,
                                 heading_deg: Column) -> Column:
    """Dead-reckon ``distance_m`` along ``heading_deg`` from A
    (``ogr_geo_utils.cpp:135``); returns struct(lat, lon) in degrees."""
    heading_rad = heading_deg * F.lit(DEG2RAD)
    cos_h = F.cos(heading_rad)
    sin_h = F.sin(heading_rad)
    dist_rad = distance_m * F.lit(METER2RAD)
    cos_d = F.cos(dist_rad)
    sin_d = F.sin(dist_rad)
    lat_ar = lat_a * F.lit(DEG2RAD)
    cos_comp_a = F.sin(lat_ar)   # cos of colatitude
    sin_comp_a = F.cos(lat_ar)

    # general branch
    cos_comp_b = cos_d * cos_comp_a + sin_d * sin_comp_a * cos_h
    comp_b = _safe_acos(cos_comp_b)
    denomin = F.sin(comp_b) * sin_comp_a
    cos_dg = (cos_d - cos_comp_b * cos_comp_a) / denomin
    lat_gen = F.lit(90.0) - comp_b * F.lit(RAD2DEG)
    dg_deg = _safe_acos(cos_dg) * F.lit(RAD2DEG)
    lon_gen = F.when(sin_h < 0, lon_a - dg_deg).otherwise(lon_a + dg_deg)

    h = heading_deg + F.lit(360.0)
    hmod = h - (h / F.lit(360.0)).cast("long").cast("double") * F.lit(360.0)
    north_south = F.struct(
        F.when(F.abs(hmod) < 1e-8,
               lat_a + dist_rad * F.lit(RAD2DEG))
        .otherwise(lat_a - dist_rad * F.lit(RAD2DEG)).alias("lat"),
        lon_a.alias("lon"),
    )
    east_west = F.struct(
        lat_a.alias("lat"),
        F.when(F.abs(heading_deg - 90.0) < 1e-8,
               lon_a + dist_rad * F.lit(RAD2DEG))
        .otherwise(lon_a - dist_rad * F.lit(RAD2DEG)).alias("lon"),
    )
    same = F.struct(lat_a.alias("lat"), lon_a.alias("lon"))
    return _guard(
        F.when(distance_m == 0.0, same)
        .when(F.abs(lat_a) >= 90.0, same)
        .when(F.abs(sin_h) < 1e-8, north_south)
        .when((F.abs(cos_comp_a) < 1e-8) & (F.abs(cos_h) < 1e-8), east_west)
        .otherwise(F.struct(lat_gen.alias("lat"), lon_gen.alias("lon"))),
        lat_a, lon_a, distance_m, heading_deg
    )


def spherical_edge_excess(lat1: Column, lon1: Column,
                          lat2: Column, lon2: Column) -> Column:
    """Signed spherical-excess contribution of the great-circle edge
    1 -> 2 on the UNIT sphere (Bevis & Cambareri 1987, "Computing the
    area of a spherical polygon of arbitrary shape"):

        E = 2 atan2( tan(dlam/2) (t1 + t2), 1 + t1 t2 ),  t = tan(phi/2)

    Summed around a closed ring this is EXACT for great-circle edges
    (octant triangle sums to pi/2 bit-for-bit in the tests). Multiply the
    ring sum by R^2 for area; the sign encodes winding (CW positive with
    this edge orientation). Pure JVM Column math — codegen-friendly, no
    UDF; beyond the reference (its ogr_geo_utils.cpp stops at
    distance/heading), using the same navigation-sphere model."""
    t1 = F.tan(lat1 * F.lit(DEG2RAD) / F.lit(2.0))
    t2 = F.tan(lat2 * F.lit(DEG2RAD) / F.lit(2.0))
    dl = (lon2 - lon1) * F.lit(DEG2RAD)
    return F.lit(2.0) * F.atan2(
        F.tan(dl / F.lit(2.0)) * (t1 + t2),
        F.lit(1.0) + t1 * t2,
    )


def ring_geodesy(vertices, poly_col: str = "poly_id",
                 lat1: str = "lat", lon1: str = "lon",
                 lat2: str = "lat2", lon2: str = "lon2"):
    """Per-ring spherical area (m^2) and perimeter (m) from an edge table
    (one row per directed edge, closed ring). One combinable groupBy —
    map-side partials, keys-only shuffle; scale-safe at any ring count.
    The sphere is the module's navigation sphere (R = RAD2METER m/rad),
    keeping area/length consistent with great_circle_distance."""
    la1, lo1 = F.col(lat1), F.col(lon1)
    la2, lo2 = F.col(lat2), F.col(lon2)
    return (
        vertices.groupBy(poly_col).agg(
            (F.abs(F.sum(spherical_edge_excess(la1, lo1, la2, lo2)))
             * F.lit(RAD2METER * RAD2METER)).alias("area_m2"),
            F.sum(great_circle_distance(la1, lo1, la2, lo2))
            .alias("perimeter_m"),
        )
    )


def rhumb_distance(lat_a: Column, lon_a: Column,
                   lat_b: Column, lon_b: Column) -> Column:
    """Loxodrome (constant-bearing) distance in meters on the module's
    navigation sphere — the track a fixed-compass course sails, the
    companion of the reference's great-circle trio (beyond
    ogr_geo_utils.cpp). Standard inverse-Mercator form: dpsi is the
    isometric-latitude difference; east-west legs fall back to the
    cos(lat)-scaled parallel. Longitudes wrap the short way across the
    antimeridian. Pure JVM Column math."""
    p1 = lat_a * F.lit(DEG2RAD)
    p2 = lat_b * F.lit(DEG2RAD)
    dphi = p2 - p1
    dlam_raw = (lon_b - lon_a) * F.lit(DEG2RAD)
    pi = math.pi
    dlam = (
        F.when(dlam_raw > pi, dlam_raw - F.lit(2.0 * pi))
        .when(dlam_raw < -pi, dlam_raw + F.lit(2.0 * pi))
        .otherwise(dlam_raw)
    )
    dpsi = (F.log(F.tan(p2 / F.lit(2.0) + F.lit(pi / 4.0)))
            - F.log(F.tan(p1 / F.lit(2.0) + F.lit(pi / 4.0))))
    q = F.when(F.abs(dpsi) > 1e-12, dphi / dpsi).otherwise(F.cos(p1))
    return F.sqrt(dphi * dphi + q * q * dlam * dlam) * F.lit(RAD2METER)


def rhumb_bearing(lat_a: Column, lon_a: Column,
                  lat_b: Column, lon_b: Column) -> Column:
    """Constant compass bearing of the loxodrome A -> B, degrees in
    [0, 360). Same dpsi/short-way-dlam construction as
    :func:`rhumb_distance`."""
    p1 = lat_a * F.lit(DEG2RAD)
    p2 = lat_b * F.lit(DEG2RAD)
    pi = math.pi
    dlam_raw = (lon_b - lon_a) * F.lit(DEG2RAD)
    dlam = (
        F.when(dlam_raw > pi, dlam_raw - F.lit(2.0 * pi))
        .when(dlam_raw < -pi, dlam_raw + F.lit(2.0 * pi))
        .otherwise(dlam_raw)
    )
    dpsi = (F.log(F.tan(p2 / F.lit(2.0) + F.lit(pi / 4.0)))
            - F.log(F.tan(p1 / F.lit(2.0) + F.lit(pi / 4.0))))
    th = F.atan2(dlam, dpsi) * F.lit(RAD2DEG)
    return F.when(th < 0.0, th + F.lit(360.0)).otherwise(th)


def with_vincenty(df, lat_a: str, lon_a: str, lat_b: str, lon_b: str,
                  out_col: str = "vincenty_m",
                  a: float = 6378137.0,
                  f: float = 1.0 / 298.257223563,
                  iters: int = 10):
    """Vincenty inverse geodesic distance on the WGS84 ellipsoid
    (Vincenty 1975, the published lambda fixed point + A/B series) —
    ellipsoidal accuracy (<0.5 mm) where the spherical great circle is
    off by up to ~0.3%. Beyond the reference (ogr_geo_utils.cpp is
    spherical-only).

    The lambda iteration is unrolled to a FIXED ``iters`` count via
    withColumn (linear plan growth; each step materializes — the same
    discipline the SQL oracle mirrors as a CTE ladder), so results are
    bit-comparable across engines regardless of convergence chatter.
    Coincident points yield 0; near-antipodal pairs (where Vincenty
    famously converges slowly) get whatever ``iters`` steps give —
    raise ``iters`` if you feed those. Pure JVM column math."""
    b = a * (1.0 - f)
    p1 = F.radians(F.col(lat_a))
    p2 = F.radians(F.col(lat_b))
    # one projection per dependency stage (withColumns, plural): the
    # analyzer cost of a long withColumn chain is quadratic, and this
    # runs 10 unrolled iterations
    tmp = df.withColumns({
        "_u1": F.atan((1.0 - f) * F.tan(p1)),
        "_u2": F.atan((1.0 - f) * F.tan(p2)),
        "_ll": F.radians(F.col(lon_b) - F.col(lon_a)),
    }).withColumns({
        "_su1": F.sin(F.col("_u1")),
        "_cu1": F.cos(F.col("_u1")),
        "_su2": F.sin(F.col("_u2")),
        "_cu2": F.cos(F.col("_u2")),
        "_lam": F.col("_ll"),
    })
    su1, cu1 = F.col("_su1"), F.col("_cu1")
    su2, cu2 = F.col("_su2"), F.col("_cu2")

    def _lam_step(lam):
        # ONE composite expression per iteration — the identical
        # arithmetic the staged final block spells, inlined; runtime
        # subexpression elimination dedups the repeated subtrees, and
        # the _nd rand barrier below stops CollapseProject from fusing
        # iterations into one exponential tree. Measured at sf0.1:
        # ~30% off the 80-project form's wall time (the remaining cost
        # is the rand barrier disabling whole-stage codegen on these
        # projects — the price of keeping the plan linear); results are
        # bit-identical, the CTE-ladder oracle still matches exactly
        sl = F.sin(lam)
        cl = F.cos(lam)
        t1 = cu2 * sl
        t2 = cu1 * su2 - su1 * cu2 * cl
        csig = su1 * su2 + cu1 * cu2 * cl
        ssig = F.sqrt(t1 * t1 + t2 * t2)
        sig = F.atan2(ssig, csig)
        sal = F.when(ssig == 0.0, F.lit(0.0)).otherwise(
            cu1 * cu2 * sl / ssig)
        c2a = 1.0 - sal * sal
        c2m = F.when(c2a == 0.0, F.lit(0.0)).otherwise(
            csig - 2.0 * su1 * su2 / c2a)
        cc = f / 16.0 * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        return F.col("_ll") + (1.0 - cc) * f * sal * (
            sig + cc * ssig * (c2m + cc * csig
                               * (-1.0 + 2.0 * c2m * c2m)))

    for _ in range(iters - 1):
        tmp = tmp.withColumns({
            "_lam": _lam_step(F.col("_lam")),
            "_nd": F.rand(42),
        })
    # final iteration: the staged block, preserving every intermediate
    # the closed-form tail (A/B/dsig) reads — values bit-identical to
    # the fully staged unroll the SQL oracle mirrors
    for _ in range(1):
        tmp = tmp.withColumns({
            "_sl": F.sin(F.col("_lam")),
            "_cl": F.cos(F.col("_lam")),
            "_nd": F.rand(42),
        }).withColumns({
            "_t1": F.col("_cu2") * F.col("_sl"),
            "_t2": F.col("_cu1") * F.col("_su2")
                   - F.col("_su1") * F.col("_cu2") * F.col("_cl"),
            "_csig": F.col("_su1") * F.col("_su2")
                     + F.col("_cu1") * F.col("_cu2") * F.col("_cl"),
        }).withColumns({
            "_ssig": F.sqrt(F.col("_t1") * F.col("_t1")
                            + F.col("_t2") * F.col("_t2")),
        }).withColumns({
            "_sig": F.atan2(F.col("_ssig"), F.col("_csig")),
            "_sal": F.when(F.col("_ssig") == 0.0, F.lit(0.0)).otherwise(
                F.col("_cu1") * F.col("_cu2") * F.col("_sl")
                / F.col("_ssig")),
        }).withColumns({
            "_c2a": 1.0 - F.col("_sal") * F.col("_sal"),
        }).withColumns({
            "_c2m": F.when(F.col("_c2a") == 0.0, F.lit(0.0)).otherwise(
                F.col("_csig")
                - 2.0 * F.col("_su1") * F.col("_su2") / F.col("_c2a")),
            "_cc": f / 16.0 * F.col("_c2a")
                   * (4.0 + f * (4.0 - 3.0 * F.col("_c2a"))),
        }).withColumns({
            "_lam": F.col("_ll") + (1.0 - F.col("_cc")) * f
                    * F.col("_sal")
                    * (F.col("_sig") + F.col("_cc") * F.col("_ssig")
                       * (F.col("_c2m") + F.col("_cc") * F.col("_csig")
                          * (-1.0 + 2.0 * F.col("_c2m")
                             * F.col("_c2m")))),
        })
    u2 = F.col("_c2a") * (a * a - b * b) / (b * b)
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2
                              * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * F.col("_ssig") * (
        F.col("_c2m") + B / 4.0 * (
            F.col("_csig") * (-1.0 + 2.0 * F.col("_c2m") * F.col("_c2m"))
            - B / 6.0 * F.col("_c2m")
            * (-3.0 + 4.0 * F.col("_ssig") * F.col("_ssig"))
            * (-3.0 + 4.0 * F.col("_c2m") * F.col("_c2m"))))
    dist = F.when(F.col("_ssig") == 0.0, F.lit(0.0)).otherwise(
        b * A * (F.col("_sig") - dsig))
    out = tmp.withColumn(out_col, dist)
    drop = ["_u1", "_u2", "_ll", "_su1", "_cu1", "_su2", "_cu2", "_lam",
            "_sl", "_cl", "_t1", "_t2", "_ssig", "_csig", "_sig", "_sal",
            "_c2a", "_c2m", "_cc", "_nd"]
    return out.drop(*drop)


def gc_intermediate_point(lat_a: Column, lon_a: Column,
                          lat_b: Column, lon_b: Column,
                          f: Column) -> Column:
    """Point at fraction ``f`` (0..1) along the great circle A->B — the
    aviation-formulary (Ed Williams) spherical linear interpolation:

        d = angular distance; A = sin((1-f)d)/sin d; B = sin(fd)/sin d
        x = A cos(lat_a) cos(lon_a) + B cos(lat_b) cos(lon_b)   (and y, z)
        lat = atan2(z, hypot(x, y)); lon = atan2(y, x)

    Coincident endpoints (sin d == 0) return A. Pure JVM column math;
    returns struct(lat, lon) in degrees.
    """
    p1, l1 = F.radians(lat_a), F.radians(lon_a)
    p2, l2 = F.radians(lat_b), F.radians(lon_b)
    d = _safe_acos(
        F.sin(p1) * F.sin(p2) + F.cos(p1) * F.cos(p2) * F.cos(l2 - l1))
    sd = F.sin(d)
    A = F.sin((1.0 - f) * d) / sd
    B = F.sin(f * d) / sd
    x = A * F.cos(p1) * F.cos(l1) + B * F.cos(p2) * F.cos(l2)
    y = A * F.cos(p1) * F.sin(l1) + B * F.cos(p2) * F.sin(l2)
    z = A * F.sin(p1) + B * F.sin(p2)
    lat = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    lon = F.degrees(F.atan2(y, x))
    return _guard(F.struct(
        F.when(sd == 0.0, lat_a).otherwise(lat).alias("lat"),
        F.when(sd == 0.0, lon_a).otherwise(lon).alias("lon"),
    ), lat_a, lon_a, lat_b, lon_b)


def cross_track_distance(lat_a: Column, lon_a: Column,
                         lat_b: Column, lon_b: Column,
                         lat_p: Column, lon_p: Column) -> Column:
    """Signed cross-track distance (meters) of point P from the great
    circle through A->B (the formulary XTD):

        xtd = asin( sin(d_AP) * sin(theta_AP - theta_AB) ) * R

    The formulary sign: positive RIGHT of the course, negative LEFT
    (a point north of an eastward track is negative). Uses the
    module's reference constants (RAD2METER nautical-mile earth)."""
    d_ap = great_circle_distance(lat_a, lon_a, lat_p, lon_p) * METER2RAD
    th_ap = F.radians(
        great_circle_initial_heading(lat_a, lon_a, lat_p, lon_p))
    th_ab = F.radians(
        great_circle_initial_heading(lat_a, lon_a, lat_b, lon_b))
    return _guard(F.asin(
        F.least(F.greatest(F.sin(d_ap) * F.sin(th_ap - th_ab),
                           F.lit(-1.0)), F.lit(1.0))
    ) * RAD2METER, lat_a, lon_a, lat_b, lon_b, lat_p, lon_p)


def along_track_distance(lat_a: Column, lon_a: Column,
                         lat_b: Column, lon_b: Column,
                         lat_p: Column, lon_p: Column) -> Column:
    """Along-track distance (meters) from A to the foot of P's
    perpendicular on the A->B great circle (formulary ATD):

        atd = acos( cos(d_AP) / cos(xtd) ) * R
    """
    d_ap = great_circle_distance(lat_a, lon_a, lat_p, lon_p) * METER2RAD
    xtd = cross_track_distance(lat_a, lon_a, lat_b, lon_b,
                               lat_p, lon_p) * METER2RAD
    return _guard(_safe_acos(F.cos(d_ap) / F.cos(xtd)) * RAD2METER,
                  lat_a, lon_a, lat_b, lon_b, lat_p, lon_p)


def rhumb_destination(lat_a: Column, lon_a: Column,
                      bearing_deg: Column, dist_m: Column) -> Column:
    """Dead-reckoned position after sailing ``dist_m`` meters on the
    constant compass ``bearing_deg`` — the loxodrome counterpart of the
    reference's great-circle ExtendPosition (same navigation sphere,
    standard direct-rhumb form):

        dphi = d cos(theta); q = dphi/dpsi (cos(lat) when the isometric
        difference vanishes — east-west legs); dlam = d sin(theta)/q

    Longitude wraps into (-180, 180]. Returns struct(lat, lon) degrees.
    Pure JVM Column math (no UDF)."""
    p1 = lat_a * F.lit(DEG2RAD)
    th = bearing_deg * F.lit(DEG2RAD)
    d = dist_m * F.lit(METER2RAD)
    pi = math.pi
    dphi = d * F.cos(th)
    p2 = p1 + dphi
    dpsi = (F.log(F.tan(p2 / F.lit(2.0) + F.lit(pi / 4.0)))
            - F.log(F.tan(p1 / F.lit(2.0) + F.lit(pi / 4.0))))
    q = F.when(F.abs(dpsi) > 1e-12, dphi / dpsi).otherwise(F.cos(p1))
    dlam = d * F.sin(th) / q
    l2 = lon_a * F.lit(DEG2RAD) + dlam
    l2w = l2 - F.floor((l2 + F.lit(pi)) / F.lit(2.0 * pi)) * F.lit(2.0 * pi)
    return F.struct(
        (p2 * F.lit(RAD2DEG)).alias("lat"),
        (l2w * F.lit(RAD2DEG)).alias("lon"),
    )
