"""CRS reprojection as native Catalyst expressions.

The reference reprojects through PROJ (geopolars-geo/src/ops/proj.rs:33-70:
one transformer per column, then a per-geometry decode→transform→reencode
loop) and accepts ANY pair of CRS. This container has no PROJ/pyproj, so
the engine implements the projection math directly as closed-form Spark
SQL expressions over the GEOM struct's coordinate arrays — the transform
runs JVM-side, per-coordinate, with no Python worker at all (interpreted:
array higher-order functions are CodegenFallback).

Any-to-any routing goes through the WGS84 lon/lat hub (matching
ops/proj.rs:33-70's transformer semantics):

    src grid → src-datum lon/lat → [Helmert → WGS84] →
    [inverse Helmert → dst datum] → dst grid

Engines (each parametrized by ellipsoid, so one implementation serves
every datum):

- geographic lon/lat (the hub)
- spherical Web Mercator (EPSG:3857)
- transverse Mercator — Krüger order-6 series (UTM zones, OSGB 27700,
  US State Plane TM zones; sub-mm agreement with PROJ on WGS84)
- Lambert conformal conic 2SP (EPSG:2263, Lambert-93, Europe LCC,
  US State Plane LCC zones)
- Lambert azimuthal equal-area (EPSG:3035)
- 7-parameter Helmert (position-vector) datum shift via ECEF for
  non-WGS84 datums (OSGB36, ED50)

The registry at the bottom carries public EPSG parameter-table data for
the grids users actually hit; adding a code is one dict entry — no new
math. Unknown codes raise ``CRSError`` eagerly on the driver, mirroring
the reference's ProjCreateError (geopolars-geo/src/error.rs:9-28).

Expression-engineering note: Catalyst has no common-subexpression *tree*
sharing at construction time, so naive fixed-point iterations (Newton for
the inverse projections) would square the expression tree each round.
Two tools keep every tree linear:

- ``_let(e, f)`` binds ``e`` once as a lambda variable:
  ``transform(array(e), x -> f(x))[1]``;
- iterations run inside ``aggregate(sequence(1, n), x0, step)`` where the
  accumulator is a lambda variable, so each round adds O(1) nodes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from .functions.native import _g, _valid, geom_struct, let_once

# ---------------------------------------------------------------------------
# ellipsoids (public EPSG ellipsoid parameters: semi-major, inverse flat)
# ---------------------------------------------------------------------------

_WGS84 = (6378137.0, 298.257223563)
_GRS80 = (6378137.0, 298.257222101)
_AIRY1830 = (6377563.396, 299.3249646)
_INTL1924 = (6378388.0, 297.0)

_A = _WGS84[0]
_F = 1 / _WGS84[1]
_E2 = _F * (2 - _F)
_E = math.sqrt(_E2)


def _ell(e):
    a, rf = e
    f = 1.0 / rf
    e2 = f * (2 - f)
    return a, f, e2, math.sqrt(e2)


class CRSError(ValueError):
    pass


def _let(col: Column, fn) -> Column:
    """Bind `col` once as a lambda variable (Catalyst 'let')."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _xy(x: Column, y: Column) -> Column:
    return F.struct(x.alias("x"), y.alias("y"))


def _norm(crs) -> str:
    if isinstance(crs, int):
        return f"EPSG:{crs}"
    s = str(crs).upper().replace(" ", "")
    if s.isdigit():
        return f"EPSG:{s}"
    return s


# ---------------------------------------------------------------------------
# Web Mercator (EPSG:3857) — spherical, closed form
# ---------------------------------------------------------------------------

def _webmerc_fwd(lon, lat, p=None) -> Column:
    # optional params thread +lon_0/+x_0/+y_0/+units/+ellps through the
    # spherical kernel (PROJ webmerc accepts all of them; the bare
    # EPSG:3857 path keeps the closed zero-parameter form) — ADVICE r10
    a = _ell(p["ellps"])[0] if p else _A
    unit = p.get("unit", 1.0) if p else 1.0
    fe, fn = (p["fe"], p["fn"]) if p else (0.0, 0.0)
    lam0 = math.radians(p["lon0"]) if p else 0.0
    s = a / unit
    return _xy(F.lit(fe) + F.lit(s) * (F.radians(lon) - F.lit(lam0)),
               F.lit(fn) + F.lit(s) * F.log(F.tan(F.lit(math.pi / 4)
                                                  + F.radians(lat) / 2)))


def _webmerc_inv(x, y, p=None) -> Column:
    a = _ell(p["ellps"])[0] if p else _A
    unit = p.get("unit", 1.0) if p else 1.0
    fe, fn = (p["fe"], p["fn"]) if p else (0.0, 0.0)
    lon0 = float(p["lon0"]) if p else 0.0
    s = unit / a
    return _xy(F.lit(lon0) + F.degrees((x - F.lit(fe)) * F.lit(s)),
               F.degrees(F.lit(2.0)
                         * F.atan(F.exp((y - F.lit(fn)) * F.lit(s)))
                         - F.lit(math.pi / 2)))


# ---------------------------------------------------------------------------
# Mercator (ellipsoidal, 1SP) — Snyder 1987 pp. 41-44; +proj=merc
# ---------------------------------------------------------------------------

def _merc_fwd(lon, lat, p) -> Column:
    a, _f, _e2, e = _ell(p["ellps"])
    k0, unit = p.get("k0", 1.0), p.get("unit", 1.0)
    lam0 = math.radians(p["lon0"])
    sphi = F.sin(F.radians(lat))
    # isometric latitude psi = atanh(sin phi) - e atanh(e sin phi)
    psi = _let(sphi, lambda s: _atanh(s) - F.lit(e) * _atanh(F.lit(e) * s))
    return _xy(F.lit(p["fe"])
               + F.lit(a * k0 / unit) * (F.radians(lon) - F.lit(lam0)),
               F.lit(p["fn"]) + F.lit(a * k0 / unit) * psi)


def _merc_inv(x, y, p) -> Column:
    a, _f, e2, e = _ell(p["ellps"])
    k0, unit = p.get("k0", 1.0), p.get("unit", 1.0)
    psi = (y - F.lit(p["fn"])) * F.lit(unit / (a * k0))
    lon = (F.lit(float(p["lon0"]))
           + F.degrees((x - F.lit(p["fe"])) * F.lit(unit / (a * k0))))
    # conformal latitude chi = atan(sinh psi), then the shared Newton
    lat = _let(F.atan(F.sinh(psi)),
               lambda ch: F.degrees(F.atan(_tau_newton(ch, e, e2))))
    return _xy(lon, lat)


# ---------------------------------------------------------------------------
# Transverse Mercator — Krüger series, order 6, any ellipsoid
# ---------------------------------------------------------------------------

_K0_UTM = 0.9996
_FT_US = 1200.0 / 3937.0  # US survey foot in meters


def _tm_consts(ellps):
    """Per-ellipsoid Krüger constants (driver-side floats)."""
    a, f, e2, e = _ell(ellps)
    n = f / (2 - f)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    A_cap = a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = [
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880,
        49561 * n4 / 161280 - 179 * n5 / 168,
        34729 * n5 / 80640,
    ]
    beta = [
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - 1 * n4 / 360 - 81 * n5 / 512,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480,
        4397 * n4 / 161280 - 11 * n5 / 504,
        4583 * n5 / 161280,
    ]
    return {"A": A_cap, "alpha": alpha, "beta": beta, "e": e, "e2": e2}


def _tm_m0(c, lat0):
    """Meridian-arc northing of lat0 (series evaluated in Python)."""
    if lat0 == 0.0:
        return 0.0
    phi = math.radians(lat0)
    e = c["e"]
    t = math.sinh(math.atanh(math.sin(phi)) - e * math.atanh(e * math.sin(phi)))
    xi = math.atan(t)
    return c["A"] * (xi + sum(a * math.sin(2 * j * xi)
                              for j, a in enumerate(c["alpha"], 1)))


def _atanh(x):
    return F.lit(0.5) * F.log((F.lit(1.0) + x) / (F.lit(1.0) - x))


def _tau_newton(ch, e, e2) -> Column:
    """Geodetic tan(lat) from a conformal-latitude column `ch` — the
    tau/tau' Newton iteration (Karney 2011 §3), run inside aggregate so
    the expression tree stays linear. Shared by the TM and ellipsoidal
    Mercator inverses."""
    def step(tau, _i):
        sigma = F.sinh(F.lit(e) * _atanh(
            F.lit(e) * tau / F.sqrt(F.lit(1.0) + tau * tau)))
        taup = (tau * F.sqrt(F.lit(1.0) + sigma * sigma)
                - sigma * F.sqrt(F.lit(1.0) + tau * tau))
        dtau = ((F.tan(ch) - taup)
                * (F.lit(1.0) + F.lit(1 - e2) * tau * tau)
                / (F.lit(1 - e2)
                   * F.sqrt((F.lit(1.0) + taup * taup)
                            * (F.lit(1.0) + tau * tau))))
        return tau + dtau

    return F.aggregate(F.sequence(F.lit(1), F.lit(5)),
                       F.tan(ch), lambda acc, i: step(acc, i))


def _tm_fwd(lon, lat, p) -> Column:
    c = _tm_consts(p["ellps"])
    k0, unit = p["k0"], p.get("unit", 1.0)
    m0 = _tm_m0(c, p.get("lat0", 0.0))
    e = c["e"]
    phi = F.radians(lat)
    lam = F.radians(lon) - F.lit(math.radians(p["lon0"]))
    t = F.sinh(_atanh(F.sin(phi))
               - F.lit(e) * _atanh(F.lit(e) * F.sin(phi)))

    # bind (t, lam) once, then (xi, eta) once
    def with_t(s):
        xi = F.atan2(s["t"], F.cos(s["lam"]))
        eta = _atanh(F.sin(s["lam"]) / F.sqrt(F.lit(1.0) + s["t"] * s["t"]))

        def with_xieta(u):
            x = u["eta"]
            y = u["xi"]
            for j, a in enumerate(c["alpha"], start=1):
                x = x + F.lit(a) * F.cos(F.lit(2.0 * j) * u["xi"]) \
                    * F.sinh(F.lit(2.0 * j) * u["eta"])
                y = y + F.lit(a) * F.sin(F.lit(2.0 * j) * u["xi"]) \
                    * F.cosh(F.lit(2.0 * j) * u["eta"])
            return _xy(F.lit(p["fe"]) + F.lit(k0 * c["A"] / unit) * x,
                       F.lit(p["fn"]) + (F.lit(k0 * c["A"] / unit) * y
                                         - F.lit(k0 * m0 / unit)))
        return _let(F.struct(xi.alias("xi"), eta.alias("eta")), with_xieta)
    return _let(F.struct(t.alias("t"), lam.alias("lam")), with_t)


def _tm_inv(x, y, p) -> Column:
    c = _tm_consts(p["ellps"])
    k0, unit = p["k0"], p.get("unit", 1.0)
    m0 = _tm_m0(c, p.get("lat0", 0.0))
    e, e2 = c["e"], c["e2"]
    xi = ((y - F.lit(p["fn"])) * F.lit(unit) + F.lit(k0 * m0)) \
        / F.lit(k0 * c["A"])
    eta = (x - F.lit(p["fe"])) * F.lit(unit) / F.lit(k0 * c["A"])

    def with_xieta(u):
        xip = u["xi"]
        etap = u["eta"]
        for j, b in enumerate(c["beta"], start=1):
            xip = xip - F.lit(b) * F.sin(F.lit(2.0 * j) * u["xi"]) \
                * F.cosh(F.lit(2.0 * j) * u["eta"])
            etap = etap - F.lit(b) * F.cos(F.lit(2.0 * j) * u["xi"]) \
                * F.sinh(F.lit(2.0 * j) * u["eta"])

        def with_prime(pr):
            chi = F.asin(F.sin(pr["xip"]) / F.cosh(pr["etap"]))

            def with_chi(ch):
                tau = _tau_newton(ch, e, e2)
                lon = (F.lit(float(p["lon0"]))
                       + F.degrees(F.atan2(F.sinh(pr["etap"]),
                                           F.cos(pr["xip"]))))
                return _xy(lon, F.degrees(F.atan(tau)))
            return _let(chi, with_chi)
        return _let(F.struct(xip.alias("xip"), etap.alias("etap")),
                    with_prime)
    return _let(F.struct(xi.alias("xi"), eta.alias("eta")), with_xieta)


# ---------------------------------------------------------------------------
# Lambert Conformal Conic (2SP) — any ellipsoid
# ---------------------------------------------------------------------------

def _lcc_consts(p):
    a, f, e2, e = _ell(p["ellps"])

    def m(phi):
        return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)

    def t(phi):
        return (math.tan(math.pi / 4 - phi / 2)
                / ((1 - e * math.sin(phi))
                   / (1 + e * math.sin(phi))) ** (e / 2))

    p1, p2, p0 = map(math.radians, (p["lat1"], p["lat2"], p["lat0"]))
    if abs(p["lat1"] - p["lat2"]) < 1e-12:
        # 1SP limit (lat1 → lat2): n → sin(lat1) by L'Hôpital; the
        # scale factor k0 at the natural origin multiplies F
        # (Snyder 1987 p. 107, eq. 15-* single-parallel forms)
        n = math.sin(p1)
    else:
        n = ((math.log(m(p1)) - math.log(m(p2)))
             / (math.log(t(p1)) - math.log(t(p2))))
    big_f = p.get("k0", 1.0) * m(p1) / (n * t(p1) ** n)
    rho0 = a * big_f * t(p0) ** n
    return a, e, n, big_f, rho0, math.radians(p["lon0"])


def _lcc_fwd(lon, lat, p) -> Column:
    """fe/fn and output are in the CRS's native unit (p['unit'] meters per
    unit); rho math is in meters."""
    a, e, n, big_f, rho0, lam0 = _lcc_consts(p)
    unit = p.get("unit", 1.0)
    phi = F.radians(lat)
    tcol = (F.tan(F.lit(math.pi / 4) - phi / 2)
            / F.pow((F.lit(1.0) - F.lit(e) * F.sin(phi))
                    / (F.lit(1.0) + F.lit(e) * F.sin(phi)), F.lit(e / 2)))
    rho = F.lit(a * big_f) * F.pow(tcol, F.lit(n))
    th = F.lit(n) * (F.radians(lon) - F.lit(lam0))

    def with_rho_th(s):
        x = s["rho"] * F.sin(s["th"]) / F.lit(unit) + F.lit(p["fe"])
        y = ((F.lit(rho0) - s["rho"] * F.cos(s["th"])) / F.lit(unit)
             + F.lit(p["fn"]))
        return _xy(x, y)
    return _let(F.struct(rho.alias("rho"), th.alias("th")), with_rho_th)


def _lcc_inv(x, y, p) -> Column:
    a, e, n, big_f, rho0, lam0 = _lcc_consts(p)
    unit = p.get("unit", 1.0)
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        rho_s = F.sqrt(s["xm"] * s["xm"]
                       + (F.lit(rho0) - s["ym"]) * (F.lit(rho0) - s["ym"]))
        rho_s = F.when(F.lit(n) < 0, -rho_s).otherwise(rho_s)
        tp = F.pow(rho_s / F.lit(a * big_f), F.lit(1.0 / n))
        # southern cone (n < 0): the signs of x and (rho0 - y) reverse
        # in theta (Snyder 1987 p. 107, "taking signs into account")
        sgn = 1.0 if n > 0 else -1.0
        th = F.atan2(F.lit(sgn) * s["xm"],
                     F.lit(sgn) * (F.lit(rho0) - s["ym"]))

        def with_tp(tpv):
            # fixed-point latitude iteration, linear tree via aggregate
            def step(phi, _i):
                return (F.lit(math.pi / 2)
                        - F.lit(2.0) * F.atan(tpv * F.pow(
                            (F.lit(1.0) - F.lit(e) * F.sin(phi))
                            / (F.lit(1.0) + F.lit(e) * F.sin(phi)),
                            F.lit(e / 2))))
            phi0 = F.lit(math.pi / 2) - F.lit(2.0) * F.atan(tpv)
            phi = F.aggregate(F.sequence(F.lit(1), F.lit(6)), phi0,
                              lambda acc, i: step(acc, i))
            lon = F.degrees(th / F.lit(n) + F.lit(lam0))
            return _xy(lon, F.degrees(phi))
        return _let(tp, with_tp)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


# ---------------------------------------------------------------------------
# Lambert Azimuthal Equal-Area (ellipsoidal, Snyder 1987 pp. 187-190)
# e.g. EPSG:3035 ETRS89 / LAEA Europe
# ---------------------------------------------------------------------------

def _laea_consts(p):
    a, f, e2, e = _ell(p["ellps"])

    def q(phi):
        s = math.sin(phi)
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - (1 / (2 * e)) * math.log((1 - e * s)
                                                      / (1 + e * s)))

    phi0 = math.radians(p["lat0"])
    qp = q(math.pi / 2)
    q0 = q(phi0)
    beta0 = math.asin(q0 / qp)
    rq = a * math.sqrt(qp / 2)
    m0 = math.cos(phi0) / math.sqrt(1 - e2 * math.sin(phi0) ** 2)
    d = a * m0 / (rq * math.cos(beta0))
    return a, e, e2, qp, beta0, rq, d, math.radians(p["lon0"])


def _laea_fwd(lon, lat, p) -> Column:
    a, e, e2, qp, beta0, rq, d, lam0 = _laea_consts(p)
    phi = F.radians(lat)
    lam = F.radians(lon) - F.lit(lam0)
    s = F.sin(phi)
    qcol = F.lit(1 - e2) * (s / (F.lit(1.0) - F.lit(e2) * s * s)
                            - F.lit(1 / (2 * e))
                            * F.log((F.lit(1.0) - F.lit(e) * s)
                                    / (F.lit(1.0) + F.lit(e) * s)))

    def with_q(qv):
        beta = F.asin(F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                                                     qv / F.lit(qp))))

        def with_beta(b):
            bcb = F.lit(math.cos(beta0)) * F.cos(b) * F.cos(lam)
            bsb = F.lit(math.sin(beta0)) * F.sin(b)
            bv = F.sqrt(F.lit(2.0) / (F.lit(1.0) + bsb + bcb))

            def with_b(bb):
                x = (F.lit(p["fe"])
                     + F.lit(rq * d) * bb * F.cos(b) * F.sin(lam))
                y = (F.lit(p["fn"])
                     + F.lit(rq / d) * bb
                     * (F.lit(math.cos(beta0)) * F.sin(b)
                        - F.lit(math.sin(beta0)) * F.cos(b) * F.cos(lam)))
                return _xy(x, y)
            return _let(bv, with_b)
        return _let(beta, with_beta)
    return _let(qcol, with_q)


def _laea_inv(x, y, p) -> Column:
    a, e, e2, qp, beta0, rq, d, lam0 = _laea_consts(p)
    xe = (x - F.lit(p["fe"])) / F.lit(d)
    yn = (y - F.lit(p["fn"])) * F.lit(d)

    def with_xy(s):
        rho = F.sqrt(s["xe"] * s["xe"] + s["yn"] * s["yn"])
        ce = F.lit(2.0) * F.asin(F.least(F.lit(1.0),
                                         rho / F.lit(2 * rq)))

        def with_ce(c):
            # q at the point; guard rho→0 (projection center)
            safe_rho = F.when(F.abs(rho) < 1e-12, F.lit(1.0)).otherwise(rho)
            qv = F.when(
                F.abs(rho) < 1e-12, F.lit(qp * math.sin(beta0))).otherwise(
                F.lit(qp) * (F.cos(c) * F.lit(math.sin(beta0))
                             + s["yn"] * F.sin(c)
                             * F.lit(math.cos(beta0)) / safe_rho))
            lon = F.lit(math.degrees(lam0)) + F.degrees(F.atan2(
                s["xe"] * F.sin(c),
                F.lit(math.cos(beta0)) * rho * F.cos(c)
                - F.lit(math.sin(beta0)) * s["yn"] * F.sin(c)))

            def with_q(qq):
                # latitude from q: fixed-point (Snyder 3-16)
                def step(phi, _i):
                    sp = F.sin(phi)
                    return phi + (
                        F.pow(F.lit(1.0) - F.lit(e2) * sp * sp, F.lit(2.0))
                        / (F.lit(2.0) * F.cos(phi))) * (
                        qq / F.lit(1 - e2)
                        - sp / (F.lit(1.0) - F.lit(e2) * sp * sp)
                        + F.lit(1 / (2 * e))
                        * F.log((F.lit(1.0) - F.lit(e) * sp)
                                / (F.lit(1.0) + F.lit(e) * sp)))
                phi0c = F.asin(F.least(F.lit(1.0), F.greatest(
                    F.lit(-1.0), qq / F.lit(2.0))))
                phi = F.aggregate(F.sequence(F.lit(1), F.lit(6)), phi0c,
                                  lambda acc, i: step(acc, i))
                return _xy(lon, F.degrees(phi))
            return _let(qv, with_q)
        return _let(ce, with_ce)
    return _let(F.struct(xe.alias("xe"), yn.alias("yn")), with_xy)


# ---------------------------------------------------------------------------
# Albers Equal-Area Conic (2SP, ellipsoidal — Snyder 1987 pp. 98-103)
# e.g. EPSG:5070 NAD83 / CONUS Albers, EPSG:3577 GDA94 / Australian Albers
# ---------------------------------------------------------------------------

def _aea_consts(p):
    a, f, e2, e = _ell(p["ellps"])

    def m(phi):
        return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)

    def q(phi):
        s = math.sin(phi)
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - (1 / (2 * e)) * math.log((1 - e * s)
                                                      / (1 + e * s)))

    p1, p2, p0 = map(math.radians, (p["lat1"], p["lat2"], p["lat0"]))
    m1, m2 = m(p1), m(p2)
    q0, q1, q2 = q(p0), q(p1), q(p2)
    if abs(p1 - p2) < 1e-10:
        # 1SP Albers limit (Snyder 1987 p. 98): n → sin(lat1) as
        # lat2 → lat1; the 2SP quotient is 0/0 there (ADVICE r10)
        n = math.sin(p1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    big_c = m1 * m1 + n * q1
    rho0 = a * math.sqrt(big_c - n * q0) / n
    return a, e, e2, n, big_c, rho0, math.radians(p["lon0"])


def _q_col(lat_rad, e, e2) -> Column:
    """Snyder's q (3-12) as a Column of the latitude in radians."""
    s = F.sin(lat_rad)
    return F.lit(1 - e2) * (s / (F.lit(1.0) - F.lit(e2) * s * s)
                            - F.lit(1 / (2 * e))
                            * F.log((F.lit(1.0) - F.lit(e) * s)
                                    / (F.lit(1.0) + F.lit(e) * s)))


def _phi_from_q(qq, e, e2) -> Column:
    """Latitude (radians) from q — Snyder (3-16) fixed point, the same
    6-round linear aggregate tree the LAEA inverse uses."""
    def step(phi, _i):
        sp = F.sin(phi)
        return phi + (
            F.pow(F.lit(1.0) - F.lit(e2) * sp * sp, F.lit(2.0))
            / (F.lit(2.0) * F.cos(phi))) * (
            qq / F.lit(1 - e2)
            - sp / (F.lit(1.0) - F.lit(e2) * sp * sp)
            + F.lit(1 / (2 * e))
            * F.log((F.lit(1.0) - F.lit(e) * sp)
                    / (F.lit(1.0) + F.lit(e) * sp)))
    phi0 = F.asin(F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                                                 qq / F.lit(2.0))))
    return F.aggregate(F.sequence(F.lit(1), F.lit(6)), phi0,
                       lambda acc, i: step(acc, i))


def _aea_fwd(lon, lat, p) -> Column:
    a, e, e2, n, big_c, rho0, lam0 = _aea_consts(p)
    qcol = _q_col(F.radians(lat), e, e2)

    def with_q(qv):
        rho = F.lit(a) * F.sqrt(F.greatest(
            F.lit(0.0), F.lit(big_c) - F.lit(n) * qv)) / F.lit(n)
        th = F.lit(n) * (F.radians(lon) - F.lit(lam0))

        def with_rt(s):
            x = F.lit(p["fe"]) + s["rho"] * F.sin(s["th"])
            y = F.lit(p["fn"]) + F.lit(rho0) - s["rho"] * F.cos(s["th"])
            return _xy(x, y)
        return _let(F.struct(rho.alias("rho"), th.alias("th")), with_rt)
    return _let(qcol, with_q)


def _aea_inv(x, y, p) -> Column:
    a, e, e2, n, big_c, rho0, lam0 = _aea_consts(p)
    xm = x - F.lit(p["fe"])
    ym = F.lit(rho0) - (y - F.lit(p["fn"]))

    def with_xy(s):
        rho = F.sqrt(s["xm"] * s["xm"] + s["ym"] * s["ym"])
        # for n<0 (southern-cone setups) both rho and the atan2
        # operands flip sign (Snyder p. 102)
        sgn = 1.0 if n >= 0 else -1.0
        th = F.atan2(F.lit(sgn) * s["xm"], F.lit(sgn) * s["ym"])
        qv = (F.lit(big_c)
              - rho * rho * F.lit(n * n / (a * a))) / F.lit(n)

        def with_q(qq):
            lon = F.degrees(th / F.lit(n) + F.lit(lam0))
            return _xy(lon, F.degrees(_phi_from_q(qq, e, e2)))
        return _let(qv, with_q)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


# ---------------------------------------------------------------------------
# Shared isometric-latitude machinery for the stereographic / Swiss
# families (r11): psi(phi) = atanh(sin phi) - e atanh(e sin phi); the
# inverse goes conformal-latitude -> tau Newton (same iteration the TM
# and Mercator inverses share).
# ---------------------------------------------------------------------------

def _iso_f(phi: float, e: float) -> float:
    s = math.sin(phi)
    return math.atanh(s) - e * math.atanh(e * s)


def _iso_col(lat_rad, e) -> Column:
    s = F.sin(lat_rad)
    return _atanh(s) - F.lit(e) * _atanh(F.lit(e) * s)


def _phi_from_iso(psi, e, e2) -> Column:
    """Geodetic latitude (radians) from isometric latitude:
    chi = atan(sinh psi), then the shared tau Newton."""
    return _let(F.atan(F.sinh(psi)),
                lambda ch: F.atan(_tau_newton(ch, e, e2)))


# ---------------------------------------------------------------------------
# Polar Stereographic (ellipsoidal) — Snyder 1987 pp. 160-162; EPSG
# method 9810 (variant A, +k) / 9829 (variant B, +lat_ts). e.g.
# EPSG:3413/3976 (NSIDC sea-ice grids), EPSG:3031 (Antarctic),
# EPSG:32661/32761 (UPS), 5041/5042.
# ---------------------------------------------------------------------------

def _stere_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    south = bool(p.get("south"))
    # t = exp(-psi): tan(pi/4 - phi/2) * ((1+e sin)/(1-e sin))^(e/2)
    cbig = math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
    if p.get("lat_ts") is not None:
        # variant B: scale from the standard parallel
        phi_f = math.radians(abs(float(p["lat_ts"])))
        m_f = math.cos(phi_f) / math.sqrt(1 - e2 * math.sin(phi_f) ** 2)
        t_f = math.exp(-_iso_f(phi_f, e))
        k0 = m_f * cbig / (2 * t_f)
    else:
        k0 = p.get("k0", 1.0)
    return a, e, e2, k0, cbig, south, math.radians(p["lon0"])


def _stere_fwd(lon, lat, p) -> Column:
    a, e, e2, k0, cbig, south, lam0 = _stere_consts(p)
    unit = p.get("unit", 1.0)
    sgn = -1.0 if south else 1.0
    phi = F.lit(sgn) * F.radians(lat)       # north-polar working aspect
    rho = F.lit(2 * a * k0 / cbig) * F.exp(-_iso_col(phi, e))
    th = F.radians(lon) - F.lit(lam0)

    def with_rt(s):
        x = F.lit(p["fe"]) + s["rho"] * F.sin(s["th"]) / F.lit(unit)
        # south aspect flips the northing axis (Snyder p. 161)
        y = F.lit(p["fn"]) - F.lit(sgn) * s["rho"] * F.cos(s["th"]) \
            / F.lit(unit)
        return _xy(x, y)
    return _let(F.struct(rho.alias("rho"), th.alias("th")), with_rt)


def _stere_inv(x, y, p) -> Column:
    a, e, e2, k0, cbig, south, lam0 = _stere_consts(p)
    unit = p.get("unit", 1.0)
    sgn = -1.0 if south else 1.0
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        rho = F.sqrt(s["xm"] * s["xm"] + s["ym"] * s["ym"])
        t = rho * F.lit(cbig / (2 * a * k0))
        chi = F.lit(math.pi / 2) - F.lit(2.0) * F.atan(t)
        lat = F.degrees(F.lit(sgn)
                        * F.atan(_tau_newton(chi, e, e2)))
        # a polar grid covers all longitudes: wrap to [-180, 180)
        # (lam0 can put the principal atan2 value out of range)
        raw = F.degrees(F.lit(lam0)
                        + F.atan2(s["xm"], F.lit(-sgn) * s["ym"]))
        lon = F.pmod(raw + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
        return _xy(lon, lat)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


# ---------------------------------------------------------------------------
# Oblique Stereographic (double stereographic via the conformal sphere)
# — EPSG method 9809, the Dutch RD projection (EPSG:28992). Constants
# per EPSG Guidance Note 7-2; w = c*exp(2n*psi) collapses to
# sin(chi) = tanh(n*psi + ln(c)/2).
# ---------------------------------------------------------------------------

def _sterea_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    phi0 = math.radians(p["lat0"])
    s0 = math.sin(phi0)
    n = math.sqrt(1 + e2 * math.cos(phi0) ** 4 / (1 - e2))
    big_r = a * math.sqrt(1 - e2) / (1 - e2 * s0 * s0)
    w1 = math.exp(2 * n * _iso_f(phi0, e))
    schi0p = (w1 - 1) / (w1 + 1)
    c = (n + s0) * (1 - schi0p) / ((n - s0) * (1 + schi0p))
    w2 = c * w1
    chi0 = math.asin((w2 - 1) / (w2 + 1))
    k0 = p.get("k0", 1.0)
    return (a, e, e2, n, big_r, chi0, math.log(c), k0,
            math.radians(p["lon0"]))


def _sterea_fwd(lon, lat, p) -> Column:
    a, e, e2, n, big_r, chi0, lnc, k0, lam0 = _sterea_consts(p)
    unit = p.get("unit", 1.0)
    rk2 = 2 * big_r * k0
    chi = F.asin(F.tanh(F.lit(n) * _iso_col(F.radians(lat), e)
                        + F.lit(lnc / 2)))
    dl = F.lit(n) * (F.radians(lon) - F.lit(lam0))

    def with_cd(s):
        sch, cch = F.sin(s["chi"]), F.cos(s["chi"])
        b = (F.lit(1.0) + sch * F.lit(math.sin(chi0))
             + cch * F.lit(math.cos(chi0)) * F.cos(s["dl"]))

        def with_b(bb):
            x = F.lit(p["fe"]) + F.lit(rk2) * cch * F.sin(s["dl"]) \
                / bb / F.lit(unit)
            y = F.lit(p["fn"]) + F.lit(rk2) * (
                sch * F.lit(math.cos(chi0))
                - cch * F.lit(math.sin(chi0)) * F.cos(s["dl"])) \
                / bb / F.lit(unit)
            return _xy(x, y)
        return _let(b, with_b)
    return _let(F.struct(chi.alias("chi"), dl.alias("dl")), with_cd)


def _sterea_inv(x, y, p) -> Column:
    a, e, e2, n, big_r, chi0, lnc, k0, lam0 = _sterea_consts(p)
    unit = p.get("unit", 1.0)
    rk2 = 2 * big_r * k0
    g = rk2 * math.tan(math.pi / 4 - chi0 / 2)
    h = 2 * rk2 * math.tan(chi0) + g
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        i = F.atan2(s["xm"], F.lit(h) + s["ym"])
        j = F.atan2(s["xm"], F.lit(g) - s["ym"]) - i

        def with_ij(t):
            chi = F.lit(chi0) + F.lit(2.0) * F.atan(
                (s["ym"] - s["xm"] * F.tan(t["j"] / 2)) / F.lit(rk2))
            dl = t["j"] + F.lit(2.0) * t["i"]

            def with_chi(ch):
                psi = (_atanh(F.sin(ch)) - F.lit(lnc / 2)) / F.lit(n)
                lat = F.degrees(_phi_from_iso(psi, e, e2))
                lon = F.degrees(F.lit(lam0) + dl / F.lit(n))
                return _xy(lon, lat)
            return _let(chi, with_chi)
        return _let(F.struct(i.alias("i"), j.alias("j")), with_ij)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


# ---------------------------------------------------------------------------
# Swiss Oblique Mercator (EPSG method 9814: ellipsoid -> conformal
# sphere -> sphere rotation -> spherical Mercator) — CH1903 EPSG:21781
# and CH1903+/LV95 EPSG:2056. Formulas per the published swisstopo
# projection note; sin(b) = tanh(alpha*psi + K).
# ---------------------------------------------------------------------------

def _somerc_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    phi0 = math.radians(p["lat0"])
    s0 = math.sin(phi0)
    alpha = math.sqrt(1 + e2 * math.cos(phi0) ** 4 / (1 - e2))
    big_r = a * math.sqrt(1 - e2) / (1 - e2 * s0 * s0)
    b0 = math.asin(s0 / alpha)
    big_k = math.atanh(math.sin(b0)) - alpha * _iso_f(phi0, e)
    big_r *= p.get("k0", 1.0)
    return a, e, e2, alpha, big_r, b0, big_k, math.radians(p["lon0"])


def _somerc_fwd(lon, lat, p) -> Column:
    a, e, e2, alpha, big_r, b0, big_k, lam0 = _somerc_consts(p)
    unit = p.get("unit", 1.0)
    sb = F.tanh(F.lit(alpha) * _iso_col(F.radians(lat), e)
                + F.lit(big_k))
    ll = F.lit(alpha) * (F.radians(lon) - F.lit(lam0))

    def with_bl(s):
        cb = F.sqrt(F.lit(1.0) - s["sb"] * s["sb"])
        # rotate the conformal sphere so (b0, 0) maps to the equator
        sbb = (F.lit(math.cos(b0)) * s["sb"]
               - F.lit(math.sin(b0)) * cb * F.cos(s["l"]))
        lbb = F.atan2(cb * F.sin(s["l"]),
                      F.lit(math.cos(b0)) * cb * F.cos(s["l"])
                      + F.lit(math.sin(b0)) * s["sb"])

        def with_r(t):
            x = F.lit(p["fe"]) + F.lit(big_r) * t["lbb"] / F.lit(unit)
            y = F.lit(p["fn"]) + F.lit(big_r) * _atanh(t["sbb"]) \
                / F.lit(unit)
            return _xy(x, y)
        return _let(F.struct(sbb.alias("sbb"), lbb.alias("lbb")),
                    with_r)
    return _let(F.struct(sb.alias("sb"), ll.alias("l")), with_bl)


def _somerc_inv(x, y, p) -> Column:
    a, e, e2, alpha, big_r, b0, big_k, lam0 = _somerc_consts(p)
    unit = p.get("unit", 1.0)
    lbb = (x - F.lit(p["fe"])) * F.lit(unit) / F.lit(big_r)
    sbb = F.tanh((y - F.lit(p["fn"])) * F.lit(unit) / F.lit(big_r))

    def with_bl(s):
        cbb = F.sqrt(F.lit(1.0) - s["sbb"] * s["sbb"])
        sb = (F.lit(math.cos(b0)) * s["sbb"]
              + F.lit(math.sin(b0)) * cbb * F.cos(s["lbb"]))
        l = F.atan2(cbb * F.sin(s["lbb"]),
                    F.lit(math.cos(b0)) * cbb * F.cos(s["lbb"])
                    - F.lit(math.sin(b0)) * s["sbb"])

        def with_sl(t):
            psi = (_atanh(t["sb"]) - F.lit(big_k)) / F.lit(alpha)
            lat = F.degrees(_phi_from_iso(psi, e, e2))
            lon = F.degrees(F.lit(lam0) + t["l"] / F.lit(alpha))
            return _xy(lon, lat)
        return _let(F.struct(sb.alias("sb"), l.alias("l")), with_sl)
    return _let(F.struct(sbb.alias("sbb"), lbb.alias("lbb")), with_bl)


# ---------------------------------------------------------------------------
# Krovak (EPSG method 9819) — S-JTSK, Czech/Slovak national grid:
# ellipsoid -> conformal (Gaussian) sphere -> rotation to the oblique
# pseudo-pole at azimuth alpha_C -> LCC-style cone n = sin(phi_P) on
# the sphere. EPSG:5514 (Krovak East North: x = -westing,
# y = -southing — PROJ's default orientation) / EPSG:5513 via +czech
# (positive southing/westing).
# ---------------------------------------------------------------------------

def _krovak_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    phic = math.radians(p["lat0"])
    alphac = math.radians(p.get("alpha", 30.28813972222222))
    phip = math.radians(78.5)        # pseudo standard parallel (fixed
    # by the method definition, EPSG GN7-2 / PROJ krovak.cpp)
    k = p.get("k0", 0.9999)
    big_a = a * math.sqrt(1 - e2) / (1 - e2 * math.sin(phic) ** 2)
    big_b = math.sqrt(1 + e2 * math.cos(phic) ** 4 / (1 - e2))
    gamma0 = math.asin(math.sin(phic) / big_b)
    lnt0 = math.atanh(math.sin(gamma0)) - big_b * _iso_f(phic, e)
    n = math.sin(phip)
    r0 = k * big_a / math.tan(phip)
    lntanp = math.log(math.tan(math.pi / 4 + phip / 2))
    return (e, e2, big_b, gamma0, lnt0, n, r0, lntanp, alphac,
            math.radians(p["lon0"]))


def _krovak_fwd(lon, lat, p) -> Column:
    e, e2, big_b, g0, lnt0, n, r0, lntanp, ac, lam0 = _krovak_consts(p)
    unit = p.get("unit", 1.0)
    sgn = 1.0 if p.get("czech") else -1.0
    su = F.tanh(F.lit(big_b) * _iso_col(F.radians(lat), e)
                + F.lit(lnt0))
    v = F.lit(big_b) * (F.lit(lam0) - F.radians(lon))

    def with_uv(s):
        cu = F.sqrt(F.lit(1.0) - s["su"] * s["su"])
        st_ = (F.lit(math.cos(ac)) * s["su"]
               + F.lit(math.sin(ac)) * cu * F.cos(s["v"]))

        def with_t(stc):
            ct = F.sqrt(F.lit(1.0) - stc * stc)
            d = F.asin(cu * F.sin(s["v"]) / ct)
            # r = r0 tan^n(pi/4+phiP/2) / tan^n(pi/4+T/2);
            # ln tan(pi/4+T/2) = atanh(sin T)
            r = F.lit(r0) * F.exp(
                F.lit(n) * (F.lit(lntanp) - _atanh(stc)))

            def with_rd(t):
                xs = t["r"] * F.cos(F.lit(n) * t["d"])   # southing
                yw = t["r"] * F.sin(F.lit(n) * t["d"])   # westing
                x = F.lit(p["fe"]) + F.lit(sgn) * yw / F.lit(unit)
                y = F.lit(p["fn"]) + F.lit(sgn) * xs / F.lit(unit)
                return _xy(x, y)
            return _let(F.struct(r.alias("r"), d.alias("d")), with_rd)
        return _let(st_, with_t)
    return _let(F.struct(su.alias("su"), v.alias("v")), with_uv)


def _krovak_inv(x, y, p) -> Column:
    e, e2, big_b, g0, lnt0, n, r0, lntanp, ac, lam0 = _krovak_consts(p)
    unit = p.get("unit", 1.0)
    sgn = 1.0 if p.get("czech") else -1.0
    yw = F.lit(sgn) * (x - F.lit(p["fe"])) * F.lit(unit)
    xs = F.lit(sgn) * (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        r = F.sqrt(s["xs"] * s["xs"] + s["yw"] * s["yw"])
        d = F.atan2(s["yw"], s["xs"]) / F.lit(n)
        # atanh(sin T) = lntanp + (ln r0 - ln r)/n
        st_ = F.tanh(F.lit(lntanp)
                     + (F.lit(math.log(r0)) - F.log(r)) / F.lit(n))

        def with_td(t):
            ct = F.sqrt(F.lit(1.0) - t["st"] * t["st"])
            su = (F.lit(math.cos(ac)) * t["st"]
                  - F.lit(math.sin(ac)) * ct * F.cos(t["d"]))

            def with_u(suu):
                cu = F.sqrt(F.lit(1.0) - suu * suu)
                v = F.asin(ct * F.sin(t["d"]) / cu)
                lonc = F.degrees(F.lit(lam0) - v / F.lit(big_b))
                psi = (_atanh(suu) - F.lit(lnt0)) / F.lit(big_b)
                latc = F.degrees(_phi_from_iso(psi, e, e2))
                return _xy(lonc, latc)
            return _let(su, with_u)
        return _let(F.struct(st_.alias("st"), d.alias("d")), with_td)
    return _let(F.struct(xs.alias("xs"), yw.alias("yw")), with_xy)


# ---------------------------------------------------------------------------
# Helmert 7-parameter datum shift (position-vector convention) via ECEF
# ---------------------------------------------------------------------------

_AS = math.pi / (180.0 * 3600.0)  # arcsec → rad


# ---------------------------------------------------------------------------
# Cassini-Soldner (EPSG method 9806 — Snyder 1987 pp. 92-95) and
# American Polyconic (EPSG method 9818 — Snyder pp. 124-126). Both are
# built on the classic meridional arc M(phi) (Snyder 3-21); Cassini's
# inverse additionally uses the footpoint latitude from the rectifying
# series (Snyder 3-26). Legacy-grid workhorses: Cassini carries the
# Trinidad 1903 / Palestine 1923 grids (EPSG 30200, 28191/28192),
# Polyconic the Brazilian SAD69 grid (EPSG 29101) and the historic
# USGS quad sheets.
# ---------------------------------------------------------------------------

def _marc_coeffs(e2):
    """Coefficients of the meridional-arc series (Snyder 3-21)."""
    e4 = e2 * e2
    e6 = e4 * e2
    return (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256,
            3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024,
            15 * e4 / 256 + 45 * e6 / 1024,
            35 * e6 / 3072)


def _marc_f(phi: float, a: float, e2: float) -> float:
    c0, c2, c4, c6 = _marc_coeffs(e2)
    return a * (c0 * phi - c2 * math.sin(2 * phi)
                + c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi))


def _marc_col(phi, a: float, e2: float) -> Column:
    c0, c2, c4, c6 = _marc_coeffs(e2)
    two = F.lit(2.0) * phi
    return F.lit(a) * (F.lit(c0) * phi - F.lit(c2) * F.sin(two)
                       + F.lit(c4) * F.sin(F.lit(2.0) * two)
                       - F.lit(c6) * F.sin(F.lit(3.0) * two))


def _foot_lat_col(m, a: float, e2: float) -> Column:
    """Footpoint latitude phi1 from a meridional-arc column `m`
    (Snyder 7-19 + 3-26, the e1 rectifying series)."""
    c0 = _marc_coeffs(e2)[0]
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    j2 = 3 * e1 / 2 - 27 * e1 ** 3 / 32
    j4 = 21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32
    j6 = 151 * e1 ** 3 / 96
    j8 = 1097 * e1 ** 4 / 512

    def with_mu(mu):
        two = F.lit(2.0) * mu
        return (mu + F.lit(j2) * F.sin(two)
                + F.lit(j4) * F.sin(F.lit(2.0) * two)
                + F.lit(j6) * F.sin(F.lit(3.0) * two)
                + F.lit(j8) * F.sin(F.lit(4.0) * two))
    return _let(m / F.lit(a * c0), with_mu)


def _cass_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    lat0 = math.radians(p["lat0"])
    return a, e2, _marc_f(lat0, a, e2), math.radians(p["lon0"])


def _wrap_dlam(d) -> Column:
    """Normalize a lon - lon0 column into (-pi, pi] (PROJ adjlon): a
    world dataset crossing the antimeridian under a non-zero lon_0
    must take the short way around the cylinder/cone (review r12).
    The in-range branch returns the input UNCHANGED bitwise (a
    pmod-based rewrite would perturb every value by cancellation and
    shift oracle hashes)."""
    two_pi = 2.0 * math.pi
    return (F.when(d > F.lit(math.pi), d - F.lit(two_pi))
             .when(d <= F.lit(-math.pi), d + F.lit(two_pi))
             .otherwise(d))


def _cass_fwd(lon, lat, p) -> Column:
    """Cassini-Soldner forward (EPSG 9806 / Snyder 13-2..13-5)."""
    a, e2, m0, lam0 = _cass_consts(p)
    unit = p.get("unit", 1.0)
    phi = F.radians(lat)
    dlam = _wrap_dlam(F.radians(lon) - F.lit(lam0))

    def with_pl(s):
        sp = F.sin(s["phi"])
        cp = F.cos(s["phi"])
        big_a = s["dlam"] * cp
        big_t = F.tan(s["phi"]) * F.tan(s["phi"])
        big_c = F.lit(e2 / (1 - e2)) * cp * cp
        nu = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)

        def with_i(t):
            A, T, C, nu_ = t["A"], t["T"], t["C"], t["nu"]
            a2 = A * A
            x = nu_ * (A - T * A * a2 / F.lit(6.0)
                       - (F.lit(8.0) - T + F.lit(8.0) * C)
                       * T * A * a2 * a2 / F.lit(120.0))
            y = (_marc_col(s["phi"], a, e2) - F.lit(m0)
                 + nu_ * F.tan(s["phi"])
                 * (a2 / F.lit(2.0)
                    + (F.lit(5.0) - T + F.lit(6.0) * C)
                    * a2 * a2 / F.lit(24.0)))
            return _xy(F.lit(p["fe"]) + x / F.lit(unit),
                       F.lit(p["fn"]) + y / F.lit(unit))
        return _let(F.struct(big_a.alias("A"), big_t.alias("T"),
                             big_c.alias("C"), nu.alias("nu")), with_i)
    return _let(F.struct(phi.alias("phi"), dlam.alias("dlam")), with_pl)


def _cass_inv(x, y, p) -> Column:
    """Cassini-Soldner inverse (EPSG 9806 / Snyder 13-6..13-9)."""
    a, e2, m0, lam0 = _cass_consts(p)
    unit = p.get("unit", 1.0)
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        phi1 = _foot_lat_col(F.lit(m0) + s["ym"], a, e2)

        def with_p1(f1):
            sp1 = F.sin(f1)
            t1 = F.tan(f1) * F.tan(f1)
            one_m = F.lit(1.0) - F.lit(e2) * sp1 * sp1
            nu1 = F.lit(a) / F.sqrt(one_m)
            rho1 = F.lit(a * (1 - e2)) / F.pow(one_m, F.lit(1.5))
            d = s["xm"] / nu1

            def with_td(t):
                T1, D = t["T1"], t["D"]
                d2 = D * D
                phi = (f1 - (t["nu1"] * F.tan(f1) / t["rho1"])
                       * (d2 / F.lit(2.0)
                          - (F.lit(1.0) + F.lit(3.0) * T1)
                          * d2 * d2 / F.lit(24.0)))
                lam = (F.lit(lam0)
                       + (D - T1 * D * d2 / F.lit(3.0)
                          + (F.lit(1.0) + F.lit(3.0) * T1) * T1
                          * D * d2 * d2 / F.lit(15.0)) / F.cos(f1))
                return _xy(F.degrees(lam), F.degrees(phi))
            return _let(F.struct(t1.alias("T1"), d.alias("D"),
                                 nu1.alias("nu1"), rho1.alias("rho1")),
                        with_td)
        return _let(phi1, with_p1)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


def _poly_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    lat0 = math.radians(p.get("lat0", 0.0))
    return a, e2, _marc_f(lat0, a, e2), math.radians(p["lon0"])


def _poly_fwd(lon, lat, p) -> Column:
    """American Polyconic forward (EPSG 9818 / Snyder 18-12..18-15):
    each parallel is developed on its own tangent cone."""
    a, e2, m0, lam0 = _poly_consts(p)
    unit = p.get("unit", 1.0)
    phi = F.radians(lat)
    dlam = _wrap_dlam(F.radians(lon) - F.lit(lam0))

    def with_pl(s):
        sp = F.sin(s["phi"])
        nu = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)
        cot = F.cos(s["phi"]) / sp
        el = s["dlam"] * sp
        x_g = nu * cot * F.sin(el)
        y_g = (_marc_col(s["phi"], a, e2) - F.lit(m0)
               + nu * cot * (F.lit(1.0) - F.cos(el)))
        # the equator develops onto the tangent cylinder (Snyder 18-12)
        eq = F.abs(s["phi"]) < F.lit(1e-12)
        x = F.when(eq, F.lit(a) * s["dlam"]).otherwise(x_g)
        y = F.when(eq, F.lit(-m0)).otherwise(y_g)
        return _xy(F.lit(p["fe"]) + x / F.lit(unit),
                   F.lit(p["fn"]) + y / F.lit(unit))
    return _let(F.struct(phi.alias("phi"), dlam.alias("dlam")), with_pl)


def _poly_inv(x, y, p) -> Column:
    """American Polyconic inverse (Snyder 18-18..18-22): Newton-ish
    iteration on the footpoint relation, run as a fixed 10-round
    aggregate like the other inverse kernels."""
    a, e2, m0, lam0 = _poly_consts(p)
    c0, c2, c4, c6 = _marc_coeffs(e2)
    unit = p.get("unit", 1.0)
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        big_a = (F.lit(m0) + s["ym"]) / F.lit(a)
        big_b = s["xm"] * s["xm"] / F.lit(a * a) + big_a * big_a

        def with_ab(t):
            A, B = t["A"], t["B"]

            def step(phi, _i):
                sp = F.sin(phi)
                two = F.lit(2.0) * phi
                c = F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp) \
                    * F.tan(phi)
                ma = (F.lit(c0) * phi - F.lit(c2) * F.sin(two)
                      + F.lit(c4) * F.sin(F.lit(2.0) * two)
                      - F.lit(c6) * F.sin(F.lit(3.0) * two))
                map_ = (F.lit(c0) - F.lit(2 * c2) * F.cos(two)
                        + F.lit(4 * c4) * F.cos(F.lit(2.0) * two)
                        - F.lit(6 * c6) * F.cos(F.lit(3.0) * two))
                # try_divide: equator rows start (and stay) at phi=0
                # where sin(2*phi)/tan(phi) vanish — ANSI mode would
                # throw on the exact zero; the nulls flow through and
                # the closed-form equator branch below takes over
                num = (A * (c * ma + F.lit(1.0)) - ma
                       - c * (ma * ma + B) / F.lit(2.0))
                den = (F.try_divide(
                    F.lit(e2) * F.sin(two)
                    * (ma * ma + B - F.lit(2.0) * A * ma),
                    F.lit(4.0) * c)
                    + (A - ma) * (c * map_
                                  - F.try_divide(F.lit(2.0),
                                                 F.sin(two)))
                    - map_)
                return phi - F.try_divide(num, den)

            phi = F.aggregate(F.sequence(F.lit(1), F.lit(10)), A,
                              lambda acc, i: step(acc, i))

            def with_phi(f):
                sp = F.sin(f)
                c = F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp) * F.tan(f)
                lam_g = F.lit(lam0) + F.asin(
                    F.least(F.lit(1.0), F.greatest(
                        F.lit(-1.0), s["xm"] * c / F.lit(a)))) / sp
                # equator rows (A ~ 0) never converge through the
                # division by sin(2*phi) — closed form instead
                eq = F.abs(A) < F.lit(1e-12)
                lon_out = F.when(eq, F.degrees(
                    F.lit(lam0) + s["xm"] / F.lit(a))) \
                    .otherwise(F.degrees(lam_g))
                lat_out = F.when(eq, F.lit(0.0)).otherwise(F.degrees(f))
                return _xy(lon_out, lat_out)
            return _let(phi, with_phi)
        return _let(F.struct(big_a.alias("A"), big_b.alias("B")),
                    with_ab)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


# ---------------------------------------------------------------------------
# Equidistant Conic (PROJ eqdc — Snyder 1987 pp. 111-115, ellipsoidal
# 2SP with the 1SP limit n = sin(lat1)) and Mollweide (PROJ moll —
# Snyder pp. 249-252; spherical on R = a, which is what PROJ/GDAL use
# for the world grids like ESRI:54009). eqdc shares the meridional-arc
# series and the footpoint-latitude inverse with Cassini (above).
# ---------------------------------------------------------------------------

def _eqdc_consts(p):
    a, f, e2, e = _ell(p["ellps"])
    lat0 = math.radians(p.get("lat0", 0.0))
    lat1 = math.radians(p["lat1"])
    lat2 = math.radians(p.get("lat2", p["lat1"]))

    def m(phi):
        return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    m1, m2 = m(lat1), m(lat2)
    m_1 = _marc_f(lat1, a, e2)
    m_2 = _marc_f(lat2, a, e2)
    if abs(lat1 - lat2) < 1e-10:
        n = math.sin(lat1)               # 1SP analytic limit
    else:
        n = a * (m1 - m2) / (m_2 - m_1)  # Snyder 16-10
    if abs(n) < 1e-12:
        # parallels symmetric about the equator (or lat_1 omitted and
        # defaulted to 0): the cone degenerates — PROJ rejects with
        # "|lat_1 + lat_2| should be > 0" (review r12)
        raise CRSError(
            "eqdc standard parallels must not be symmetric about the "
            "equator (need |lat_1 + lat_2| > 0; did you omit +lat_1?)")
    ag = a * m1 / n + m_1                # a*G (meters), Snyder 16-9
    rho0 = ag - _marc_f(lat0, a, e2)
    return a, e2, n, ag, rho0, math.radians(p["lon0"])


def _eqdc_fwd(lon, lat, p) -> Column:
    a, e2, n, ag, rho0, lam0 = _eqdc_consts(p)
    unit = p.get("unit", 1.0)
    phi = F.radians(lat)
    th = F.lit(n) * _wrap_dlam(F.radians(lon) - F.lit(lam0))

    def with_rt(s):
        rho = F.lit(ag) - _marc_col(s["phi"], a, e2)
        x = rho * F.sin(s["th"])
        y = F.lit(rho0) - rho * F.cos(s["th"])
        return _xy(F.lit(p["fe"]) + x / F.lit(unit),
                   F.lit(p["fn"]) + y / F.lit(unit))
    return _let(F.struct(phi.alias("phi"), th.alias("th")), with_rt)


def _eqdc_inv(x, y, p) -> Column:
    a, e2, n, ag, rho0, lam0 = _eqdc_consts(p)
    unit = p.get("unit", 1.0)
    sgn = 1.0 if n >= 0 else -1.0
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        dy = F.lit(rho0) - s["ym"]
        rho = F.lit(sgn) * F.sqrt(s["xm"] * s["xm"] + dy * dy)
        # Snyder 16-18/16-19: footpoint latitude of M = aG - rho
        phi = _foot_lat_col(F.lit(ag) - rho, a, e2)
        # theta from the signed components (southern cones flip both)
        th = F.atan2(F.lit(sgn) * s["xm"], F.lit(sgn) * dy)
        lon = F.degrees(F.lit(lam0) + th / F.lit(n))
        return _xy(lon, F.degrees(phi))
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


def _moll_theta(phi) -> Column:
    """Mollweide auxiliary angle: 2*theta + sin(2*theta) = pi*sin(phi)
    (Snyder 27-2/27-3), fixed 10-round Newton inside aggregate;
    try_divide guards the pole where the derivative vanishes (the
    closed form theta = phi takes over there)."""
    target = F.lit(math.pi) * F.sin(phi)

    def step(th, _i):
        two = F.lit(2.0) * th
        d = F.try_divide(two + F.sin(two) - target,
                         F.lit(2.0) + F.lit(2.0) * F.cos(two))
        return th - F.coalesce(d, F.lit(0.0))

    th = F.aggregate(F.sequence(F.lit(1), F.lit(10)), phi * F.lit(1.0),
                     lambda acc, i: step(acc, i))
    pole = F.abs(phi) >= F.lit(math.pi / 2 - 1e-12)
    return F.when(pole, phi).otherwise(th)


def _moll_fwd(lon, lat, p) -> Column:
    a, f, e2, e = _ell(p["ellps"])
    unit = p.get("unit", 1.0)
    lam0 = math.radians(p["lon0"])
    rt2 = math.sqrt(2.0)

    def with_th(th):
        x = (F.lit(2.0 * rt2 / math.pi * a)
             * _wrap_dlam(F.radians(lon) - F.lit(lam0)) * F.cos(th))
        y = F.lit(rt2 * a) * F.sin(th)
        return _xy(F.lit(p["fe"]) + x / F.lit(unit),
                   F.lit(p["fn"]) + y / F.lit(unit))
    return _let(_moll_theta(F.radians(lat)), with_th)


def _moll_inv(x, y, p) -> Column:
    a, f, e2, e = _ell(p["ellps"])
    unit = p.get("unit", 1.0)
    lam0 = math.radians(p["lon0"])
    rt2 = math.sqrt(2.0)
    xm = (x - F.lit(p["fe"])) * F.lit(unit)
    ym = (y - F.lit(p["fn"])) * F.lit(unit)

    def with_xy(s):
        th = F.asin(F.least(F.lit(1.0), F.greatest(
            F.lit(-1.0), s["ym"] / F.lit(rt2 * a))))

        def with_th(t):
            two = F.lit(2.0) * t
            lat = F.degrees(F.asin(F.least(F.lit(1.0), F.greatest(
                F.lit(-1.0), (two + F.sin(two)) / F.lit(math.pi)))))
            # at the poles cos(theta) = 0 and lambda is indeterminate:
            # take lam0 (same convention as Snyder p. 252)
            lon_rad = F.try_divide(
                F.lit(math.pi) * s["xm"],
                F.lit(2.0 * rt2 * a) * F.cos(t))
            lon = F.degrees(F.lit(lam0)
                            + F.coalesce(lon_rad, F.lit(0.0)))
            return _xy(lon, lat)
        return _let(th, with_th)
    return _let(F.struct(xm.alias("xm"), ym.alias("ym")), with_xy)


def _geodetic_to_ecef(lon, lat, ellps) -> Column:
    a, f, e2, e = _ell(ellps)
    phi = F.radians(lat)
    lam = F.radians(lon)

    def with_sp(sp):
        nn = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)

        def with_n(n):
            cp = F.cos(phi)
            return F.struct(
                (n * cp * F.cos(lam)).alias("X"),
                (n * cp * F.sin(lam)).alias("Y"),
                (n * F.lit(1 - e2) * sp).alias("Z"))
        return _let(nn, with_n)
    return _let(F.sin(phi), with_sp)


def _ecef_to_geodetic(xyz, ellps) -> Column:
    a, f, e2, e = _ell(ellps)

    def with_xyz(s):
        lon = F.degrees(F.atan2(s["Y"], s["X"]))
        pr = F.sqrt(s["X"] * s["X"] + s["Y"] * s["Y"])

        def with_p(p):
            # iterate geodetic latitude (h≈0 starting point, 5 rounds)
            def step(phi, _i):
                sp = F.sin(phi)
                nn = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)
                h = p / F.cos(phi) - nn
                return F.atan2(s["Z"], p * (F.lit(1.0) - F.lit(e2)
                                            * nn / (nn + h)))
            phi0 = F.atan2(s["Z"], p * F.lit(1 - e2))
            phi = F.aggregate(F.sequence(F.lit(1), F.lit(5)), phi0,
                              lambda acc, i: step(acc, i))
            return _xy(lon, F.degrees(phi))
        return _let(pr, with_p)
    return _let(xyz, with_xyz)


def _helmert_apply(xyz, h, invert: bool) -> Column:
    """Position-vector 7-parameter transform; ``h`` = (tx, ty, tz [m],
    rx, ry, rz [arcsec], s [ppm]) taking the datum TO WGS84."""
    tx, ty, tz, rx, ry, rz, s = h
    if invert:
        tx, ty, tz, rx, ry, rz, s = -tx, -ty, -tz, -rx, -ry, -rz, -s
    rxr, ryr, rzr = rx * _AS, ry * _AS, rz * _AS
    k = 1.0 + s * 1e-6

    def with_xyz(c):
        X, Y, Z = c["X"], c["Y"], c["Z"]
        return F.struct(
            (F.lit(tx) + F.lit(k) * (X - F.lit(rzr) * Y + F.lit(ryr) * Z))
            .alias("X"),
            (F.lit(ty) + F.lit(k) * (F.lit(rzr) * X + Y - F.lit(rxr) * Z))
            .alias("Y"),
            (F.lit(tz) + F.lit(k) * (-F.lit(ryr) * X + F.lit(rxr) * Y + Z))
            .alias("Z"))
    return _let(xyz, with_xyz)


def _datum_to_wgs84_ll(ll, ellps, helmert) -> Column:
    """lon/lat on `ellps`+datum → WGS84 lon/lat."""
    def conv(s):
        xyz = _geodetic_to_ecef(s["x"], s["y"], ellps)
        xyz = _helmert_apply(xyz, helmert, invert=False)
        return _ecef_to_geodetic(xyz, _WGS84)
    return _let(ll, conv)


def _wgs84_to_datum_ll(ll, ellps, helmert) -> Column:
    def conv(s):
        xyz = _geodetic_to_ecef(s["x"], s["y"], _WGS84)
        xyz = _helmert_apply(xyz, helmert, invert=True)
        return _ecef_to_geodetic(xyz, ellps)
    return _let(ll, conv)


# ---------------------------------------------------------------------------
# EPSG registry (public parameter-table data)
# ---------------------------------------------------------------------------

# datum → WGS84 position-vector Helmert parameters
_H_OSGB36 = (446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)
_H_ED50 = (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)
# BD72 -> WGS84 (EPSG:15929, position vector)
_H_BD72 = (-106.8686, 52.2978, -103.7239, 0.3366, -0.457, 1.8422, -1.2747)
# Amersfoort -> WGS84 (EPSG:15934, position vector)
_H_AMERSFOORT = (565.417, 50.3319, 465.552,
                 -0.398957, 0.343988, -1.8774, 4.0725)
# CH1903 / CH1903+ -> WGS84 (EPSG:1676, geocentric translations)
_H_CH1903 = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)
# S-JTSK -> WGS84 (EPSG:1622, geocentric translations)
_H_SJTSK = (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0)
# SAD69 -> WGS84 (EPSG:1864, geocentric translations)
_H_SAD69 = (-57.0, 1.0, -41.0, 0.0, 0.0, 0.0, 0.0)
_BESSEL = (6377397.155, 299.1528128)
# Clarke 1858 with BOTH axes in Clarke's links (GN7-2 Cassini worked
# example: a = 20926348 ft = 31706587.88 links, 1/f = 294.2606764)
_CLARKE1858_LINKS = (31706587.88, 294.2606764)
# Clarke 1880 (Benoit): a = 6378300.789 m, b = 6356566.435 m
_CLARKE1880_BENOIT = (6378300.789, 293.46631553898)
# GRS 1967 modified (SAD69): a = 6378160 m, 1/f = 298.25
_GRS67 = (6378160.0, 298.25)

# EPSG:2263 NAD83 / New York Long Island (ftUS): Lambert CC 2SP;
# FE = 984250 ftUS (= 300000 m), FN = 0
_EPSG_2263 = {
    "lat1": 41.03333333333333, "lat2": 40.66666666666666,
    "lat0": 40.16666666666666, "lon0": -74.0,
    "fe": 984250.0, "fn": 0.0, "unit": _FT_US, "ellps": _GRS80,
}

_EPSG_TABLE: dict[int, tuple] = {
    # OSGB 1936 / British National Grid — TM on Airy 1830 + Helmert
    27700: ("tm", {"ellps": _AIRY1830, "lat0": 49.0, "lon0": -2.0,
                   "k0": 0.9996012717, "fe": 400000.0, "fn": -100000.0,
                   "datum": _H_OSGB36}),
    # RGF93 / Lambert-93 (France) — LCC 2SP on GRS80
    2154: ("lcc", {"lat1": 49.0, "lat2": 44.0, "lat0": 46.5, "lon0": 3.0,
                   "fe": 700000.0, "fn": 6600000.0, "ellps": _GRS80}),
    # ETRS89 / LCC Europe
    3034: ("lcc", {"lat1": 35.0, "lat2": 65.0, "lat0": 52.0, "lon0": 10.0,
                   "fe": 4000000.0, "fn": 2800000.0, "ellps": _GRS80}),
    # ETRS89 / LAEA Europe
    3035: ("laea", {"lat0": 52.0, "lon0": 10.0,
                    "fe": 4321000.0, "fn": 3210000.0, "ellps": _GRS80}),
    # NAD83 / Maryland (m) — State Plane LCC
    26985: ("lcc", {"lat1": 39.45, "lat2": 38.3,
                    "lat0": 37.666666666666664, "lon0": -77.0,
                    "fe": 400000.0, "fn": 0.0, "ellps": _GRS80}),
    # NAD83 / California zone 5 (ftUS) — State Plane LCC
    2229: ("lcc", {"lat1": 35.46666666666667, "lat2": 34.03333333333333,
                   "lat0": 33.5, "lon0": -118.0,
                   "fe": 6561666.666666666, "fn": 1640416.6666666665,
                   "unit": _FT_US, "ellps": _GRS80}),
    # NAD83 / New York Central (m) — State Plane TM
    32118: ("tm", {"ellps": _GRS80, "lat0": 40.0,
                   "lon0": -76.58333333333333, "k0": 0.9999375,
                   "fe": 250000.0, "fn": 0.0}),
    # NAD83 / New York Long Island (ftUS)
    2263: ("lcc", _EPSG_2263),
    # NAD83 / Conus Albers (the standard CONUS analysis grid)
    5070: ("aea", {"lat1": 29.5, "lat2": 45.5, "lat0": 23.0,
                   "lon0": -96.0, "fe": 0.0, "fn": 0.0,
                   "ellps": _GRS80}),
    # GDA94 / Australian Albers (southern-hemisphere cone, n < 0)
    3577: ("aea", {"lat1": -18.0, "lat2": -36.0, "lat0": 0.0,
                   "lon0": 132.0, "fe": 0.0, "fn": 0.0,
                   "ellps": _GRS80}),
    # BD72 / Belgian Lambert 72 — LCC 2SP on International 1924 with a
    # full 7-parameter shift (lat0 = 90 degenerates t0 to 0, which the
    # general LCC kernel handles: rho0 = 0)
    31370: ("lcc", {"lat1": 51.16666723333333, "lat2": 49.8333339,
                    "lat0": 90.0, "lon0": 4.367486666666666,
                    "fe": 150000.013, "fn": 5400088.438,
                    "ellps": _INTL1924, "datum": _H_BD72}),
    # WGS 84 / NSIDC Sea Ice Polar Stereographic North (variant B)
    3413: ("stere", {"ellps": _WGS84, "lat_ts": 70.0, "lon0": -45.0,
                     "fe": 0.0, "fn": 0.0}),
    # WGS 84 / NSIDC Sea Ice Polar Stereographic South
    3976: ("stere", {"ellps": _WGS84, "lat_ts": -70.0, "lon0": 0.0,
                     "fe": 0.0, "fn": 0.0, "south": True}),
    # WGS 84 / Antarctic Polar Stereographic
    3031: ("stere", {"ellps": _WGS84, "lat_ts": -71.0, "lon0": 0.0,
                     "fe": 0.0, "fn": 0.0, "south": True}),
    # WGS 84 / UPS North and South (variant A, k0 = 0.994); 5041/5042
    # are the modern E,N-order duplicates of 32661/32761
    32661: ("stere", {"ellps": _WGS84, "k0": 0.994, "lon0": 0.0,
                      "fe": 2000000.0, "fn": 2000000.0}),
    32761: ("stere", {"ellps": _WGS84, "k0": 0.994, "lon0": 0.0,
                      "fe": 2000000.0, "fn": 2000000.0, "south": True}),
    # Amersfoort / RD New (Dutch national grid) — oblique
    # stereographic (EPSG 9809) on Bessel 1841 + Helmert
    28992: ("sterea", {"ellps": _BESSEL,
                       "lat0": 52.15616055555555,
                       "lon0": 5.38763888888889, "k0": 0.9999079,
                       "fe": 155000.0, "fn": 463000.0,
                       "datum": _H_AMERSFOORT}),
    # CH1903 / LV03 and CH1903+ / LV95 — Swiss Oblique Mercator
    # (EPSG 9814) on Bessel 1841
    21781: ("somerc", {"ellps": _BESSEL,
                       "lat0": 46.95240555555556,
                       "lon0": 7.439583333333333,
                       "fe": 600000.0, "fn": 200000.0,
                       "datum": _H_CH1903}),
    # S-JTSK / Krovak East North (5514) and classic southing/westing
    # (5513) — Krovak oblique conformal conic on Bessel. The cone's
    # basic meridian is 42d30' east of FERRO = 24d50' east of
    # GREENWICH (through eastern Slovakia — Czech points sit WEST of
    # it, hence positive westings); EPSG's 5514 proj4 carries
    # +lon_0=24.8333 with NO +pm (the Ferro variant is EPSG:2065,
    # +lon_0=42.5 +pm=ferro — same grid through the pm fold)
    5514: ("krovak", {"ellps": _BESSEL, "lat0": 49.5,
                      "alpha": 30.28813972222222, "k0": 0.9999,
                      "lon0": 24.833333333333332,
                      "fe": 0.0, "fn": 0.0, "datum": _H_SJTSK}),
    5513: ("krovak", {"ellps": _BESSEL, "lat0": 49.5,
                      "alpha": 30.28813972222222, "k0": 0.9999,
                      "lon0": 24.833333333333332,
                      "fe": 0.0, "fn": 0.0, "czech": True,
                      "datum": _H_SJTSK}),
    2056: ("somerc", {"ellps": _BESSEL,
                      "lat0": 46.95240555555556,
                      "lon0": 7.439583333333333,
                      "fe": 2600000.0, "fn": 1200000.0,
                      "datum": _H_CH1903}),
    # Trinidad 1903 / Trinidad Grid — Cassini-Soldner on Clarke 1858,
    # grid + ellipsoid expressed in Clarke's LINKS throughout (the
    # EPSG GN7-2 worked-example frame: a = 31706587.88 links)
    30200: ("cass", {"ellps": _CLARKE1858_LINKS,
                     "lat0": 10.441666666666666,
                     "lon0": -61.33333333333333,
                     "fe": 430000.0, "fn": 325000.0}),
    # Palestine 1923 / Palestine Grid — Cassini-Soldner on Clarke 1880
    # (Benoit); 28193 is the same grid with FN + 1,000,000
    28191: ("cass", {"ellps": _CLARKE1880_BENOIT,
                     "lat0": 31.73409694444444,
                     "lon0": 35.21208055555556,
                     "fe": 170251.555, "fn": 126867.909}),
    # SAD69 / Brazil Polyconic — American Polyconic on GRS 1967
    # modified; the national systematic-mapping grid
    29101: ("poly", {"ellps": _GRS67, "lat0": 0.0, "lon0": -54.0,
                     "fe": 5000000.0, "fn": 10000000.0,
                     "datum": _H_SAD69}),
}
_EPSG_TABLE[5041] = _EPSG_TABLE[32661]
_EPSG_TABLE[5042] = _EPSG_TABLE[32761]

# ETRS89 / UTM zones 28N–38N (GRS80, no datum shift)
for _z in range(28, 39):
    _EPSG_TABLE[25800 + _z] = ("tm", {
        "ellps": _GRS80, "lon0": 6 * _z - 183, "k0": _K0_UTM,
        "fe": 500000.0, "fn": 0.0})
# ED50 / UTM zones 28N–38N (International 1924 + 3-param shift)
for _z in range(28, 39):
    _EPSG_TABLE[23000 + _z] = ("tm", {
        "ellps": _INTL1924, "lon0": 6 * _z - 183, "k0": _K0_UTM,
        "fe": 500000.0, "fn": 0.0, "datum": _H_ED50})


# WGS84-coincident geographic CRS (≤ ~1-2 m, no published single
# Helmert): NAD83 4269 / NAD83(2011) 6318 / ETRS89 4258 / NAD83(CSRS)
# 4617 / GDA94 4283 / GDA2020 7844 / Hartebeesthoek94 4148 / ITRF
# geographic 2D 8988-9000 (ITRF88..ITRF2014) + 9989 (ITRF2020)
_LONLAT_HUB_CODES = frozenset(
    ["EPSG:4269", "EPSG:4258", "EPSG:4617", "EPSG:4283",
     "EPSG:4148", "EPSG:6318", "EPSG:7844", "EPSG:9989"]
    + [f"EPSG:{k}" for k in range(8988, 9001)])


# ---------------------------------------------------------------------------
# Generic projected-CRS parameter engine: to_crs accepts a proj4-style
# string ("+proj=lcc +lat_1=... +ellps=GRS80 ...") or a parameter dict
# ({"proj": "lcc", "lat_1": ..., ...}) and derives the kernel parameters
# for ANY CRS in an implemented projection family — no per-EPSG registry
# row needed. This closes the parity gap vs the reference's PROJ-backed
# to_crs (geopolars-geo/src/ops/proj.rs:33-70, which builds a transformer
# from any CRS string). All names/values follow the public PROJ.4
# parameter conventions.
# ---------------------------------------------------------------------------

#: PROJ +ellps= names → (semi-major a, inverse flattening rf).
#: Public EPSG ellipsoid parameters; rf=inf encodes a sphere.
_ELLPS_NAMES = {
    "WGS84": _WGS84,
    "GRS80": _GRS80,
    "airy": _AIRY1830,
    "intl": _INTL1924,
    "clrk66": (6378206.4, 6378206.4 / (6378206.4 - 6356583.8)),
    "clrk80ign": (6378249.2, 6378249.2 / (6378249.2 - 6356515.0)),
    "bessel": (6377397.155, 299.1528128),
    "krass": (6378245.0, 298.3),
    "GRS67": (6378160.0, 298.247167427),
    "aust_SA": (6378160.0, 298.25),
    "WGS72": (6378135.0, 298.26),
    "sphere": (6370997.0, float("inf")),
}

#: PROJ +datum= shorthand → (ellipsoid, Helmert-to-WGS84 or None).
_DATUM_NAMES = {
    "WGS84": (_WGS84, None),
    "NAD83": (_GRS80, None),   # null transform, see _LONLAT_HUB_CODES
    "OSGB36": (_AIRY1830, _H_OSGB36),
}

#: PROJ +pm= named prime meridians (degrees east of Greenwich).
_PM_NAMES = {"greenwich": 0.0, "paris": 2.33722917, "lisbon": -9.13190611,
             "rome": 12.45233333, "bogota": -74.08091667,
             "ferro": -17.666666666666668}

#: PROJ +units= names → meters per unit.
_UNIT_NAMES = {"m": 1.0, "meter": 1.0, "metre": 1.0, "km": 1000.0,
               "us-ft": _FT_US, "ft": 0.3048}


def _parse_proj4(s: str) -> dict:
    """'+proj=lcc +lat_1=49 +south' → {'proj': 'lcc', 'lat_1': '49',
    'south': True}. Values stay strings; flags become True."""
    d = {}
    for tok in s.split():
        tok = tok.lstrip("+")
        if not tok or tok == "no_defs":
            continue
        if "=" in tok:
            k, v = tok.split("=", 1)
            d[k] = v
        else:
            d[tok] = True
    return d


def _resolve_ellps(d, proj):
    """Ellipsoid precedence per PROJ: explicit +a (+rf/+b/+f) > +R >
    +ellps > +datum > WGS84 default."""
    if "a" in d:
        a = float(d["a"])
        if "rf" in d:
            return (a, float(d["rf"]))
        if "b" in d:
            b = float(d["b"])
            return (a, a / (a - b)) if a != b else (a, float("inf"))
        if "f" in d:
            f = float(d["f"])
            return (a, 1.0 / f) if f else (a, float("inf"))
        return (a, float("inf"))
    if "R" in d:
        return (float(d["R"]), float("inf"))
    if "ellps" in d:
        name = str(d["ellps"])
        if name not in _ELLPS_NAMES:
            raise CRSError(f"unknown ellipsoid {name!r}; known: "
                           f"{sorted(_ELLPS_NAMES)}")
        return _ELLPS_NAMES[name]
    if "datum" in d:
        name = str(d["datum"])
        if name not in _DATUM_NAMES:
            raise CRSError(f"unknown datum {name!r}; known: "
                           f"{sorted(_DATUM_NAMES)} — pass +ellps and "
                           "+towgs84 explicitly for others")
        return _DATUM_NAMES[name][0]
    return _WGS84


def _params_from_dict(d: dict):
    """(kind, params) from a proj4-style parameter dict. Raises CRSError
    for families the closed-form engine doesn't implement."""
    proj = str(d.get("proj", "")).lower()
    if not proj:
        raise CRSError("parameter CRS needs a 'proj' key (tmerc, utm, "
                       "merc, webmerc, lcc, aea, laea, stere, sterea, "
                       "somerc, longlat)")

    def fl(k, dv=0.0):
        v = d.get(k, None)
        return dv if v is None else float(v)

    ellps = _resolve_ellps(d, proj)

    datum = None
    if "towgs84" in d:
        v = d["towgs84"]
        vals = ([float(t) for t in str(v).split(",")]
                if not isinstance(v, (list, tuple)) else [float(t) for t in v])
        if len(vals) == 3:
            vals += [0.0, 0.0, 0.0, 0.0]
        if len(vals) != 7:
            raise CRSError("+towgs84 takes 3 or 7 comma-separated values")
        if any(vals):
            datum = tuple(vals)
    elif "datum" in d and str(d["datum"]) in _DATUM_NAMES:
        datum = _DATUM_NAMES[str(d["datum"])][1]

    pm = d.get("pm", 0.0)
    if isinstance(pm, str):
        try:
            pm = float(pm)
        except ValueError:
            key = pm.lower()
            if key not in _PM_NAMES:
                raise CRSError(f"unknown prime meridian {pm!r}")
            pm = _PM_NAMES[key]

    unit = 1.0
    if "to_meter" in d:
        unit = float(d["to_meter"])
    elif "units" in d:
        u = str(d["units"]).lower()
        if u not in _UNIT_NAMES:
            raise CRSError(f"unknown unit {d['units']!r}; known: "
                           f"{sorted(_UNIT_NAMES)} — or pass +to_meter")
        unit = _UNIT_NAMES[u]

    if proj in ("longlat", "latlong", "lonlat", "latlon"):
        if datum is None and pm == 0.0:
            return "lonlat", None
        p = {"ellps": ellps}
        if datum is not None:
            p["datum"] = datum
        if pm != 0.0:
            # geographic CRS on a non-Greenwich prime meridian (e.g.
            # NTF Paris, EPSG:4807): longitudes are degrees east of
            # pm, so the hub conversion shifts by +pm (review r10)
            p["pm"] = float(pm)
        return "lonlat", p

    # +x_0/+y_0 are ALWAYS meters in PROJ; kernel fe/fn are native units
    base = {"ellps": ellps, "lon0": fl("lon_0") + pm,
            "fe": fl("x_0") / unit, "fn": fl("y_0") / unit}
    if unit != 1.0:
        base["unit"] = unit
    if datum is not None:
        base["datum"] = datum
    k0 = fl("k", fl("k_0", 1.0))

    if proj == "utm":
        if "zone" not in d:
            raise CRSError("+proj=utm requires +zone")
        z = int(float(d["zone"]))
        if not 1 <= z <= 60:
            raise CRSError(f"UTM zone {z} out of range 1-60")
        return "tm", {**base, "lon0": 6 * z - 183 + pm, "k0": _K0_UTM,
                      "fe": 500000.0 / unit,
                      "fn": (10_000_000.0 if d.get("south") else 0.0) / unit}
    if proj == "tmerc":
        return "tm", {**base, "lat0": fl("lat_0"), "k0": k0}
    if proj == "merc":
        if "lat_ts" in d:
            # scale from the latitude of true scale: k0 = m(lat_ts)
            _a, _f, e2, _e = _ell(ellps)
            phi_ts = math.radians(float(d["lat_ts"]))
            k0 = (math.cos(phi_ts)
                  / math.sqrt(1 - e2 * math.sin(phi_ts) ** 2))
        return "merc", {**base, "k0": k0}
    if proj == "webmerc":
        # thread false easting/northing, lon_0, units, non-WGS84 radius
        # and datum shifts through the kernel instead of silently
        # dropping them (ADVICE r10)
        if (datum is None and pm == 0.0 and unit == 1.0
                and fl("x_0") == 0.0 and fl("y_0") == 0.0
                and fl("lon_0") == 0.0 and ellps == _WGS84):
            return "webmerc", None
        return "webmerc", base
    if proj == "lcc":
        # PROJ defaults (lcc.cpp): lat_2 defaults to lat_1; lat_0
        # defaults to lat_1 ONLY in that 1SP case, else to 0 — the
        # first cut defaulted lat_0 to lat_1 for 2SP too, shifting
        # northings of strings that omit +lat_0 (review r10)
        lat1 = fl("lat_1", 0.0)
        if "lat_2" in d:
            lat2 = fl("lat_2")
            lat0 = fl("lat_0", 0.0)
        else:
            lat2 = lat1
            lat0 = fl("lat_0", lat1)
        p = {**base, "lat1": lat1, "lat2": lat2, "lat0": lat0}
        if k0 != 1.0:
            p["k0"] = k0
        return "lcc", p
    if proj == "aea":
        return "aea", {**base, "lat1": fl("lat_1"),
                       "lat2": fl("lat_2", fl("lat_1")),
                       "lat0": fl("lat_0")}
    if proj == "laea":
        return "laea", {**base, "lat0": fl("lat_0")}
    if proj == "stere":
        lat0 = fl("lat_0", 0.0)   # PROJ default; non-polar raises below
        if abs(lat0) != 90.0:
            raise CRSError(
                "+proj=stere is implemented for the POLAR aspects "
                "(lat_0 = +/-90) only; for the oblique double "
                "stereographic (Dutch RD et al.) use +proj=sterea")
        p = {**base, "k0": k0}
        if lat0 < 0:
            p["south"] = True
        if "lat_ts" in d:
            p["lat_ts"] = fl("lat_ts")
            p.pop("k0")         # variant B: scale comes from lat_ts
        return "stere", p
    if proj == "sterea":
        return "sterea", {**base, "lat0": fl("lat_0"), "k0": k0}
    if proj == "somerc":
        return "somerc", {**base, "lat0": fl("lat_0"), "k0": k0}
    if proj == "cass":
        # PROJ cass.cpp defaults lat_0/lon_0 to 0
        return "cass", {**base, "lat0": fl("lat_0", 0.0)}
    if proj == "poly":
        return "poly", {**base, "lat0": fl("lat_0", 0.0)}
    if proj == "eqdc":
        return "eqdc", {**base, "lat1": fl("lat_1"),
                        "lat2": fl("lat_2", fl("lat_1")),
                        "lat0": fl("lat_0", 0.0)}
    if proj == "moll":
        return "moll", base
    if proj == "krovak":
        p = {**base, "lat0": fl("lat_0", 49.5),
             "alpha": fl("alpha", 30.28813972222222),
             "k0": fl("k", fl("k_0", 0.9999))}
        if "lon_0" not in d:
            # PROJ's krovak defaults lon_0 to 24d50' E Greenwich
            # (krovak.cpp) — base defaulted it to 0 (review r11)
            p["lon0"] = 24.833333333333332 + pm

        if d.get("czech"):
            p["czech"] = True
        return "krovak", p
    raise CRSError(
        f"unsupported projection family {proj!r}; the closed-form engine "
        "implements tmerc, utm, merc, webmerc, lcc (1SP/2SP), aea, laea, "
        "stere (polar), sterea, somerc, krovak, cass, poly, eqdc, moll "
        "and longlat (+towgs84 datum shifts on any of them)")


def crs_to_string(crs) -> str:
    """Serialization form of any accepted CRS spec: EPSG strings pass
    through, parameter DICTS render as a canonical proj4 string (so
    file metadata round-trips through _parse_crs instead of a Python
    repr), proj4 strings pass through."""
    if isinstance(crs, dict):
        parts = []
        for k, v in crs.items():
            if v is True:
                parts.append(f"+{k}")
            elif isinstance(v, (list, tuple)):
                parts.append(f"+{k}=" + ",".join(str(t) for t in v))
            else:
                parts.append(f"+{k}={v}")
        return " ".join(parts)
    return str(crs)


def _parse_crs(crs):
    if isinstance(crs, dict):
        return _params_from_dict(crs)
    if isinstance(crs, str):
        s = crs.strip()
        if s.startswith("+") or "+proj=" in s:
            return _params_from_dict(_parse_proj4(s))
    c = _norm(crs)
    if c in ("EPSG:4326", "CRS84", "OGC:CRS84", "WGS84"):
        return "lonlat", None
    if c in _LONLAT_HUB_CODES:
        # NAD83 (incl. 2011) / ETRS89 / NAD83(CSRS) / GDA94 / GDA2020 /
        # Hartebeesthoek94 / the ITRF geographic family: all realized
        # within ~1-2 m of WGS84 with no published single Helmert
        # (plate motion dominates); treated as the lon/lat hub,
        # matching common GIS practice and GDAL's default null
        # transform for these pairs
        return "lonlat", None
    if c in ("EPSG:3857", "EPSG:900913", "EPSG:3785"):
        return "webmerc", None
    if c.startswith("EPSG:"):
        try:
            code = int(c[5:])
        except ValueError:
            raise CRSError(f"bad CRS {crs!r}")
        if 32601 <= code <= 32660:  # WGS84 UTM north
            return "tm", {"ellps": _WGS84, "lon0": 6 * (code - 32600) - 183,
                          "k0": _K0_UTM, "fe": 500000.0, "fn": 0.0}
        if 32701 <= code <= 32760:  # WGS84 UTM south
            return "tm", {"ellps": _WGS84, "lon0": 6 * (code - 32700) - 183,
                          "k0": _K0_UTM, "fe": 500000.0,
                          "fn": 10_000_000.0}
        if 26901 <= code <= 26923:  # NAD83 UTM north
            return "tm", {"ellps": _GRS80, "lon0": 6 * (code - 26900) - 183,
                          "k0": _K0_UTM, "fe": 500000.0, "fn": 0.0}
        if code in _EPSG_TABLE:
            return _EPSG_TABLE[code]
    raise CRSError(
        f"unsupported CRS {crs!r}; supported: EPSG:4326, EPSG:3857, UTM "
        "(EPSG:326xx/327xx/269xx/258xx/230xx), geographic NAD83/ETRS89/"
        "GDA94/GDA2020/Hartebeesthoek94/ITRF (4269/4258/4617/4283/6318/"
        "7844/4148/8988-9000/9989), OSGB 27700, Lambert-93 "
        "2154, LCC 3034/2263/26985/2229/31370, LAEA 3035, "
        "AEA 5070/3577, TM 32118, polar stereographic 3413/3976/3031 + "
        "UPS 32661/32761/5041/5042, Dutch RD 28992, Swiss 21781/2056 — "
        "or pass the CRS's proj4-style string "
        "('+proj=lcc +lat_1=... +ellps=GRS80 ...') / parameter dict and "
        "the engine derives the kernel parameters for any tmerc/utm/merc/"
        "lcc/aea/laea/stere/sterea/somerc CRS directly")


def _inv_struct(kind, params, x, y) -> Column:
    """(x, y) in `kind` CRS → struct<x:lon, y:lat> on the CRS's datum."""
    if kind == "lonlat":
        pm = (params or {}).get("pm", 0.0) if isinstance(params, dict) \
            else 0.0
        return _xy(x + F.lit(float(pm)), y * F.lit(1.0))
    if kind == "webmerc":
        return _webmerc_inv(x, y, params)
    if kind == "merc":
        return _merc_inv(x, y, params)
    if kind == "tm":
        return _tm_inv(x, y, params)
    if kind == "lcc":
        return _lcc_inv(x, y, params)
    if kind == "laea":
        return _laea_inv(x, y, params)
    if kind == "aea":
        return _aea_inv(x, y, params)
    if kind == "stere":
        return _stere_inv(x, y, params)
    if kind == "sterea":
        return _sterea_inv(x, y, params)
    if kind == "somerc":
        return _somerc_inv(x, y, params)
    if kind == "krovak":
        return _krovak_inv(x, y, params)
    if kind == "cass":
        return _cass_inv(x, y, params)
    if kind == "poly":
        return _poly_inv(x, y, params)
    if kind == "eqdc":
        return _eqdc_inv(x, y, params)
    if kind == "moll":
        return _moll_inv(x, y, params)
    raise AssertionError(kind)


def _fwd_struct(kind, params, lon, lat) -> Column:
    if kind == "lonlat":
        pm = (params or {}).get("pm", 0.0) if isinstance(params, dict) \
            else 0.0
        return _xy(lon - F.lit(float(pm)), lat * F.lit(1.0))
    if kind == "webmerc":
        return _webmerc_fwd(lon, lat, params)
    if kind == "merc":
        return _merc_fwd(lon, lat, params)
    if kind == "tm":
        return _tm_fwd(lon, lat, params)
    if kind == "lcc":
        return _lcc_fwd(lon, lat, params)
    if kind == "laea":
        return _laea_fwd(lon, lat, params)
    if kind == "aea":
        return _aea_fwd(lon, lat, params)
    if kind == "stere":
        return _stere_fwd(lon, lat, params)
    if kind == "sterea":
        return _sterea_fwd(lon, lat, params)
    if kind == "somerc":
        return _somerc_fwd(lon, lat, params)
    if kind == "krovak":
        return _krovak_fwd(lon, lat, params)
    if kind == "cass":
        return _cass_fwd(lon, lat, params)
    if kind == "poly":
        return _poly_fwd(lon, lat, params)
    if kind == "eqdc":
        return _eqdc_fwd(lon, lat, params)
    if kind == "moll":
        return _moll_fwd(lon, lat, params)
    raise AssertionError(kind)


def _datum_of(kind, params):
    if isinstance(params, dict) and params.get("datum") is not None:
        return params["ellps"], params["datum"]
    return None


def _ll_transform(fk, fp, tk, tp, x, y) -> Column:
    """Full hub chain: src grid → WGS84 lon/lat → dst grid."""
    ll = _inv_struct(fk, fp, x, y)
    src_d = _datum_of(fk, fp)
    if src_d is not None:
        ll = _datum_to_wgs84_ll(ll, src_d[0], src_d[1])
    dst_d = _datum_of(tk, tp)
    if dst_d is not None:
        ll = _wgs84_to_datum_ll(ll, dst_d[0], dst_d[1])
    return _let(ll, lambda s: _fwd_struct(tk, tp, s["x"], s["y"]))


def transform_xy_struct(x, y, from_crs, to_crs) -> Column:
    """struct<x,y> of the transformed coordinate pair."""
    fk, fp = _parse_crs(from_crs)
    tk, tp = _parse_crs(to_crs)
    return _ll_transform(fk, fp, tk, tp, x, y)


def transform_xy(x, y, from_crs, to_crs):
    """(x', y') column pair (builds the struct once per output — prefer
    transform_xy_struct when you need both)."""
    s = transform_xy_struct(x, y, from_crs, to_crs)
    return s["x"], s["y"]


def transform_geom(g, from_crs, to_crs) -> Column:
    """Reproject every coordinate of a GEOM column — the engine's
    `to_crs` kernel (reference ops/proj.rs:46-70 semantics: point-wise,
    'no notion of projecting entire geometries', geoseries.py:228-232)."""
    g = _g(g)
    fk, fp = _parse_crs(from_crs)
    tk, tp = _parse_crs(to_crs)
    if (fk, fp) == (tk, tp):
        return g

    def body(gg):
        pts = F.zip_with(gg["xs"], gg["ys"],
                         lambda px, py: _ll_transform(fk, fp, tk, tp, px, py))

        def with_pts(p):
            return geom_struct(gg["gt"],
                               F.transform(p, lambda q: q["x"]),
                               F.transform(p, lambda q: q["y"]),
                               gg["rings"], gg["parts"])

        return F.when(_valid(gg), _let(pts, with_pts))

    return let_once(g, body, transform_geom, from_crs, to_crs)
