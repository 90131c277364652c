"""Numpy geometry kernels over the ragged representation.

These implement the reference's declared operator semantics
(geopolars/geopolars-geo/src/geoseries.rs:10-181 trait docs) without GEOS:
vectorized with ``np.add.reduceat`` over ring offsets where the math is
data-parallel. Convex hull and Douglas-Peucker work on the whole batch
too: the hull sorts and deduplicates every row's points in one pass and
runs only the monotone chain per row; Douglas-Peucker advances every
open segment of the batch one recursion level per numpy pass. The
per-geometry loops left are in the rarer operators below.

Hot-path equivalents of most of these also exist as pure Catalyst
expressions in ``arctic_spark.functions.native``; the numpy versions are
the general-case UDF bodies and the oracle used by the test suite.
"""

from __future__ import annotations

import math

import numpy as np

from .ragged import (LINEARRING, LINESTRING, MISSING, MULTILINESTRING,
                     MULTIPOINT, MULTIPOLYGON, POINT, POLYGON,
                     RaggedGeometry)


def _ring_starts(rg: RaggedGeometry):
    """Global coord-offset of each ring start, plus ring lengths."""
    starts = np.zeros(len(rg.rings), dtype=np.int64)
    if len(rg.rings):
        np.cumsum(rg.rings[:-1], out=starts[1:])
    return starts


def _signed_ring_areas(rg: RaggedGeometry):
    """Signed shoelace area of every ring in the batch (vectorized)."""
    xs, ys = rg.xs, rg.ys
    n = len(xs)
    if n == 0:
        return np.empty(0)
    cross = xs[:-1] * ys[1:] - xs[1:] * ys[:-1]
    cross = np.append(cross, 0.0)
    starts = _ring_starts(rg)
    # sum cross over [start, start+len-1) per ring
    ends = starts + rg.rings
    sums = np.zeros(len(starts))
    for i in range(len(starts)):  # rings are typically few; cheap loop
        sums[i] = cross[starts[i]:ends[i] - 1].sum()
    return 0.5 * sums


def _per_geom_ring_role(rg: RaggedGeometry):
    """bool[R]: True where ring is an exterior ring of its part.
    GC-packed parts values (sub·GC_SHIFT + nrings, geom/ragged.py) are
    unpacked — the raw value indexed a ring 16M slots away (r7 fix)."""
    from .ragged import GC_SHIFT
    role = np.zeros(len(rg.rings), dtype=bool)
    ri = 0
    for nr in rg.parts:
        role[ri] = True
        ri += int(nr) % GC_SHIFT
    return role


def area(rg: RaggedGeometry):
    """Planar area per geometry; 0 for non-areal types; NaN for missing.

    Exterior rings contribute +|area|, holes −|area| (orientation-
    insensitive, matching GEOS semantics the reference documents at
    geoseries.rs:16-19). GeometryCollections sum their polygon parts
    (GEOS; r7 — previously GC rows returned 0.0 or crashed on the
    packed parts encoding)."""
    from .ragged import GC_SHIFT, GEOMETRYCOLLECTION
    ring_a = np.abs(_signed_ring_areas(rg))
    is_ext = _per_geom_ring_role(rg)
    signed = np.where(is_ext, ring_a, -ring_a)
    out = np.zeros(len(rg))
    ri = 0
    for i in range(len(rg)):
        g = rg.gt[i]
        nr = rg.ring_offsets[i + 1] - rg.ring_offsets[i]
        if g == MISSING:
            out[i] = np.nan
        elif g in (POLYGON, MULTIPOLYGON):
            out[i] = signed[ri:ri + nr].sum()
        elif g == GEOMETRYCOLLECTION:
            pi0, pi1 = rg.part_offsets[i], rg.part_offsets[i + 1]
            ri2, tot = ri, 0.0
            for pv in rg.parts[pi0:pi1]:
                sub, nr2 = int(pv) // GC_SHIFT, int(pv) % GC_SHIFT
                if sub == POLYGON:
                    tot += signed[ri2:ri2 + nr2].sum()
                ri2 += nr2
            out[i] = tot
        ri += nr
    return out


def length(rg: RaggedGeometry):
    """Planar (euclidean) length per geometry.

    LineString → sum of segment lengths; Polygon → exterior ring length
    only, matching the reference doc 'For a Polygon it returns the length
    of the exterior ring' (geoseries.rs:41-46); Multi* → sum over parts;
    Point → 0. GeometryCollections sum line parts' full length plus
    polygon parts' exterior rings (GEOS; r7)."""
    from .ragged import GC_SHIFT, GEOMETRYCOLLECTION
    xs, ys = rg.xs, rg.ys
    if len(xs) == 0:
        return np.where(rg.gt == MISSING, np.nan, 0.0)
    seg = np.sqrt(np.diff(xs) ** 2 + np.diff(ys) ** 2)
    seg = np.append(seg, 0.0)
    starts = _ring_starts(rg)
    ends = starts + rg.rings
    ring_len = np.array([seg[s:e - 1].sum() for s, e in zip(starts, ends)])
    out = np.zeros(len(rg))
    ri = 0
    for i in range(len(rg)):
        g = rg.gt[i]
        r0, r1 = rg.ring_offsets[i], rg.ring_offsets[i + 1]
        if g == MISSING:
            out[i] = np.nan
        elif g in (LINESTRING, MULTILINESTRING):
            out[i] = ring_len[r0:r1].sum()
        elif g in (POLYGON, MULTIPOLYGON):
            # exterior rings only
            pi0, pi1 = rg.part_offsets[i], rg.part_offsets[i + 1]
            ri2 = r0
            tot = 0.0
            for nr in rg.parts[pi0:pi1]:
                tot += ring_len[ri2]
                ri2 += nr
            out[i] = tot
        elif g == GEOMETRYCOLLECTION:
            pi0, pi1 = rg.part_offsets[i], rg.part_offsets[i + 1]
            ri2, tot = int(r0), 0.0
            for pv in rg.parts[pi0:pi1]:
                sub, nr2 = int(pv) // GC_SHIFT, int(pv) % GC_SHIFT
                if sub in (LINESTRING, MULTILINESTRING):
                    tot += ring_len[ri2:ri2 + nr2].sum()
                elif sub == POLYGON:
                    tot += ring_len[ri2]
                ri2 += nr2
            out[i] = tot
        ri = r1
    return out


def bounds(rg: RaggedGeometry):
    """(xmin, ymin, xmax, ymax) float64[N,4]; NaN rows for missing/empty."""
    out = np.full((len(rg), 4), np.nan)
    for i in range(len(rg)):
        c0, c1 = rg.coord_offsets[i], rg.coord_offsets[i + 1]
        if c1 > c0:
            out[i, 0] = rg.xs[c0:c1].min()
            out[i, 1] = rg.ys[c0:c1].min()
            out[i, 2] = rg.xs[c0:c1].max()
            out[i, 3] = rg.ys[c0:c1].max()
    return out


def centroid(rg: RaggedGeometry):
    """Centroid (cx, cy) per geometry, GEOS semantics: areal geometries use
    area-weighted centroid; lines length-weighted; points mean of points."""
    cx = np.full(len(rg), np.nan)
    cy = np.full(len(rg), np.nan)
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING or len(xs) == 0:
            continue
        if g in (POINT, MULTIPOINT):
            cx[i] = xs.mean()
            cy[i] = ys.mean()
        elif g in (LINESTRING, MULTILINESTRING):
            wx = wy = w = 0.0
            off = 0
            for rl in rings:
                x, y = xs[off:off + rl], ys[off:off + rl]
                seg = np.sqrt(np.diff(x) ** 2 + np.diff(y) ** 2)
                mx = 0.5 * (x[:-1] + x[1:])
                my = 0.5 * (y[:-1] + y[1:])
                wx += (seg * mx).sum()
                wy += (seg * my).sum()
                w += seg.sum()
                off += rl
            if w > 0:
                cx[i], cy[i] = wx / w, wy / w
            else:
                cx[i], cy[i] = xs.mean(), ys.mean()
        else:  # polygonal
            A = wx = wy = 0.0
            off = 0
            ring_idx = 0
            ext = set()
            k = 0
            for nr in parts:
                ext.add(k)
                k += nr
            for j, rl in enumerate(rings):
                x, y = xs[off:off + rl], ys[off:off + rl]
                cr = x[:-1] * y[1:] - x[1:] * y[:-1]
                a = 0.5 * cr.sum()
                sgn = 1.0 if j in ext else -1.0
                # orient contribution: holes subtract
                a_eff = abs(a) * sgn
                if a != 0:
                    gx = ((x[:-1] + x[1:]) * cr).sum() / (6 * a)
                    gy = ((y[:-1] + y[1:]) * cr).sum() / (6 * a)
                else:
                    gx, gy = x.mean(), y.mean()
                wx += gx * a_eff
                wy += gy * a_eff
                A += a_eff
                off += rl
                ring_idx += 1
            if A != 0:
                cx[i], cy[i] = wx / A, wy / A
            else:
                cx[i], cy[i] = xs.mean(), ys.mean()
    return cx, cy


def _chain(x, y):
    """Andrew's monotone chain over distinct points sorted by (x, y),
    given as sequences of floats: indices of the CCW hull vertices,
    open (lower[:-1] + upper[:-1]). The turn test ``ax*by - ay*bx <= 0``
    is the same IEEE arithmetic as ``np.cross`` on 2-vectors; ``<= 0``
    drops collinear points, so all-collinear input gives the two
    extremes."""
    def half(order):
        h = []
        for k in order:
            xk, yk = x[k], y[k]
            while len(h) >= 2:
                i, j = h[-2], h[-1]
                xi, yi = x[i], y[i]
                if (x[j] - xi) * (yk - yi) - (y[j] - yi) * (xk - xi) > 0:
                    break
                h.pop()
            h.append(k)
        return h
    n = len(x)
    return half(range(n))[:-1] + half(range(n - 1, -1, -1))[:-1]


def convex_hull(rg: RaggedGeometry):
    """Convex hull of each geometry's vertices. Returns RaggedGeometry of
    Polygon/LineString/Point per the collapse rule the reference documents
    (geoseries.rs:26-31: 'smallest convex Polygon ... unless fewer than 3
    points, then a Linestring or Point'); an EMPTY row gives POINT EMPTY.

    One lexsort orders the points of every row by (row, x, y) and a
    neighbour compare drops duplicates, for the whole batch at once;
    only the monotone chain itself (:func:`_chain`) runs per row. The
    polygon ring is CCW and closed."""
    n = len(rg)
    row = np.repeat(np.arange(n), np.diff(rg.coord_offsets))
    order = np.lexsort((rg.ys, rg.xs, row))
    sx, sy, srow = rg.xs[order], rg.ys[order], row[order]
    new = np.ones(len(sx), dtype=bool)
    new[1:] = ((sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])
               | (srow[1:] != srow[:-1]))
    uoff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(srow[new], minlength=n), out=uoff[1:])
    uoff = uoff.tolist()
    ux, uy = sx[new].tolist(), sy[new].tolist()
    gt = np.where(rg.gt == MISSING, MISSING, POINT).astype(np.int8)
    ox, oy, rings = [], [], []
    count = np.zeros(n, dtype=np.int64)     # output coords per row
    for i in np.flatnonzero(gt != MISSING).tolist():
        a, b = uoff[i], uoff[i + 1]
        if b == a:
            continue                        # EMPTY -> POINT EMPTY
        x, y = ux[a:b], uy[a:b]
        if b - a == 1:
            hx, hy = x, y
        else:
            hull = _chain(x, y)
            if len(hull) >= 3:
                hull.append(hull[0])
                gt[i] = POLYGON
            else:
                gt[i] = LINESTRING
            hx = [x[k] for k in hull]
            hy = [y[k] for k in hull]
        ox += hx
        oy += hy
        rings.append(len(hx))
        count[i] = len(hx)
    coord_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(count, out=coord_off[1:])
    ring_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(count > 0, out=ring_off[1:])
    return RaggedGeometry(gt, np.array(ox, dtype=np.float64),
                          np.array(oy, dtype=np.float64), coord_off,
                          np.array(rings, dtype=np.int32), ring_off,
                          np.ones(len(rings), dtype=np.int32),
                          ring_off.copy())


def _spans(starts, counts):
    """Flat indices of the runs ``[starts[k], starts[k] + counts[k])``."""
    first = np.cumsum(counts) - counts
    return np.repeat(starts - first, counts) + np.arange(int(counts.sum()))


def simplify(rg: RaggedGeometry, tol):
    """Douglas-Peucker per ring / line part (endpoints preserved,
    matching the reference doc geoseries.rs:109-115); points,
    multipoints and EMPTY rows pass through. ``tol`` is a scalar or one
    tolerance per row.

    Batch form: each numpy pass advances every open segment of every
    ring in the batch by one recursion level. A segment keeps its
    farthest interior point (the first one on ties) and splits there
    when that point's squared distance to the chord, ``cross*cross /
    seg2`` (squared distance to the start when ``seg2 == 0``), exceeds
    ``tol*tol``."""
    n = len(rg)
    tol = np.asarray(tol, dtype=np.float64)
    tol2 = np.broadcast_to(tol * tol, (n,))
    xs, ys = rg.xs, rg.ys
    lens = rg.rings.astype(np.int64)
    ring_row = np.repeat(np.arange(n), np.diff(rg.ring_offsets))
    rgt = rg.gt[ring_row]
    dp = (rgt != POINT) & (rgt != MULTIPOINT) & (lens >= 3)
    starts = _ring_starts(rg)
    a = starts[dp]
    b = a + lens[dp] - 1
    t2 = tol2[ring_row[dp]]
    keep = np.ones(len(xs), dtype=bool)
    keep[_spans(a + 1, b - a - 1)] = False
    while len(a):
        m = b - a - 1
        idx = _spans(a + 1, m)
        seg = np.repeat(np.arange(len(a)), m)
        ax, ay = xs[a], ys[a]
        dx, dy = xs[b] - ax, ys[b] - ay
        seg2 = dx * dx + dy * dy
        px, py = xs[idx], ys[idx]
        sax, say, s2 = ax[seg], ay[seg], seg2[seg]
        with np.errstate(divide="ignore", invalid="ignore"):
            cross = (px - sax) * dy[seg] - (py - say) * dx[seg]
            d2 = np.where(s2 == 0, (px - sax) ** 2 + (py - say) ** 2,
                          cross * cross / s2)
        mx = np.maximum.reduceat(d2, np.cumsum(m) - m)
        split = mx > t2
        hit = np.flatnonzero((d2 == mx[seg]) & split[seg])
        hseg = seg[hit]
        first = np.ones(len(hit), dtype=bool)
        first[1:] = hseg[1:] != hseg[:-1]
        k = idx[hit[first]]
        keep[k] = True
        a = np.concatenate([a[split], k])
        b = np.concatenate([k, b[split]])
        t2 = np.concatenate([t2[split], t2[split]])
        more = b - a >= 2
        a, b, t2 = a[more], b[more], t2[more]
    kept = np.zeros(len(xs) + 1, dtype=np.int64)
    np.cumsum(keep, out=kept[1:])
    rings = (kept[starts + lens] - kept[starts]).astype(np.int32)
    return RaggedGeometry(rg.gt.copy(), xs[keep], ys[keep],
                          kept[rg.coord_offsets], rings,
                          rg.ring_offsets.copy(), rg.parts.copy(),
                          rg.part_offsets.copy())


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------

def point_in_ring(px, py, x, y):
    """Ray-cast: is (px,py) strictly inside OR on boundary of closed ring.

    Returns 1 inside, 0 on boundary, -1 outside (scalar)."""
    inside = False
    n = len(x)
    for j in range(n - 1):
        x1, y1, x2, y2 = x[j], y[j], x[j + 1], y[j + 1]
        # boundary check: point on segment
        cross = (px - x1) * (y2 - y1) - (py - y1) * (x2 - x1)
        if cross == 0 and min(x1, x2) <= px <= max(x1, x2) \
                and min(y1, y2) <= py <= max(y1, y2):
            return 0
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return 1 if inside else -1


def point_in_polygon(px, py, xs, ys, rings, parts):
    """Point in (multi)polygon with holes; boundary counts as inside
    (intersects semantics)."""
    roff = 0
    coff = 0
    for nr in parts:
        side = None
        for j in range(nr):
            rl = rings[roff + j]
            x = xs[coff:coff + rl]
            y = ys[coff:coff + rl]
            s = point_in_ring(px, py, x, y)
            if j == 0:
                if s == -1:
                    side = False
                elif s == 0:
                    return True
                else:
                    side = True
            else:  # hole
                if side and s == 1:
                    side = False
                elif side and s == 0:
                    return True
            coff += rl
        roff += nr
        if side:
            return True
    return False


def _seg_intersect(ax, ay, bx, by, cx, cy, dx, dy):
    """Do segments AB and CD intersect (touching counts)?"""
    def orient(ox, oy, px, py, qx, qy):
        v = (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
        return 0 if v == 0 else (1 if v > 0 else -1)
    o1 = orient(ax, ay, bx, by, cx, cy)
    o2 = orient(ax, ay, bx, by, dx, dy)
    o3 = orient(cx, cy, dx, dy, ax, ay)
    o4 = orient(cx, cy, dx, dy, bx, by)
    if o1 != o2 and o3 != o4:
        return True
    def on(ox, oy, px, py, qx, qy):
        return min(ox, px) <= qx <= max(ox, px) and min(oy, py) <= qy <= max(oy, py)
    if o1 == 0 and on(ax, ay, bx, by, cx, cy):
        return True
    if o2 == 0 and on(ax, ay, bx, by, dx, dy):
        return True
    if o3 == 0 and on(cx, cy, dx, dy, ax, ay):
        return True
    if o4 == 0 and on(cx, cy, dx, dy, bx, by):
        return True
    return False


def _iter_segments(xs, ys, rings):
    off = 0
    for rl in rings:
        for j in range(rl - 1):
            yield xs[off + j], ys[off + j], xs[off + j + 1], ys[off + j + 1]
        off += rl


def intersects_pair(g1, g2):
    """Exact intersects for a pair of per-geometry tuples
    (gt, xs, ys, rings, parts). General: any boundary segments cross, or
    one contains a representative point of the other."""
    gt1, xs1, ys1, r1, p1 = g1
    gt2, xs2, ys2, r2, p2 = g2
    if len(xs1) == 0 or len(xs2) == 0:
        return False
    # bbox reject
    if xs1.max() < xs2.min() or xs2.max() < xs1.min() \
            or ys1.max() < ys2.min() or ys2.max() < ys1.min():
        return False
    pointish1 = gt1 in (POINT, MULTIPOINT)
    pointish2 = gt2 in (POINT, MULTIPOINT)
    poly1 = gt1 in (POLYGON, MULTIPOLYGON)
    poly2 = gt2 in (POLYGON, MULTIPOLYGON)
    if pointish1:
        return any(_point_touches(px, py, g2) for px, py in zip(xs1, ys1))
    if pointish2:
        return any(_point_touches(px, py, g1) for px, py in zip(xs2, ys2))
    # segment crossing between boundaries
    for a in _iter_segments(xs1, ys1, r1):
        for b in _iter_segments(xs2, ys2, r2):
            if _seg_intersect(*a, *b):
                return True
    # containment: a vertex of one inside the other polygon
    if poly1 and point_in_polygon(xs2[0], ys2[0], xs1, ys1, r1, p1):
        return True
    if poly2 and point_in_polygon(xs1[0], ys1[0], xs2, ys2, r2, p2):
        return True
    return False


def _point_touches(px, py, g):
    gt, xs, ys, rings, parts = g
    if gt in (POINT, MULTIPOINT):
        return bool(np.any((xs == px) & (ys == py)))
    if gt in (LINESTRING, MULTILINESTRING):
        for x1, y1, x2, y2 in _iter_segments(xs, ys, rings):
            cross = (px - x1) * (y2 - y1) - (py - y1) * (x2 - x1)
            if cross == 0 and min(x1, x2) <= px <= max(x1, x2) \
                    and min(y1, y2) <= py <= max(y1, y2):
                return True
        return False
    return point_in_polygon(px, py, xs, ys, rings, parts)


def contains_pair(g1, g2):
    """g1 contains g2 — implemented for the type pairs the reference's
    join refine step supports (spatial_index.rs:89-137): polygon contains
    point fully; polygon contains polygon approximated as all-vertices-in
    + no boundary crossing."""
    gt1 = g1[0]
    gt2, xs2, ys2, r2, p2 = g2
    # EMPTY operands: GEOS semantics — nothing contains EMPTY and EMPTY
    # contains nothing.
    if len(g1[1]) == 0 or len(xs2) == 0:
        return False
    if gt1 in (POLYGON, MULTIPOLYGON):
        if gt2 in (POINT, MULTIPOINT):
            return all(point_in_polygon(px, py, g1[1], g1[2], g1[3], g1[4])
                       for px, py in zip(xs2, ys2))
        # all vertices of g2 inside g1
        if not all(point_in_polygon(px, py, g1[1], g1[2], g1[3], g1[4])
                   for px, py in zip(xs2, ys2)):
            return False
        # reject if any of g2's edges exits and re-enters g1 (e.g. a rect
        # bridging the notch of a concave polygon, or spanning a hole):
        # such an edge must properly cross g1's boundary.
        for b in _iter_segments(xs2, ys2, r2):
            for a in _iter_segments(g1[1], g1[2], g1[3]):
                if _proper_seg_cross(*a, *b):
                    return False
            # edge midpoint must also be inside (catches crossings that
            # pass exactly through g1 boundary vertices, which are not
            # "proper" crossings)
            mx, my = (b[0] + b[2]) * 0.5, (b[1] + b[3]) * 0.5
            if not point_in_polygon(mx, my, g1[1], g1[2], g1[3], g1[4]):
                return False
        # reject if g2 swallows a hole of g1 whole (no edge crossing, all
        # vertices in the solid part): any hole-ring vertex of g1
        # strictly interior to g2 means g2 overlaps the hole.
        if gt2 in (POLYGON, MULTIPOLYGON):
            has_holes = any(nr > 1 for nr in g1[4])
            if has_holes:
                roff = coff = 0
                for nr in g1[4]:
                    for j in range(nr):
                        rl = g1[3][roff + j]
                        if j > 0:  # hole ring
                            for k in range(rl):
                                if _strict_point_in(g1[1][coff + k],
                                                    g1[2][coff + k], g2):
                                    return False
                        coff += rl
                    roff += nr
                # g2 exactly coincident with a hole ring passes every
                # check above (its vertices and edge midpoints all lie ON
                # the hole boundary, which point_in_polygon counts as
                # inside, and no crossing is proper) — require a
                # strictly-interior point of g2 to be strictly inside g1
                ip = _interior_point(g2)
                if ip is not None and not _strict_point_in(ip[0], ip[1], g1):
                    return False
        return True
    if gt1 in (POINT,) and gt2 in (POINT,):
        if len(g1[1]) == 0 or len(xs2) == 0:
            return False
        return g1[1][0] == xs2[0] and g1[2][0] == ys2[0]
    return False


def _point_seg_dist2(px, py, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    if l2 == 0:
        return (px - x1) ** 2 + (py - y1) ** 2
    t = ((px - x1) * dx + (py - y1) * dy) / l2
    t = min(1.0, max(0.0, t))
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def distance_pair(g1, g2):
    """Min cartesian distance between two geometries (0 if intersecting)."""
    if intersects_pair(g1, g2):
        return 0.0
    gt1, xs1, ys1, r1, _ = g1
    gt2, xs2, ys2, r2, _ = g2
    if len(xs1) == 0 or len(xs2) == 0:
        return np.nan
    best = np.inf
    segs1 = list(_iter_segments(xs1, ys1, r1))
    segs2 = list(_iter_segments(xs2, ys2, r2))
    if not segs1 and not segs2:
        # point sets: vectorized all-pairs
        d2 = (xs1[:, None] - xs2[None, :]) ** 2 + (ys1[:, None] - ys2[None, :]) ** 2
        return float(np.sqrt(d2.min()))
    if not segs1:
        for px, py in zip(xs1, ys1):
            for s in segs2:
                best = min(best, _point_seg_dist2(px, py, *s))
        return float(np.sqrt(best))
    if not segs2:
        for px, py in zip(xs2, ys2):
            for s in segs1:
                best = min(best, _point_seg_dist2(px, py, *s))
        return float(np.sqrt(best))
    for s1 in segs1:
        for px, py in ((s1[0], s1[1]), (s1[2], s1[3])):
            for s2 in segs2:
                best = min(best, _point_seg_dist2(px, py, *s2))
    for s2 in segs2:
        for px, py in ((s2[0], s2[1]), (s2[2], s2[3])):
            for s1 in segs1:
                best = min(best, _point_seg_dist2(px, py, *s1))
    return float(np.sqrt(best))


# ---------------------------------------------------------------------------
# constructive ops (reference roadmap geoseries.rst:67-90)
# ---------------------------------------------------------------------------

def _clip_ring_rect(x, y, xmin, ymin, xmax, ymax):
    """Sutherland–Hodgman clip of one closed ring against an axis-aligned
    rectangle. Returns (x, y) closed arrays (possibly empty)."""
    pts = list(zip(x[:-1], y[:-1]))  # drop closing vertex

    def clip_edge(pts, inside, intersect):
        out = []
        n = len(pts)
        for i in range(n):
            cur, prv = pts[i], pts[i - 1]
            ci, pi = inside(cur), inside(prv)
            if ci:
                if not pi:
                    out.append(intersect(prv, cur))
                out.append(cur)
            elif pi:
                out.append(intersect(prv, cur))
        return out

    def ix_v(p, q, xv):
        t = (xv - p[0]) / (q[0] - p[0])
        return (xv, p[1] + t * (q[1] - p[1]))

    def ix_h(p, q, yv):
        t = (yv - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), yv)

    pts = clip_edge(pts, lambda p: p[0] >= xmin, lambda p, q: ix_v(p, q, xmin))
    if pts:
        pts = clip_edge(pts, lambda p: p[0] <= xmax,
                        lambda p, q: ix_v(p, q, xmax))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] >= ymin,
                        lambda p, q: ix_h(p, q, ymin))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] <= ymax,
                        lambda p, q: ix_h(p, q, ymax))
    if len(pts) < 3:
        return np.empty(0), np.empty(0)
    xs = np.array([p[0] for p in pts] + [pts[0][0]])
    ys = np.array([p[1] for p in pts] + [pts[0][1]])
    return xs, ys


def _clip_pass_batch(x, y, lens, axis, bound, keep_ge):
    """One Sutherland-Hodgman half-plane pass over a whole batch of
    concatenated OPEN rings (``lens`` per ring, zeros allowed). Emits
    exactly what the scalar ``_clip_ring_rect`` pass emits, with the
    identical intersection arithmetic — results are bit-equal."""
    n = x.size
    if n == 0:
        return x, y, np.zeros_like(lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    ends = starts + lens
    rid = np.repeat(np.arange(lens.size), lens)
    prv = np.arange(n) - 1
    nz = lens > 0
    prv[starts[nz]] = ends[nz] - 1
    v = x if axis == 0 else y
    ci = (v >= bound) if keep_ge else (v <= bound)
    pi = ci[prv]
    straddle = ci ^ pi
    counts = ci.astype(np.int64) + straddle
    offs = np.concatenate([[0], np.cumsum(counts)])
    ox = np.empty(offs[-1])
    oy = np.empty(offs[-1])
    px_, py_ = x[prv], y[prv]
    with np.errstate(divide="ignore", invalid="ignore"):
        if axis == 0:
            t = (bound - px_) / (x - px_)
            ixx = np.full(n, float(bound))
            ixy = py_ + t * (y - py_)
        else:
            t = (bound - py_) / (y - py_)
            ixy = np.full(n, float(bound))
            ixx = px_ + t * (x - px_)
    first = offs[:-1]
    ox[first[straddle]] = ixx[straddle]
    oy[first[straddle]] = ixy[straddle]
    curpos = first + straddle
    ox[curpos[ci]] = x[ci]
    oy[curpos[ci]] = y[ci]
    new_lens = np.bincount(rid, counts, minlength=lens.size) \
        .astype(np.int64)
    return ox, oy, new_lens


def _clip_rings_batch(x, y, lens, xmin, ymin, xmax, ymax):
    """Clip a batch of concatenated open rings to a rectangle: four
    half-plane passes, all numpy. Returns (x, y, lens); rings shrinking
    below 3 vertices come back with their surviving count — the caller
    applies the scalar path's final <3 → empty rule."""
    x, y, lens = _clip_pass_batch(x, y, lens, 0, xmin, True)
    x, y, lens = _clip_pass_batch(x, y, lens, 0, xmax, False)
    x, y, lens = _clip_pass_batch(x, y, lens, 1, ymin, True)
    x, y, lens = _clip_pass_batch(x, y, lens, 1, ymax, False)
    return x, y, lens


def clip_by_rect(rg: RaggedGeometry, xmin, ymin, xmax, ymax):
    """Clip polygons to a rectangle (reference roadmap rst:68
    clip_by_rect). Points/lines: kept only if fully inside (simplified —
    matches shapely for points; line clipping returns the whole line if
    inside, empty otherwise).

    Polygon rings across the WHOLE batch clip in four vectorized
    half-plane passes (`_clip_rings_batch`) — the per-ring Python loop
    only reassembles offsets. Bit-equal to the per-vertex scalar
    formulation (same comparisons, same intersection arithmetic)."""
    # ---- batch pass over every polygon ring in the input ------------
    bx, by, blens, ring_geom = [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g in (POLYGON, MULTIPOLYGON):
            off = 0
            for rl in rings:
                rl = int(rl)
                bx.append(xs[off:off + rl - 1])     # drop closing vertex
                by.append(ys[off:off + rl - 1])
                blens.append(rl - 1)
                off += rl
    if blens:
        cx, cy, clens = _clip_rings_batch(
            np.concatenate(bx) if bx else np.empty(0),
            np.concatenate(by) if by else np.empty(0),
            np.asarray(blens, dtype=np.int64), xmin, ymin, xmax, ymax)
        couts = np.concatenate([[0], np.cumsum(clens)])
    ring_i = 0
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if g in (POLYGON, MULTIPOLYGON):
            px_parts, py_parts, nr, nparts = [], [], [], []
            for nrings in parts:
                kept = 0
                for j in range(nrings):
                    ln = int(clens[ring_i])
                    s = int(couts[ring_i])
                    ring_i += 1
                    if ln >= 3:                 # scalar path: <3 → empty
                        px_parts.append(cx[s:s + ln])
                        px_parts.append(cx[s:s + 1])    # close ring
                        py_parts.append(cy[s:s + ln])
                        py_parts.append(cy[s:s + 1])
                        nr.append(ln + 1)
                        kept += 1
                if kept:
                    nparts.append(kept)
            if not nr:
                gts.append(POLYGON); oxs.append([]); oys.append([])
                orings.append([]); oparts.append([])
            else:
                out_gt = POLYGON if len(nparts) == 1 else MULTIPOLYGON
                gts.append(out_gt)
                oxs.append(np.concatenate(px_parts))
                oys.append(np.concatenate(py_parts))
                orings.append(nr); oparts.append(nparts)
        else:
            inside = (len(xs) > 0 and xs.min() >= xmin and xs.max() <= xmax
                      and ys.min() >= ymin and ys.max() <= ymax)
            if inside:
                gts.append(int(g)); oxs.append(xs.tolist())
                oys.append(ys.tolist()); orings.append(rings.tolist())
                oparts.append(parts.tolist())
            else:
                gts.append(int(g)); oxs.append([]); oys.append([])
                orings.append([]); oparts.append([])
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def _buffer_convex_ring(x, y, dist, quad_segs):
    """Positive buffer of a convex CCW closed ring: offset each edge
    outward by dist, join consecutive edges with circular arcs at the
    vertices (exact Minkowski sum with a disc, discretized)."""
    # ensure CCW
    cr = (x[:-1] * y[1:] - x[1:] * y[:-1]).sum()
    if cr < 0:
        x, y = x[::-1], y[::-1]
    vx, vy = x[:-1], y[:-1]
    n = len(vx)
    out = []
    for i in range(n):
        ax, ay = vx[i], vy[i]
        bx, by = vx[(i + 1) % n], vy[(i + 1) % n]
        px, py = vx[i - 1], vy[i - 1]
        # outward normals of incoming and outgoing edges (CCW ring →
        # outward normal is (dy, -dx) normalized)
        import math as _m
        din = _m.hypot(ax - px, ay - py)
        dout = _m.hypot(bx - ax, by - ay)
        if din == 0 or dout == 0:
            continue
        nin = ((ay - py) / din, -(ax - px) / din)
        nout = ((by - ay) / dout, -(bx - ax) / dout)
        a0 = _m.atan2(nin[1], nin[0])
        a1 = _m.atan2(nout[1], nout[0])
        while a1 < a0:
            a1 += 2 * _m.pi
        steps = max(1, int(_m.ceil((a1 - a0) / (_m.pi / 2 / quad_segs))))
        for k in range(steps + 1):
            t = a0 + (a1 - a0) * k / steps
            out.append((ax + dist * _m.cos(t), ay + dist * _m.sin(t)))
    out.append(out[0])
    return (np.array([p[0] for p in out]), np.array([p[1] for p in out]))


def _segment_capsule(ax, ay, bx, by, r, quad_segs):
    """CCW capsule ring around segment (a→b): the two offset edges plus
    a semicircular arc of 2*quad_segs chords at each end. A single
    standalone capsule's exact polygon area is 2·r·L + m·r²·sin(π/m)
    with m = 2*quad_segs (rectangle + two inscribed semicircle fans) —
    the closed form the buffer oracle query replays."""
    import math as _m
    m = 2 * quad_segs
    phi = _m.atan2(by - ay, bx - ax)
    pts = []
    for k in range(m + 1):                      # arc around b: φ-π/2 → φ+π/2
        t = phi - _m.pi / 2 + _m.pi * k / m
        pts.append((bx + r * _m.cos(t), by + r * _m.sin(t)))
    for k in range(m + 1):                      # arc around a: φ+π/2 → φ+3π/2
        t = phi + _m.pi / 2 + _m.pi * k / m
        pts.append((ax + r * _m.cos(t), ay + r * _m.sin(t)))
    pts.append(pts[0])
    return (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))


def _boundary_capsules(xs, ys, rings, r, quad_segs):
    """One capsule tuple per non-degenerate boundary segment."""
    caps = []
    off = 0
    for rl in rings:
        for j in range(int(rl) - 1):
            ax, ay = float(xs[off + j]), float(ys[off + j])
            bx, by = float(xs[off + j + 1]), float(ys[off + j + 1])
            if ax == bx and ay == by:
                continue
            cx, cy = _segment_capsule(ax, ay, bx, by, r, quad_segs)
            caps.append((POLYGON, cx, cy,
                         np.array([len(cx)], np.int32),
                         np.array([1], np.int32)))
        off += int(rl)
    return caps


def buffer(rg: RaggedGeometry, distance, quad_segs=8):
    """General buffer (reference roadmap geoseries.rst:85) — full
    surface since round 4:

    - Point/MultiPoint (d>0): regular 4·quad_segs-gon circles.
    - LineString/MultiLineString (d>0): union of per-segment capsules
      via the arrangement engine (round joins emerge from the end arcs).
    - Polygon/MultiPolygon d>0: Minkowski dilation = A ∪ capsules(∂A)
      (convex hole-free rings keep the exact closed-form offset path).
    - Polygon d<0: erosion A ⊖ |d| = A − capsules(∂A, |d|) — points
      farther than |d| from the boundary survive; rectangles shrink to
      exact (W−2d)×(H−2d) rectangles (capsule straight edges, not arcs,
      form the eroded boundary).
    - d ≤ 0 on points/lines (and d == 0 on polygons → identity): empty.
    """
    from . import boolean as _bool
    n_v = 4 * quad_segs
    ang = np.linspace(0, 2 * np.pi, n_v, endpoint=False)
    gts, oxs, oys, orings, oparts = [], [], [], [], []

    def emit(t):
        if t is None or len(t[1]) == 0:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
        else:
            gts.append(int(t[0])); oxs.append(np.asarray(t[1]).tolist())
            oys.append(np.asarray(t[2]).tolist())
            orings.append(np.asarray(t[3]).tolist())
            oparts.append(np.asarray(t[4]).tolist())

    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        polyish = g in (POLYGON, MULTIPOLYGON)
        if distance == 0 and polyish:
            emit((g, xs, ys, rings, parts))
            continue
        if distance <= 0 and not polyish:
            emit(None)
            continue
        if g == POLYGON and len(rings) == 1 and distance > 0 \
                and _is_convex_ring(xs, ys):
            bx, by = _buffer_convex_ring(xs, ys, float(distance), quad_segs)
            emit((POLYGON, bx, by, np.array([len(bx)], np.int32),
                  np.array([1], np.int32)))
            continue
        if g in (POINT, MULTIPOINT):
            if distance <= 0:
                emit(None)
                continue
            dx = distance * np.cos(ang)
            dy = distance * np.sin(ang)
            nx, ny, nr, npart = [], [], [], []
            for px, py in zip(xs, ys):
                cx = (px + dx).tolist() + [px + dx[0]]
                cy = (py + dy).tolist() + [py + dy[0]]
                nx.extend(cx); ny.extend(cy)
                nr.append(n_v + 1); npart.append(1)
            out_gt = POLYGON if len(npart) == 1 else MULTIPOLYGON
            emit((out_gt, np.array(nx), np.array(ny),
                  np.array(nr, np.int32), np.array(npart, np.int32)))
            continue
        caps = _boundary_capsules(xs, ys, rings, abs(float(distance)),
                                  quad_segs)
        if g in (LINESTRING, MULTILINESTRING):
            # single-segment lines (the dominant shape in telemetry
            # traces) produce ONE capsule, which is convex by
            # construction — running the arrangement engine to
            # dissolve it with itself was 94% of the gate kernel's
            # time (r13 profile: 2.29 ms/row, 2.15 of it in _merge;
            # the dissolve only re-snaps vertices by <=1 ulp). Emit
            # it directly; multi-capsule lines still dissolve.
            if len(caps) == 1 and _is_convex_ring(
                    np.asarray(caps[0][1]), np.asarray(caps[0][2])):
                emit(caps[0])
            else:
                emit(_bool.union_polygons(caps) if caps else None)
            continue
        # polygonal general path — public engine surface only
        subject = (POLYGON if g == POLYGON else MULTIPOLYGON,
                   xs, ys, rings, parts)
        if distance > 0:
            emit(_bool.union_polygons([subject] + caps))
        else:
            emit(_bool.difference_many(subject, caps))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def representative_point(rg: RaggedGeometry):
    """A point guaranteed inside each geometry (reference roadmap rst:27
    representative_point): polygons → midpoint of the widest interior
    span on the horizontal line through the bbox-center y (the classic
    interior-point scanline); lines → middle vertex; points → first."""
    cx = np.full(len(rg), np.nan)
    cy = np.full(len(rg), np.nan)
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING or len(xs) == 0:
            continue
        if g in (POINT, MULTIPOINT):
            cx[i], cy[i] = xs[0], ys[0]
        elif g in (LINESTRING, MULTILINESTRING):
            k = len(xs) // 2
            cx[i], cy[i] = xs[k], ys[k]
        else:
            ymid = 0.5 * (ys.min() + ys.max())
            # tiny nudge if ymid hits a vertex exactly (degenerate crossings)
            if np.any(ys == ymid):
                ymid = np.nextafter(ymid, ys.max())
            crossings = []
            off = 0
            for rl in rings:
                x, y = xs[off:off + rl], ys[off:off + rl]
                for j in range(rl - 1):
                    y1, y2 = y[j], y[j + 1]
                    if (y1 > ymid) != (y2 > ymid):
                        crossings.append(x[j] + (ymid - y1)
                                         * (x[j + 1] - x[j]) / (y2 - y1))
                off += rl
            crossings.sort()
            if len(crossings) >= 2:
                widths = [(crossings[k + 1] - crossings[k], k)
                          for k in range(0, len(crossings) - 1, 2)]
                w, k = max(widths)
                cx[i] = 0.5 * (crossings[k] + crossings[k + 1])
                cy[i] = ymid
            else:
                cx[i], cy[i] = xs.mean(), ys.mean()
    return cx, cy


def _segs_intersect_batch(ax, ay, bx, by, i, j):
    """Vector twin of _seg_intersect over index pairs (i, j): proper
    crossing OR any endpoint-on-segment touch/collinear overlap."""
    a1x, a1y, b1x, b1y = ax[i], ay[i], bx[i], by[i]
    a2x, a2y, b2x, b2y = ax[j], ay[j], bx[j], by[j]

    def orient(ox, oy, px, py, qx, qy):
        return np.sign((px - ox) * (qy - oy) - (py - oy) * (qx - ox))

    o1 = orient(a1x, a1y, b1x, b1y, a2x, a2y)
    o2 = orient(a1x, a1y, b1x, b1y, b2x, b2y)
    o3 = orient(a2x, a2y, b2x, b2y, a1x, a1y)
    o4 = orient(a2x, a2y, b2x, b2y, b1x, b1y)
    hit = (o1 != o2) & (o3 != o4)

    def on(ox, oy, px, py, qx, qy):
        return ((np.minimum(ox, px) <= qx) & (qx <= np.maximum(ox, px))
                & (np.minimum(oy, py) <= qy) & (qy <= np.maximum(oy, py)))

    hit |= (o1 == 0) & on(a1x, a1y, b1x, b1y, a2x, a2y)
    hit |= (o2 == 0) & on(a1x, a1y, b1x, b1y, b2x, b2y)
    hit |= (o3 == 0) & on(a2x, a2y, b2x, b2y, a1x, a1y)
    hit |= (o4 == 0) & on(a2x, a2y, b2x, b2y, b1x, b1y)
    return hit


def is_simple(rg: RaggedGeometry):
    """OGC simplicity. Lines: no self-intersection between non-adjacent
    segments (across parts too — MultiLineString parts may only meet at
    endpoints). Polygons: per-RING simplicity only (JTS semantics —
    ring-ring touches are a validity question, not simplicity; round 6
    aligned). Grid-pruned vectorized pair test."""
    from . import boolean as _bool
    out = np.zeros(len(rg), dtype=object)
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            out[i] = None
            continue
        if g in (POINT, MULTIPOINT):
            out[i] = True
            continue
        ax, ay, bx, by, rid = [], [], [], [], []
        off = 0
        for r_i, rl in enumerate(rings):
            ax.append(xs[off:off + rl - 1])
            bx.append(xs[off + 1:off + rl])
            ay.append(ys[off:off + rl - 1])
            by.append(ys[off + 1:off + rl])
            rid.append(np.full(max(rl - 1, 0), r_i, dtype=np.int64))
            off += rl
        if not ax:
            out[i] = True
            continue
        ax = np.concatenate(ax)
        ay = np.concatenate(ay)
        bx = np.concatenate(bx)
        by = np.concatenate(by)
        rid = np.concatenate(rid)
        ii, jj = _bool._grid_pairs(ax, ay, bx, by)
        if g in (POLYGON, MULTIPOLYGON) and ii.size:
            same = rid[ii] == rid[jj]
            ii, jj = ii[same], jj[same]
        if ii.size == 0:
            out[i] = True
            continue
        # skip endpoint-chained pairs (adjacency incl. ring closure),
        # matching the scalar's coordinate-equality rule
        adjacent = (((bx[ii] == ax[jj]) & (by[ii] == ay[jj]))
                    | ((bx[jj] == ax[ii]) & (by[jj] == ay[ii])))
        keep = ~adjacent
        if not keep.any():
            out[i] = True
            continue
        hit = _segs_intersect_batch(ax, ay, bx, by, ii[keep], jj[keep])
        out[i] = not bool(hit.any())
    return out


def _ring_has_spike(x, y):
    """Consecutive-edge backtrack (collinear reversal) — a zero-width
    spike; zero-length edges are skipped (repeated points are valid)."""
    ex, ey = [], []
    for j in range(len(x) - 1):
        dx, dy = x[j + 1] - x[j], y[j + 1] - y[j]
        if dx != 0 or dy != 0:
            ex.append(dx)
            ey.append(dy)
    m = len(ex)
    if m < 2:
        return False
    for j in range(m):
        d1x, d1y = ex[j], ey[j]
        d2x, d2y = ex[(j + 1) % m], ey[(j + 1) % m]
        if d1x * d2y - d1y * d2x == 0 and d1x * d2x + d1y * d2y < 0:
            return True
    return False


def _rings_conflict(x1, y1, x2, y2):
    """Two distinct closed rings CROSS (proper interior-interior segment
    crossing) or share a collinear overlap of positive length — both
    invalid ring-ring configurations (isolated point touches are
    allowed). bbox-pruned segment-pair walk via relate's classifier."""
    from .relate import _seg_seg
    if x1.max() < x2.min() or x2.max() < x1.min() \
            or y1.max() < y2.min() or y2.max() < y1.min():
        return False
    for j in range(len(x1) - 1):
        a = (x1[j], y1[j], x1[j + 1], y1[j + 1])
        if a[0] == a[2] and a[1] == a[3]:
            continue
        for k in range(len(x2) - 1):
            b = (x2[k], y2[k], x2[k + 1], y2[k + 1])
            if b[0] == b[2] and b[1] == b[3]:
                continue
            r = _seg_seg(*a, *b)
            if r is None:
                continue
            if r[0] == "iv":
                return True
            if 0.0 < r[1] < 1.0 and 0.0 < r[2] < 1.0:
                return True
    return False


def _ring_self_touch(x, y):
    """Non-consecutive repeated vertex inside ONE ring — a pinch point.
    GEOS flags this 'Ring Self-intersection' even when the ring only
    touches itself without crossing (the point-touch allowance applies
    between DIFFERENT rings, never within one). Consecutive repeats and
    the closing duplicate are valid (r6 VERDICT #5 / shared-vertex gap)."""
    pts = []
    for j in range(len(x) - 1):                 # skip closing duplicate
        p = (float(x[j]), float(y[j]))
        if pts and p == pts[-1]:
            continue
        pts.append(p)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts.pop()
    return len(set(pts)) != len(pts)


def _ring_dirs_at(x, y, p):
    """Outgoing edge directions of a ring at contact point ``p`` —
    one per incident edge endpoint, two (±edge) when ``p`` sits
    strictly inside an edge."""
    px, py = p
    dirs = []
    for j in range(len(x) - 1):
        ax_, ay_, bx_, by_ = float(x[j]), float(y[j]), \
            float(x[j + 1]), float(y[j + 1])
        if ax_ == bx_ and ay_ == by_:
            continue
        if (ax_, ay_) == (px, py):
            dirs.append((bx_ - ax_, by_ - ay_))
        elif (bx_, by_) == (px, py):
            dirs.append((ax_ - bx_, ay_ - by_))
        else:
            cross = (bx_ - ax_) * (py - ay_) - (by_ - ay_) * (px - ax_)
            if cross == 0 and min(ax_, bx_) <= px <= max(ax_, bx_) \
                    and min(ay_, by_) <= py <= max(ay_, by_):
                dirs.append((bx_ - ax_, by_ - ay_))
                dirs.append((ax_ - bx_, ay_ - by_))
    return dirs


def _rings_cross_at_contact(x1, y1, x2, y2):
    """Two rings that meet at a point and ALTERNATE around it (ring1,
    ring2, ring1, ring2 in angular order) CROSS there — invalid, and
    invisible to the segment-pair classifier because every incident
    segment pair meets only at endpoints (the r6-documented
    shared-vertex gap, closed r7; also covers a vertex of one ring
    crossing through an EDGE interior of the other). Non-alternating
    contact (both ring2 wedge arms on one side of ring1) is the legal
    isolated point touch."""
    import math as _m
    for p in _ring_touch_points(x1, y1, x2, y2):
        d1 = _ring_dirs_at(x1, y1, p)
        d2 = _ring_dirs_at(x2, y2, p)
        if len(d1) != 2 or len(d2) != 2:
            # a ring revisiting the point is flagged by the
            # self-touch check; degenerate configs skip
            continue
        # an arm of one ring exactly collinear (same direction) with
        # an arm of the other is a tangential collinear contact, not a
        # transversal crossing — the angular sort would tie-break the
        # equal angles on tag arbitrarily and could fabricate (or
        # hide) alternation (ADVICE r7). Any actual collinear EDGE
        # overlap between the rings is caught by the segment-overlap
        # check, so skipping the alternation test here is safe.
        if any(ux * vy - uy * vx == 0 and ux * vx + uy * vy > 0
               for ux, uy in d1 for vx, vy in d2):
            continue
        ang = sorted([(_m.atan2(dy, dx), tag)
                      for tag, ds in ((0, d1), (1, d2))
                      for dx, dy in ds])
        tags = [t for _, t in ang]
        if tags in ([0, 1, 0, 1], [1, 0, 1, 0]):
            return True
    return False


def _ring_vertex_side(px, py, x, y):
    """First strict classification of (px,py) lists vs ring: 1 inside,
    -1 outside, 0 if every probe lands on the boundary."""
    for k in range(len(px) - 1):        # skip the closing duplicate
        s = point_in_ring(px[k], py[k], x, y)
        if s != 0:
            return s
    return 0


def is_valid(rg: RaggedGeometry):
    """Full OGC polygon validity (round 6): rings closed with ≥4
    vertices and individually simple; no zero-width spikes; no ring-ring
    crossing or collinear ring overlap anywhere in the geometry
    (isolated point touches allowed); no duplicate rings; every hole
    inside its shell and not nested in a sibling hole; multipolygon
    shells not nested in another part's interior (a shell inside a hole
    — donut island — is valid). Non-polygonal geometries are always
    valid (GEOS semantics — a self-crossing line is valid, just not
    simple). Interior connectivity is checked since r6 (a hole — or
    hole chain — touching the shell at two points pinches the interior:
    cycle detection on the ring-touch multigraph, GEOS "Interior is
    disconnected"). Since r7 the shared-vertex gap is closed: a ring
    revisiting one of its own vertices is a pinch ("Ring
    Self-intersection"), and two rings whose edges ALTERNATE angularly
    around a contact point (shared vertex or vertex-on-edge) cross
    there ("Self-intersection") even though no segment pair crosses
    properly."""
    from .ragged import GEOMETRYCOLLECTION, gc_iter
    out = np.zeros(len(rg), dtype=object)
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            out[i] = None
            continue
        if g == GEOMETRYCOLLECTION:
            # valid iff every part is (point/line parts always are)
            out[i] = all(
                sub[0] not in (POLYGON, MULTIPOLYGON)
                or _polygon_valid(sub[1], sub[2], sub[3], sub[4])
                for sub in gc_iter((g, xs, ys, rings, parts)))
            continue
        if g not in (POLYGON, MULTIPOLYGON):
            out[i] = True
            continue
        out[i] = _polygon_valid(xs, ys, rings, parts)
    return out


def _polygon_valid(xs, ys, rings, parts):
    return _polygon_invalid_reason(xs, ys, rings, parts) is None


def _polygon_invalid_reason(xs, ys, rings, parts):
    """None when valid, else a GEOS-style reason string (the strings
    GeoPandas ``is_valid_reason`` users match on)."""
    # per-ring: closure, >=4 vertices, simplicity, spikes; collect views
    ring_xy = []          # (x, y, part_idx, is_shell)
    roff = coff = 0
    for p_i, nr in enumerate(parts):
        for j in range(nr):
            rl = rings[roff + j]
            x = xs[coff:coff + rl]
            y = ys[coff:coff + rl]
            if rl < 4:
                return "Too few points in geometry component"
            if x[0] != x[-1] or y[0] != y[-1]:
                return "Points of LinearRing do not form a closed linestring"
            if _ring_has_spike(x, y):
                return "Ring Self-intersection"
            if _ring_self_touch(x, y):
                return "Ring Self-intersection"
            ring_xy.append((x, y, p_i, j == 0))
            coff += rl
        roff += nr
    one = RaggedGeometry.from_pylists(
        [POLYGON] * len(ring_xy),
        [r[0].tolist() for r in ring_xy], [r[1].tolist() for r in ring_xy],
        [[len(r[0])] for r in ring_xy], [[1] for r in ring_xy])
    simple = is_simple(one)
    if not all(bool(s) for s in simple):
        return "Ring Self-intersection"
    # pairwise ring checks: crossing/overlap, duplicates
    for a in range(len(ring_xy)):
        x1, y1 = ring_xy[a][0], ring_xy[a][1]
        for b in range(a + 1, len(ring_xy)):
            x2, y2 = ring_xy[b][0], ring_xy[b][1]
            if len(x1) == len(x2) and equals_pair(
                    (POLYGON, x1, y1,
                     np.array([len(x1)], np.int32),
                     np.array([1], np.int32)),
                    (POLYGON, x2, y2,
                     np.array([len(x2)], np.int32),
                     np.array([1], np.int32))):
                return "Duplicate Rings"
            if _rings_conflict(x1, y1, x2, y2):
                return "Self-intersection"
            if _rings_cross_at_contact(x1, y1, x2, y2):
                return "Self-intersection"
    # containment structure (no crossings by now → one strict vertex
    # classification decides each whole-ring relation)
    shells = [r for r in ring_xy if r[3]]
    holes = [r for r in ring_xy if not r[3]]
    # holes inside their own part's shell, not nested in sibling holes
    for h in holes:
        shell = next(s for s in shells if s[2] == h[2])
        if _ring_vertex_side(h[0], h[1], shell[0], shell[1]) == -1:
            return "Hole lies outside shell"
        for h2 in holes:
            if h2 is h or h2[2] != h[2]:
                continue
            if _ring_vertex_side(h[0], h[1], h2[0], h2[1]) == 1:
                return "Holes are nested"
    # multipolygon shells: not inside another part (unless inside one of
    # that part's holes — donut island)
    for s1 in shells:
        for s2 in shells:
            if s1 is s2:
                continue
            if _ring_vertex_side(s1[0], s1[1], s2[0], s2[1]) == 1:
                in_hole = any(
                    h[2] == s2[2]
                    and _ring_vertex_side(s1[0], s1[1], h[0], h[1]) == 1
                    for h in holes)
                if not in_hole:
                    return "Nested shells"
    # interior connectivity (GEOS "Interior is disconnected"): with
    # crossings/overlaps excluded above, rings of one part may only
    # touch at isolated points; the interior splits exactly when the
    # ring-touch MULTIGRAPH (nodes = rings, one edge per distinct touch
    # point) contains a cycle — a hole touching the shell at two
    # points, or a hole chain looping back
    from collections import defaultdict
    by_part = defaultdict(list)
    for idx, r in enumerate(ring_xy):
        by_part[r[2]].append(idx)
    for idxs in by_part.values():
        if len(idxs) < 2:
            continue
        parent = {i: i for i in idxs}

        def _find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for ai in range(len(idxs)):
            for bi in range(ai + 1, len(idxs)):
                a, b = idxs[ai], idxs[bi]
                for _ in _ring_touch_points(ring_xy[a][0], ring_xy[a][1],
                                            ring_xy[b][0], ring_xy[b][1]):
                    ra, rb = _find(a), _find(b)
                    if ra == rb:
                        return "Interior is disconnected"
                    parent[ra] = rb
    return None


def _ring_touch_points(x1, y1, x2, y2):
    """Distinct coordinates where two non-crossing rings touch. With
    crossings and collinear overlaps already excluded, every contact
    between two straight-edge rings involves at least one vertex of one
    ring sitting ON the other (vertex-vertex or vertex-on-edge), so
    scanning both vertex sets suffices."""
    pts = set()
    for ax, ay, bx, by in ((x1, y1, x2, y2), (x2, y2, x1, y1)):
        ex1, ey1 = bx[:-1], by[:-1]
        ex2, ey2 = bx[1:], by[1:]
        for px, py in zip(ax[:-1], ay[:-1]):
            cross = (ex2 - ex1) * (py - ey1) - (ey2 - ey1) * (px - ex1)
            on = ((cross == 0)
                  & (np.minimum(ex1, ex2) <= px) & (px <= np.maximum(ex1, ex2))
                  & (np.minimum(ey1, ey2) <= py) & (py <= np.maximum(ey1, ey2)))
            if on.any():
                pts.add((float(px), float(py)))
    return pts


def is_valid_reason(rg: RaggedGeometry):
    """GEOS-style validity diagnostics (GeoPandas 1.0
    ``GeoSeries.is_valid_reason``): 'Valid Geometry' or the first
    violated rule's message — same detection machinery (and therefore
    the same documented residual gaps) as :func:`is_valid`."""
    from .ragged import GEOMETRYCOLLECTION, gc_iter
    out = np.zeros(len(rg), dtype=object)
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            out[i] = None
            continue
        reason = None
        if g == GEOMETRYCOLLECTION:
            for sub in gc_iter((g, xs, ys, rings, parts)):
                if sub[0] in (POLYGON, MULTIPOLYGON):
                    reason = _polygon_invalid_reason(
                        sub[1], sub[2], sub[3], sub[4])
                    if reason is not None:
                        break
        elif g in (POLYGON, MULTIPOLYGON):
            reason = _polygon_invalid_reason(xs, ys, rings, parts)
        out[i] = "Valid Geometry" if reason is None else reason
    return out


# ---------------------------------------------------------------------------
# extended binary predicates (reference roadmap geoseries.rst:47-64)
# ---------------------------------------------------------------------------

def _proper_seg_cross(ax, ay, bx, by, cx, cy, dx, dy):
    """Segments cross at an interior point of both (no endpoint touch,
    no collinear overlap)."""
    def orient(ox, oy, px, py, qx, qy):
        v = (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
        return 0 if v == 0 else (1 if v > 0 else -1)
    o1 = orient(ax, ay, bx, by, cx, cy)
    o2 = orient(ax, ay, bx, by, dx, dy)
    o3 = orient(cx, cy, dx, dy, ax, ay)
    o4 = orient(cx, cy, dx, dy, bx, by)
    return o1 != o2 and o3 != o4 and 0 not in (o1, o2, o3, o4)


def _interior_point(g):
    """A point strictly interior to polygonal g, or None: edge midpoints
    nudged along both normals by a bbox-scaled epsilon, verified with the
    strict PIP (used by contains_pair's hole-coincidence probe)."""
    gt, xs, ys, rings, parts = g
    if gt not in (POLYGON, MULTIPOLYGON) or len(xs) == 0:
        return None
    span = max(float(xs.max() - xs.min()), float(ys.max() - ys.min()), 1e-12)
    for eps_scale in (1e-9, 1e-6, 1e-3):
        eps = span * eps_scale
        for x1, y1, x2, y2 in _iter_segments(xs, ys, rings):
            dx, dy = x2 - x1, y2 - y1
            ln = math.hypot(dx, dy)
            if ln == 0:
                continue
            mx, my = (x1 + x2) * 0.5, (y1 + y2) * 0.5
            nx, ny = -dy / ln, dx / ln
            for s in (1.0, -1.0):
                px, py = mx + s * nx * eps, my + s * ny * eps
                if _strict_point_in(px, py, g):
                    return (px, py)
    return None


def _strict_point_in(px, py, g):
    """Point strictly interior to a polygonal geometry."""
    gt, xs, ys, rings, parts = g
    if gt not in (POLYGON, MULTIPOLYGON):
        return False
    # boundary check first
    for x1, y1, x2, y2 in _iter_segments(xs, ys, rings):
        cross = (px - x1) * (y2 - y1) - (py - y1) * (x2 - x1)
        if cross == 0 and min(x1, x2) <= px <= max(x1, x2) \
                and min(y1, y2) <= py <= max(y1, y2):
            return False
    return point_in_polygon(px, py, xs, ys, rings, parts)


def touches_pair(g1, g2):
    """EXACT DE-9IM touches (round 6 — GEOS semantics; see
    geom/relate.py): a∩b nonempty with disjoint interiors."""
    from . import relate
    return relate.relate_tco(g1, g2)[0]


def crosses_pair(g1, g2):
    """EXACT DE-9IM crosses (round 6 — GEOS semantics; geom/relate.py):
    interiors meet in lower dimension than the operands' max, with part
    of the lower-dimensional operand outside the other."""
    from . import relate
    return relate.relate_tco(g1, g2)[1]


def overlaps_pair(g1, g2):
    """EXACT DE-9IM overlaps (round 6 — GEOS semantics; geom/relate.py):
    same-dimension interiors partially overlap, neither covers the
    other."""
    from . import relate
    return relate.relate_tco(g1, g2)[2]



# ---------------------------------------------------------------------------
# convexity helper (used by the buffer fast path)
# ---------------------------------------------------------------------------
def _is_convex_ring(x, y):
    """Closed ring is convex (all cross products same sign, no reflex)."""
    n = len(x) - 1
    if n < 3:
        return False
    sign = 0
    for i in range(n):
        x1, y1 = x[i], y[i]
        x2, y2 = x[(i + 1) % n], y[(i + 1) % n]
        x3, y3 = x[(i + 2) % n], y[(i + 2) % n]
        cr = (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2)
        if cr != 0:
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return sign != 0


# ---------------------------------------------------------------------------
# set-theoretic ops + polygon dissolve (unary_union)
#
# Since round 4 both live in the generalized boundary-arrangement engine
# (geom/boolean.py): grid-pruned vectorized edge splitting, binned
# ray-cast side classification, per-op keep rules. Re-exported here for
# backwards compatibility with round-3 call sites.
# ---------------------------------------------------------------------------

from .boolean import union_polygons  # noqa: E402,F401

# ---------------------------------------------------------------------------
# structural equality modulo ring rotation / orientation / part order
# ---------------------------------------------------------------------------

def _canon_ring(rx, ry):
    """Closed ring → canonical open vertex tuple: CCW orientation,
    rotated to start at the lexicographically smallest vertex."""
    pts = list(zip(rx.tolist(), ry.tolist()))
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if not pts:
        return ()
    area2 = sum(x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(pts, pts[1:] + pts[:1]))
    if area2 < 0:
        pts = pts[::-1]
    k = min(range(len(pts)), key=lambda i: pts[i])
    return tuple(pts[k:] + pts[:k])


def _canonical_form(g):
    """Hashable canonical form: single/multi variants of one class
    normalize together; rings rotate to min-vertex CCW; line directions
    normalize; holes and parts sort."""
    gt, xs, ys, rings, parts = g
    if len(xs) == 0:
        cls = ("P" if gt in (POINT, MULTIPOINT) else
               "L" if gt in (LINESTRING, MULTILINESTRING) else "G")
        return (cls, ())
    if gt in (POINT, MULTIPOINT):
        return ("P", tuple(sorted(set(zip(xs.tolist(), ys.tolist())))))
    if gt in (LINESTRING, MULTILINESTRING):
        out, off = [], 0
        for rl in rings:
            fwd = tuple(zip(xs[off:off + rl].tolist(),
                            ys[off:off + rl].tolist()))
            out.append(min(fwd, fwd[::-1]))
            off += rl
        return ("L", tuple(sorted(out)))
    poff = coff = 0
    parts_out = []
    for nr in parts:
        rs = []
        for j in range(nr):
            rl = rings[poff + j]
            rs.append(_canon_ring(xs[coff:coff + rl], ys[coff:coff + rl]))
            coff += rl
        parts_out.append((rs[0], tuple(sorted(rs[1:]))))
        poff += nr
    return ("G", tuple(sorted(parts_out)))


def equals_pair(g1, g2):
    """GeoPandas-style geom_equals for same-noding geometries: equality
    modulo ring start vertex, ring orientation, part/hole order, line
    direction, and single-vs-multi wrapping (reference roadmap
    geoseries.rst:51-53). NOT full topological equality — boundaries
    noded differently (extra collinear vertices) compare unequal;
    geom_equals_exact keeps the strict structural compare."""
    return _canonical_form(g1) == _canonical_form(g2)


# ---------------------------------------------------------------------------
# shape descriptors (round 6): minimum rotated rectangle, minimum
# bounding circle, discrete Fréchet — GeoPandas surface beyond the
# reference roadmap (GeoSeries.minimum_rotated_rectangle /
# minimum_bounding_circle / minimum_bounding_radius / frechet_distance).
# Per-row iterative algorithms; all batch entry points keep the
# ragged-in / ragged-out convention.
# ---------------------------------------------------------------------------

def _hull_vertices(rg: RaggedGeometry):
    """Per-row convex hull vertices from the batch :func:`convex_hull`,
    as (k, 2) arrays, CCW and open: k = 1 for a single distinct point, 2
    (the extremes) for collinear points. None for MISSING and EMPTY
    rows."""
    h = convex_hull(rg)
    pts = np.column_stack([h.xs, h.ys])
    co = h.coord_offsets.tolist()
    closed = (h.gt == POLYGON).tolist()
    out = []
    for i in range(len(h)):
        c0, c1 = co[i], co[i + 1] - closed[i]
        out.append(pts[c0:c1] if c1 > c0 else None)
    return out


def minimum_clearance(rg: RaggedGeometry):
    """JTS/GEOS MinimumClearance (shapely ``minimum_clearance``): the
    smallest of (a) the distance between any two distinct vertices and
    (b) the distance from any vertex to a segment it is not an endpoint
    of — the largest perturbation a vertex can survive without changing
    the geometry's structure. Vectorized per row (V×V and V×S distance
    matrices with adjacency masks). Points/empty → inf like shapely;
    ring-closing duplicates are one vertex, not a zero pair; distinct
    coincident vertices (e.g. two rings sharing a corner) honestly
    report 0."""
    out = np.full(len(rg), np.inf)
    for i in range(len(rg)):
        gt, xs, ys, rings, _parts = rg.geom(i)
        if gt == MISSING:
            out[i] = np.nan
            continue
        vx, vy, sa, sb = [], [], [], []   # vertices; segment endpoint ids
        off = 0
        for rl in rings:
            ring_ids = []
            for j in range(off, off + int(rl)):
                # ring closure re-uses vertex 0; consecutive duplicates
                # collapse to one vertex
                keyed = (float(xs[j]), float(ys[j]))
                if j == off + int(rl) - 1 and int(rl) >= 2 \
                        and keyed == (float(xs[off]), float(ys[off])):
                    ring_ids.append(ring_ids[0])
                    continue
                if ring_ids and keyed == (vx[ring_ids[-1]],
                                          vy[ring_ids[-1]]):
                    ring_ids.append(ring_ids[-1])
                    continue
                vx.append(keyed[0]); vy.append(keyed[1])
                ring_ids.append(len(vx) - 1)
            for a, b in zip(ring_ids[:-1], ring_ids[1:]):
                if a != b:
                    sa.append(a); sb.append(b)
            off += int(rl)
        n = len(vx)
        if n < 2:
            continue                      # single point → inf
        px = np.asarray(vx); py = np.asarray(vy)
        dx = px[:, None] - px[None, :]
        dy = py[:, None] - py[None, :]
        d2 = dx * dx + dy * dy
        np.fill_diagonal(d2, np.inf)
        best = float(np.sqrt(d2.min()))
        if sa:
            a = np.asarray(sa); b = np.asarray(sb)
            ex = px[b] - px[a]
            ey = py[b] - py[a]
            ln2 = np.maximum(ex * ex + ey * ey, 1e-300)
            rx = px[:, None] - px[a][None, :]
            ry = py[:, None] - py[a][None, :]
            t = np.clip((rx * ex[None, :] + ry * ey[None, :]) / ln2,
                        0.0, 1.0)
            qx = rx - t * ex[None, :]
            qy = ry - t * ey[None, :]
            vs = qx * qx + qy * qy
            ids = np.arange(n)
            vs[ids[:, None] == a[None, :]] = np.inf    # v is an endpoint
            vs[ids[:, None] == b[None, :]] = np.inf
            best = min(best, float(np.sqrt(vs.min())))
        out[i] = best
    return out


def minimum_rotated_rectangle(rg: RaggedGeometry):
    """Smallest-area rectangle (any rotation) containing each geometry —
    rotating calipers over the convex hull: the optimal rectangle has a
    side collinear with a hull edge, so only hull-edge orientations are
    candidates. Degenerate collapse mirrors convex_hull: 1 unique point
    → Point, collinear → LineString between the extremes (GEOS
    MinimumDiameter::getMinimumRectangle semantics).

    The caliper sweep is BATCH-VECTORIZED: all rows' hulls are padded
    into one (rows × max_hull) block and each edge index is one numpy
    pass over every row at once (the per-row python loop cost ~250 µs/
    row at sf0.1 — 6× the vectorized form). Rows are chunked so padding
    never allocates more than a few MB."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    batch_rows = []          # (out_idx, hull ndarray) for k >= 3
    for i, hull in enumerate(_hull_vertices(rg)):
        if rg.gt[i] == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if hull is None:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        if len(hull) == 1:
            gts.append(POINT); oxs.append([hull[0, 0]])
            oys.append([hull[0, 1]]); orings.append([1]); oparts.append([1])
            continue
        if len(hull) == 2:
            gts.append(LINESTRING)
            oxs.append(hull[:, 0].tolist()); oys.append(hull[:, 1].tolist())
            orings.append([2]); oparts.append([1])
            continue
        batch_rows.append((len(gts), hull))
        gts.append(POLYGON); oxs.append(None); oys.append(None)
        orings.append([5]); oparts.append([1])
    for c0 in range(0, len(batch_rows), 4096):
        chunk = batch_rows[c0:c0 + 4096]
        ks = np.array([len(h) for _, h in chunk])
        m, hmax = len(chunk), int(ks.max())
        hx = np.zeros((m, hmax)); hy = np.zeros((m, hmax))
        for r, (_, h) in enumerate(chunk):
            hx[r, :len(h)] = h[:, 0]; hy[r, :len(h)] = h[:, 1]
            hx[r, len(h):] = h[-1, 0]; hy[r, len(h):] = h[-1, 1]
        best_area = np.full(m, np.inf)
        bu = np.zeros((m, 2)); bv = np.zeros((m, 2))
        bu01 = np.zeros((m, 2)); bv01 = np.zeros((m, 2))
        for e in range(hmax):
            nxt = np.where(e + 1 < ks, e + 1, 0)
            ux = hx[np.arange(m), nxt] - hx[:, e]
            uy = hy[np.arange(m), nxt] - hy[:, e]
            ln = np.hypot(ux, uy)
            ok = (e < ks) & (ln > 0)
            ln = np.where(ln == 0, 1.0, ln)
            ux, uy = ux / ln, uy / ln
            pu = hx * ux[:, None] + hy * uy[:, None]
            pv = hx * (-uy)[:, None] + hy * ux[:, None]
            u0, u1 = pu.min(axis=1), pu.max(axis=1)
            v0, v1 = pv.min(axis=1), pv.max(axis=1)
            area = np.where(ok, (u1 - u0) * (v1 - v0), np.inf)
            upd = area < best_area
            best_area = np.where(upd, area, best_area)
            bu[upd, 0] = ux[upd]; bu[upd, 1] = uy[upd]
            bv[upd, 0] = -uy[upd]; bv[upd, 1] = ux[upd]
            bu01[upd, 0] = u0[upd]; bu01[upd, 1] = u1[upd]
            bv01[upd, 0] = v0[upd]; bv01[upd, 1] = v1[upd]
        for r, (oi, _) in enumerate(chunk):
            ux, uy = bu[r]; vx, vy = bv[r]
            u0, u1 = bu01[r]; v0, v1 = bv01[r]
            cx = [u0 * ux + v0 * vx, u1 * ux + v0 * vx,
                  u1 * ux + v1 * vx, u0 * ux + v1 * vx]
            cy = [u0 * uy + v0 * vy, u1 * uy + v0 * vy,
                  u1 * uy + v1 * vy, u0 * uy + v1 * vy]
            cx.append(cx[0]); cy.append(cy[0])
            oxs[oi] = cx; oys[oi] = cy
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def _circle_two(p, q):
    c = (p + q) / 2.0
    return c[0], c[1], float(np.hypot(*(p - c)))


def _circumcircle(a, b, c):
    """Circumcircle of a non-degenerate triangle, or None if collinear."""
    d = 2.0 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1])
               + c[0] * (a[1] - b[1]))
    if d == 0:
        return None
    a2, b2, c2 = a @ a, b @ b, c @ c
    ux = (a2 * (b[1] - c[1]) + b2 * (c[1] - a[1]) + c2 * (a[1] - b[1])) / d
    uy = (a2 * (c[0] - b[0]) + b2 * (a[0] - c[0]) + c2 * (b[0] - a[0])) / d
    return ux, uy, float(np.hypot(a[0] - ux, a[1] - uy))


def _welzl_msw(pts):
    """Minimum enclosing circle, deterministic (no RNG): incremental
    Welzl/MSW over the given order. O(n) expected on shuffled input;
    the callers pass convex-hull vertices, which are few, so the
    deterministic order's worst case is irrelevant."""
    eps = 1e-9

    def inside(cx, cy, r, p):
        return np.hypot(p[0] - cx, p[1] - cy) <= r * (1 + 1e-12) + eps

    n = len(pts)
    cx, cy, r = pts[0][0], pts[0][1], 0.0
    for i in range(1, n):
        if inside(cx, cy, r, pts[i]):
            continue
        cx, cy, r = pts[i][0], pts[i][1], 0.0
        for j in range(i):
            if inside(cx, cy, r, pts[j]):
                continue
            cx, cy, r = _circle_two(pts[i], pts[j])
            for q in range(j):
                if inside(cx, cy, r, pts[q]):
                    continue
                cc = _circumcircle(pts[i], pts[j], pts[q])
                if cc is not None:
                    cx, cy, r = cc
    return float(cx), float(cy), float(r)


def minimum_bounding_circle_params(rg: RaggedGeometry):
    """(cx, cy, radius) float64 arrays of the minimum enclosing circle of
    each geometry's vertices (sufficient: the MEC of a geometry equals
    the MEC of its convex hull's vertices). NaN for empty/missing.

    Rows whose hull has ≤ 12 vertices (virtually all real workloads) go
    through a BATCH-VECTORIZED exact search: the MEC is determined by 2
    or 3 hull vertices, so all C(H,2)+C(H,3) candidate circles are
    evaluated as numpy passes over every row at once (same arithmetic
    as the per-row Welzl — ~6× faster at sf0.1); bigger hulls keep the
    deterministic Welzl/MSW loop."""
    from itertools import combinations
    n = len(rg)
    cxs = np.full(n, np.nan)
    cys = np.full(n, np.nan)
    rs = np.full(n, np.nan)
    small = []
    for i, hull in enumerate(_hull_vertices(rg)):
        if hull is None:
            continue
        if len(hull) > 12:
            cxs[i], cys[i], rs[i] = _welzl_msw(hull)
        else:
            small.append((i, hull))
    eps = 1e-9
    for c0 in range(0, len(small), 4096):
        chunk = small[c0:c0 + 4096]
        ks = np.array([len(h) for _, h in chunk])
        m, hmax = len(chunk), int(ks.max())
        hx = np.zeros((m, hmax)); hy = np.zeros((m, hmax))
        for r_, (_, h) in enumerate(chunk):
            hx[r_, :len(h)] = h[:, 0]; hy[r_, :len(h)] = h[:, 1]
            hx[r_, len(h):] = h[0, 0]; hy[r_, len(h):] = h[0, 1]
        best_r = np.full(m, np.inf)
        best_cx = np.zeros(m); best_cy = np.zeros(m)

        def consider(cx, cy, r, valid):
            within = (np.hypot(hx - cx[:, None], hy - cy[:, None])
                      <= (r * (1 + 1e-12) + eps)[:, None]).all(axis=1)
            upd = valid & within & (r < best_r)
            best_r[upd] = r[upd]
            best_cx[upd] = cx[upd]; best_cy[upd] = cy[upd]

        # single-point rows
        consider(hx[:, 0].copy(), hy[:, 0].copy(), np.zeros(m), ks == 1)
        for a, b in combinations(range(hmax), 2):
            cx = (hx[:, a] + hx[:, b]) / 2.0
            cy = (hy[:, a] + hy[:, b]) / 2.0
            r = np.hypot(hx[:, a] - cx, hy[:, a] - cy)
            consider(cx, cy, r, b < ks)
        for a, b, c in combinations(range(hmax), 3):
            ax, ay = hx[:, a], hy[:, a]
            bx, by = hx[:, b], hy[:, b]
            cx_, cy_ = hx[:, c], hy[:, c]
            d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
            ok = (c < ks) & (d != 0)
            d = np.where(d == 0, 1.0, d)
            a2 = ax * ax + ay * ay
            b2 = bx * bx + by * by
            c2 = cx_ * cx_ + cy_ * cy_
            ux = (a2 * (by - cy_) + b2 * (cy_ - ay) + c2 * (ay - by)) / d
            uy = (a2 * (cx_ - bx) + b2 * (ax - cx_) + c2 * (bx - ax)) / d
            r = np.hypot(ax - ux, ay - uy)
            consider(ux, uy, r, ok)
        for r_, (oi, _) in enumerate(chunk):
            cxs[oi], cys[oi], rs[oi] = best_cx[r_], best_cy[r_], best_r[r_]
    return cxs, cys, rs


def frechet(r1: RaggedGeometry, r2: RaggedGeometry):
    """Row-aligned discrete Fréchet distance over each geometry's vertex
    sequence (JTS DiscreteFrechetDistance semantics: vertices in storage
    order — for polygons that is the ring walk). O(n·m) dynamic program
    per row; NaN for empty/missing."""
    n = len(r1)
    out = np.full(n, np.nan)
    for i in range(n):
        g1, x1, y1, _, _ = r1.geom(i)
        g2, x2, y2, _, _ = r2.geom(i)
        if g1 == MISSING or g2 == MISSING or len(x1) == 0 or len(x2) == 0:
            continue
        p = np.column_stack([x1, y1])
        q = np.column_stack([x2, y2])
        # pairwise distance matrix (rows small; vectorized)
        d = np.hypot(p[:, None, 0] - q[None, :, 0],
                     p[:, None, 1] - q[None, :, 1])
        np_, nq = d.shape
        ca = np.empty_like(d)
        ca[0, 0] = d[0, 0]
        for j in range(1, nq):
            ca[0, j] = max(ca[0, j - 1], d[0, j])
        for k in range(1, np_):
            ca[k, 0] = max(ca[k - 1, 0], d[k, 0])
            row_prev = ca[k - 1]
            row = ca[k]
            for j in range(1, nq):
                row[j] = max(min(row_prev[j], row_prev[j - 1], row[j - 1]),
                             d[k, j])
        out[i] = ca[-1, -1]
    return out


def remove_repeated_points(rg: RaggedGeometry, tolerance: float = 0.0):
    """Drop consecutive vertices closer than ``tolerance`` (GeoPandas /
    GEOS ``remove_repeated_points``): per ring, a vertex is kept if it
    is farther than tolerance from the last KEPT vertex. Ring closure is
    preserved; rings are never reduced below their minimal vertex count
    (4 closed for polygon rings, 2 for lines), matching GEOS."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    tol2 = float(tolerance) ** 2
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if g in (POINT, MULTIPOINT):
            gts.append(int(g)); oxs.append(list(map(float, xs)))
            oys.append(list(map(float, ys)))
            orings.append([int(v) for v in rings])
            oparts.append([int(v) for v in parts])
            continue
        nx, ny, nr = [], [], []
        closed_min = 4 if g in (POLYGON, MULTIPOLYGON, LINEARRING) else 2
        off = 0
        for rl in rings:
            rxs, rys = xs[off:off + rl], ys[off:off + rl]
            off += rl
            if rl == 0:
                nr.append(0)
                continue
            closed = rl >= 2 and rxs[0] == rxs[-1] and rys[0] == rys[-1]
            kept_x, kept_y = [float(rxs[0])], [float(rys[0])]
            body = range(1, rl - 1) if closed else range(1, rl)
            for j in body:
                dx = rxs[j] - kept_x[-1]
                dy = rys[j] - kept_y[-1]
                if dx * dx + dy * dy > tol2:
                    kept_x.append(float(rxs[j]))
                    kept_y.append(float(rys[j]))
            if closed:
                kept_x.append(kept_x[0]); kept_y.append(kept_y[0])
            if len(kept_x) < closed_min:
                # under-minimum: keep original ring (GEOS behavior)
                kept_x = list(map(float, rxs))
                kept_y = list(map(float, rys))
            nx.extend(kept_x); ny.extend(kept_y); nr.append(len(kept_x))
        gts.append(int(g)); oxs.append(nx); oys.append(ny)
        orings.append(nr)
        oparts.append([int(v) for v in parts])
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def line_merge(rg: RaggedGeometry):
    """Merge the lines of each (Multi)LineString into maximal chains
    (GEOS/GeoPandas ``line_merge``): lines join only at endpoints where
    EXACTLY two line ends meet. Returns LineString when one chain
    remains, MultiLineString otherwise; non-line inputs pass through
    unchanged (GEOS returns empty — documented deviation: pass-through
    is more useful in a typed column)."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if g not in (LINESTRING, MULTILINESTRING) or len(rings) <= 1:
            gts.append(int(g)); oxs.append(list(map(float, xs)))
            oys.append(list(map(float, ys)))
            orings.append([int(v) for v in rings])
            oparts.append([int(v) for v in parts])
            continue
        # collect component lines
        lines = []
        off = 0
        for rl in rings:
            lines.append((list(map(float, xs[off:off + rl])),
                          list(map(float, ys[off:off + rl]))))
            off += rl
        # endpoint -> list of (line idx, which end)
        ends = {}
        for li, (lx, ly) in enumerate(lines):
            for end, (px, py) in (("s", (lx[0], ly[0])),
                                  ("e", (lx[-1], ly[-1]))):
                ends.setdefault((px, py), []).append((li, end))
        used = [False] * len(lines)
        chains = []
        for li in range(len(lines)):
            if used[li]:
                continue
            used[li] = True
            cx, cy = list(lines[li][0]), list(lines[li][1])
            # extend forward from the chain's tail, then backward from head
            for direction in ("fwd", "bwd"):
                while True:
                    tip = (cx[-1], cy[-1]) if direction == "fwd" \
                        else (cx[0], cy[0])
                    cands = [(lj, e) for lj, e in ends.get(tip, [])
                             if not used[lj]]
                    here = [x for x in ends.get(tip, [])]
                    if len(here) != 2 or len(cands) != 1:
                        break      # junction (>2 ends) or dead end
                    lj, e = cands[0]
                    used[lj] = True
                    jx, jy = lines[lj]
                    seg_x = jx[1:] if e == "s" else jx[-2::-1]
                    seg_y = jy[1:] if e == "s" else jy[-2::-1]
                    if direction == "fwd":
                        cx.extend(seg_x); cy.extend(seg_y)
                    else:
                        cx[:0] = seg_x[::-1]; cy[:0] = seg_y[::-1]
            chains.append((cx, cy))
        if len(chains) == 1:
            cx, cy = chains[0]
            gts.append(LINESTRING); oxs.append(cx); oys.append(cy)
            orings.append([len(cx)]); oparts.append([1])
        else:
            nx, ny, nr = [], [], []
            for cx, cy in chains:
                nx.extend(cx); ny.extend(cy); nr.append(len(cx))
            gts.append(MULTILINESTRING); oxs.append(nx); oys.append(ny)
            orings.append(nr); oparts.append([1] * len(nr))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def _bowyer_watson(pts: np.ndarray):
    """Delaunay triangulation of a (n,2) unique point array — classic
    Bowyer–Watson incremental insertion over a super-triangle.
    Deterministic (points processed in lexicographic order). Returns a
    list of (i, j, k) index triples into ``pts``. Near-degenerate
    circumcircle tests use a relative epsilon; exactly-cocircular quads
    pick a diagonal deterministically from the insertion order."""
    n = len(pts)
    if n < 3:
        return []
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    span = max(pts[:, 0].ptp(), pts[:, 1].ptp(), 1.0)
    cx0, cy0 = pts[:, 0].mean(), pts[:, 1].mean()
    m = 64.0 * span
    sup = np.array([[cx0 - 2 * m, cy0 - m], [cx0 + 2 * m, cy0 - m],
                    [cx0, cy0 + 2 * m]])
    allp = np.vstack([pts, sup])
    s0, s1, s2 = n, n + 1, n + 2
    tris = [(s0, s1, s2)]

    def circum_contains(tri, p):
        a, b, c = allp[tri[0]], allp[tri[1]], allp[tri[2]]
        d = 2.0 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1])
                   + c[0] * (a[1] - b[1]))
        if d == 0:
            return False
        a2, b2, c2 = a @ a, b @ b, c @ c
        ux = (a2 * (b[1] - c[1]) + b2 * (c[1] - a[1])
              + c2 * (a[1] - b[1])) / d
        uy = (a2 * (c[0] - b[0]) + b2 * (a[0] - c[0])
              + c2 * (b[0] - a[0])) / d
        r2 = (a[0] - ux) ** 2 + (a[1] - uy) ** 2
        d2 = (p[0] - ux) ** 2 + (p[1] - uy) ** 2
        return d2 < r2 * (1.0 - 1e-12)

    for pi in order:
        p = allp[pi]
        bad = [t for t in tris if circum_contains(t, p)]
        if not bad:
            # numerically on a circumcircle boundary of no triangle —
            # insert into the containing triangle instead
            for t in tris:
                a, b, c = allp[t[0]], allp[t[1]], allp[t[2]]
                d1 = (p[0]-a[0])*(b[1]-a[1]) - (p[1]-a[1])*(b[0]-a[0])
                d2 = (p[0]-b[0])*(c[1]-b[1]) - (p[1]-b[1])*(c[0]-b[0])
                d3 = (p[0]-c[0])*(a[1]-c[1]) - (p[1]-c[1])*(a[0]-c[0])
                if (d1 <= 0 and d2 <= 0 and d3 <= 0) or \
                        (d1 >= 0 and d2 >= 0 and d3 >= 0):
                    bad = [t]
                    break
            if not bad:
                continue
        # polygonal hole boundary = edges appearing in exactly one bad tri
        edge_count = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                key = (min(e), max(e))
                edge_count[key] = edge_count.get(key, 0) + 1
        boundary = [e for e, c in edge_count.items() if c == 1]
        tris = [t for t in tris if t not in bad]
        for e in boundary:
            tris.append((e[0], e[1], pi))
    # drop super-triangle incident triangles
    return [t for t in tris if all(v < n for v in t)]


def delaunay_triangles(rg: RaggedGeometry):
    """Delaunay triangulation of each geometry's unique vertices
    (GeoPandas 1.0 ``delaunay_triangles``): returns a MultiPolygon whose
    parts are the CCW triangles (shapely returns a GeometryCollection;
    a typed Multi* is the engine's collection convention for
    homogeneous parts). <3 unique points → empty polygon."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, _, _ = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        pts = np.unique(np.column_stack([np.asarray(xs, float),
                                         np.asarray(ys, float)]), axis=0)
        tris = _bowyer_watson(pts) if len(pts) >= 3 else []
        if not tris:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        nx, ny, nr, npart = [], [], [], []
        # deterministic part order: sort by vertex indices
        for t in sorted(tuple(sorted(t)) for t in tris):
            a, b, c = pts[t[0]], pts[t[1]], pts[t[2]]
            # CCW orientation
            if (b[0]-a[0])*(c[1]-a[1]) - (b[1]-a[1])*(c[0]-a[0]) < 0:
                b, c = c, b
            nx.extend([a[0], b[0], c[0], a[0]])
            ny.extend([a[1], b[1], c[1], a[1]])
            nr.append(4); npart.append(1)
        gts.append(MULTIPOLYGON if len(npart) > 1 else POLYGON)
        oxs.append(nx); oys.append(ny); orings.append(nr)
        oparts.append(npart)
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def concave_hull(rg: RaggedGeometry, ratio: float = 0.0,
                 max_edge_length: float | None = None):
    """Concave hull of each geometry's unique vertices (GeoPandas 1.0 /
    shapely 2 ``concave_hull``; the chi-shape of Park & Oh 2012, the
    algorithm behind JTS/GEOS ConcaveHull — public papers/code studied
    for semantics only).

    Peels Delaunay border triangles whose border edge exceeds the target
    length, but only while removal keeps the boundary a simple ring: a
    triangle is removable iff its vertex opposite the border edge is not
    already on the boundary (so vertices are never abandoned and the
    region stays simply connected). Target length = emin + ratio *
    (emax - emin) over all triangulation edges (ratio=1 → convex hull,
    ratio=0 → maximally concave), or an absolute ``max_edge_length``
    (JTS ``concaveHullByLength``). Every input point ends up inside or
    on the hull. <3 unique points → POINT / LINESTRING; collinear →
    LINESTRING over the extent."""
    import heapq
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, _, _ = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        pts = np.unique(np.column_stack([np.asarray(xs, float),
                                         np.asarray(ys, float)]), axis=0)
        if len(pts):
            # snap to a span-relative grid before triangulating —
            # denormal/near-duplicate coordinates (found by hypothesis)
            # otherwise feed the circumcircle test degenerate slivers
            span = max(float(np.ptp(pts[:, 0])),
                       float(np.ptp(pts[:, 1])), 1.0)
            q = span * 1e-9
            pts = np.unique(np.round(pts / q) * q, axis=0)
        n = len(pts)
        if n == 0:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        if n == 1:
            gts.append(POINT); oxs.append([pts[0, 0]])
            oys.append([pts[0, 1]]); orings.append([1]); oparts.append([1])
            continue
        tris = _bowyer_watson(pts) if n >= 3 else []
        if not tris:
            # 2 points or all collinear: the extent line (lex order)
            gts.append(LINESTRING)
            oxs.append([pts[0, 0], pts[-1, 0]])
            oys.append([pts[0, 1], pts[-1, 1]])
            orings.append([2]); oparts.append([1])
            continue
        tris = [tuple(sorted(t)) for t in tris]
        edge_tris: dict = {}
        for ti, t in enumerate(tris):
            for e in ((t[0], t[1]), (t[1], t[2]), (t[0], t[2])):
                edge_tris.setdefault(e, []).append(ti)

        def elen(e):
            d = pts[e[0]] - pts[e[1]]
            return float(np.hypot(d[0], d[1]))

        lens = {e: elen(e) for e in edge_tris}
        if max_edge_length is not None:
            thr = float(max_edge_length)
        else:
            emin, emax = min(lens.values()), max(lens.values())
            thr = emin + float(ratio) * (emax - emin)
        alive = set(range(len(tris)))
        border0 = [e for e, ts in edge_tris.items() if len(ts) == 1]
        bvert = {v for e in border0 for v in e}
        heap = [(-lens[e], e) for e in border0]
        heapq.heapify(heap)
        while heap:
            negl, e = heapq.heappop(heap)
            if -negl <= thr:
                break
            ts = [t for t in edge_tris[e] if t in alive]
            if len(ts) != 1:
                continue                      # stale (triangle removed)
            ti = ts[0]
            if len(alive) == 1:
                break
            t = tris[ti]
            c = next(v for v in t if v not in e)
            if c in bvert:
                continue                      # irregular: would pinch
            alive.remove(ti)
            bvert.add(c)
            for ne in ((min(e[0], c), max(e[0], c)),
                       (min(e[1], c), max(e[1], c))):
                heapq.heappush(heap, (-lens[ne], ne))
        # trace the boundary ring (every boundary vertex has degree 2)
        adj: dict = {}
        for e, ts in edge_tris.items():
            if sum(1 for t in ts if t in alive) == 1:
                adj.setdefault(e[0], []).append(e[1])
                adj.setdefault(e[1], []).append(e[0])
        start = min(adj)
        ring = [start]
        prev, cur = None, start
        while True:
            nxts = [v for v in sorted(adj[cur]) if v != prev]
            nxt = nxts[0] if nxts else prev
            if nxt == start:
                break
            ring.append(nxt)
            prev, cur = cur, nxt
        rx = [pts[v][0] for v in ring]
        ry = [pts[v][1] for v in ring]
        area2 = sum(rx[j] * ry[(j + 1) % len(ring)]
                    - rx[(j + 1) % len(ring)] * ry[j]
                    for j in range(len(ring)))
        # numerical-degeneracy guard: a correct chi-shape is a subset of
        # the convex hull, so its area can never exceed the hull's. A
        # near-degenerate sliver triangulation (found by hypothesis) can
        # break the boundary trace — fall back to the monotone-chain
        # hull, the conservative superset.
        hull = pts[_chain(pts[:, 0].tolist(), pts[:, 1].tolist())]
        hull_area2 = abs(sum(
            hull[j][0] * hull[(j + 1) % len(hull)][1]
            - hull[(j + 1) % len(hull)][0] * hull[j][1]
            for j in range(len(hull)))) if len(hull) >= 3 else 0.0
        if len(hull) >= 3 and abs(area2) > hull_area2 * (1 + 1e-9):
            rx = [p[0] for p in hull]
            ry = [p[1] for p in hull]
            area2 = hull_area2
        if area2 < 0:
            rx.reverse(); ry.reverse()
        rx.append(rx[0]); ry.append(ry[0])
        gts.append(POLYGON); oxs.append(rx); oys.append(ry)
        orings.append([len(rx)]); oparts.append([1])
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def normalize(rg: RaggedGeometry):
    """Canonical vertex ordering (shapely/GEOS ``normalize`` purpose:
    equal geometries normalize to identical structure). This engine's
    canonical form — the same one ``geom_equals`` compares by — is:
    multipoints sorted; each line part flipped to its lexicographically
    smaller direction, parts sorted; polygon rings CCW starting at their
    smallest vertex, holes sorted, parts sorted. (GEOS's own convention
    differs in orientation sign; ours is self-consistent:
    normalize(a) == normalize(b) structurally iff geom_equals(a, b).)"""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        gt, xs, ys, rings, parts = rg.geom(i)
        if gt == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if gt in (POINT, MULTIPOINT):
            pts = sorted(zip(xs.tolist(), ys.tolist()))
            gts.append(gt); oxs.append([p[0] for p in pts])
            oys.append([p[1] for p in pts])
            orings.append([1] * len(pts)); oparts.append([1] * len(pts))
            continue
        if gt in (LINESTRING, MULTILINESTRING):
            out, off = [], 0
            for rl in rings:
                fwd = list(zip(xs[off:off + rl].tolist(),
                               ys[off:off + rl].tolist()))
                out.append(min(fwd, fwd[::-1]))
                off += rl
            out.sort()
            gts.append(gt)
            oxs.append([p[0] for part in out for p in part])
            oys.append([p[1] for part in out for p in part])
            orings.append([len(part) for part in out])
            oparts.append([1] * len(out))
            continue
        poff = coff = 0
        parts_out = []
        for nr in parts:
            rs = []
            for j in range(nr):
                rl = rings[poff + j]
                rs.append(_canon_ring(xs[coff:coff + rl],
                                      ys[coff:coff + rl]))
                coff += rl
            parts_out.append([rs[0]] + sorted(rs[1:]) if rs else [])
            poff += nr
        parts_out.sort(key=lambda p: p[0] if p else ())
        nx, ny, nr_, np_ = [], [], [], []
        for p in parts_out:
            np_.append(len(p))
            for r in p:
                closed = list(r) + [r[0]] if r else []
                nr_.append(len(closed))
                nx.extend(v[0] for v in closed)
                ny.extend(v[1] for v in closed)
        gts.append(gt); oxs.append(nx); oys.append(ny)
        orings.append(nr_); oparts.append(np_)
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def node_lines(rg: RaggedGeometry):
    """Fully node each geometry's linework (shapely/GEOS ``node``):
    mutually intersect all segments and return the unique sub-edges as a
    MultiLineString — every crossing and touch becomes an endpoint.
    Original vertices remain nodes (GEOS keeps them too); collinear
    chains between nodes are not re-merged (compose with ``line_merge``
    for that). Deterministic lexicographic edge order."""
    from . import boolean as _bool
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g = rg.geom(i)
        if g[0] == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        ax, ay, bx, by = _bool._line_segments(g)
        if ax.size == 0:
            gts.append(MULTILINESTRING); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        span = max(1.0, float(np.abs(ax).max()), float(np.abs(ay).max()),
                   float(np.abs(bx).max()), float(np.abs(by).max()))
        quant = 1e-9 * span
        pi, pj = _bool._grid_pairs(ax, ay, bx, by)
        if pi.size:
            seg_idx, ts = _bool._split_params_batch(ax, ay, bx, by, pi, pj)
        else:
            seg_idx, ts = np.empty(0, np.int64), np.empty(0)
        px, py, qx, qy = _bool._subdivide(ax, ay, bx, by, seg_idx, ts)
        ok = np.hypot(qx - px, qy - py) > 0
        px, py, qx, qy = px[ok], py[ok], qx[ok], qy[ok]
        und = {}
        for k in range(px.size):
            ka = (round(px[k] / quant), round(py[k] / quant))
            kb = (round(qx[k] / quant), round(qy[k] / quant))
            if ka == kb:
                continue
            key = (min(ka, kb), max(ka, kb))
            und[key] = min(und.get(key, ((px[k], py[k]), (qx[k], qy[k]))),
                           ((px[k], py[k]), (qx[k], qy[k])))
        edges = sorted(und.values())
        nx, ny = [], []
        for (p, q) in edges:
            a, b = min(p, q), max(p, q)
            nx.extend([a[0], b[0]]); ny.extend([a[1], b[1]])
        gts.append(MULTILINESTRING); oxs.append(nx); oys.append(ny)
        orings.append([2] * len(edges)); oparts.append([1] * len(edges))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def make_valid(rg: RaggedGeometry):
    """Repair invalid polygonal geometry (shapely/GEOS ``make_valid``,
    linework strategy): node the boundary, walk the faces of the
    arrangement (geom/boolean.polygonize), and keep each face whose
    interior lies inside an ODD number of original rings — the even-odd
    rule. A bowtie splits into two triangles, a self-overlap collapses
    to single coverage, an island wrongly encoded as a second shell
    becomes a true hole. Valid inputs round-trip (modulo vertex order);
    points and lines pass through unchanged."""
    from . import boolean as _bool
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g = rg.geom(i)
        gt = g[0]
        if gt == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if gt not in (POLYGON, MULTIPOLYGON) or len(g[1]) == 0:
            gts.append(gt); oxs.append(list(g[1])); oys.append(list(g[2]))
            orings.append(list(g[3])); oparts.append(list(g[4]))
            continue
        faces = _bool.polygonize(g)
        if faces is None:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        # original rings for the parity test
        rx_list = []
        off = 0
        for rl in g[3]:
            rx_list.append((np.asarray(g[1][off:off + rl], float),
                            np.asarray(g[2][off:off + rl], float)))
            off += rl
        fgt, fxs, fys, frings, fparts = faces
        keep_parts = []
        roff = coff = 0
        for nr in fparts:
            rls = frings[roff:roff + nr]
            ncoord = int(np.sum(rls))
            part = (POLYGON, fxs[coff:coff + ncoord],
                    fys[coff:coff + ncoord], rls,
                    np.asarray([nr], np.int32))
            sub = RaggedGeometry.from_pylists(
                [POLYGON], [list(part[1])], [list(part[2])],
                [list(rls)], [[int(nr)]])
            rpx, rpy = representative_point(sub)
            cnt = sum(1 for (rxx, ryy) in rx_list
                      if _ring_contains_point(rxx, ryy,
                                              float(rpx[0]), float(rpy[0])))
            if cnt % 2 == 1:
                keep_parts.append(part)
            roff += nr
            coff += ncoord
        if not keep_parts:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        nx, ny, nr_, np_ = [], [], [], []
        for p in keep_parts:
            np_.append(len(p[3]))
            nr_.extend(int(v) for v in p[3])
            nx.extend(p[1]); ny.extend(p[2])
        gt_out = POLYGON if len(keep_parts) == 1 else MULTIPOLYGON
        if gt_out == POLYGON:
            np_ = [len(nr_)]
        gts.append(gt_out); oxs.append(nx); oys.append(ny)
        orings.append(nr_); oparts.append(np_)
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def _split_line_by_points(g, pts, eps):
    """Pieces of a lineish tuple cut at every splitter point lying on it
    (within eps). Returns [(xs, ys), ...] per piece."""
    out = []
    off = 0
    for rl in g[3]:
        xs = np.asarray(g[1][off:off + rl], float)
        ys = np.asarray(g[2][off:off + rl], float)
        off += int(rl)
        if rl < 2:
            continue
        cur_x, cur_y = [float(xs[0])], [float(ys[0])]
        for j in range(int(rl) - 1):
            ax, ay = float(xs[j]), float(ys[j])
            bx, by = float(xs[j + 1]), float(ys[j + 1])
            dx, dy = bx - ax, by - ay
            l2 = dx * dx + dy * dy
            cuts = []
            for (px, py) in pts:
                if l2 == 0:
                    continue
                t = ((px - ax) * dx + (py - ay) * dy) / l2
                if -eps <= t <= 1 + eps:
                    qx, qy = ax + t * dx, ay + t * dy
                    if np.hypot(qx - px, qy - py) <= eps:
                        cuts.append((min(max(t, 0.0), 1.0), px, py))
            for t, px, py in sorted(cuts):
                if abs(px - cur_x[-1]) <= eps and abs(py - cur_y[-1]) <= eps:
                    continue          # cut at the running start point
                cur_x.append(px); cur_y.append(py)
                out.append((cur_x, cur_y))
                cur_x, cur_y = [px], [py]
            if abs(bx - cur_x[-1]) > eps or abs(by - cur_y[-1]) > eps:
                cur_x.append(bx); cur_y.append(by)
        if len(cur_x) >= 2:
            out.append((cur_x, cur_y))
    return out


def split_geometry(rg: RaggedGeometry, rs: RaggedGeometry):
    """Row-aligned shapely ``ops.split`` / PostGIS ``ST_Split``:

    - polygon ÷ line — node the polygon boundary with the splitter and
      polygonize (the arrangement engine); faces whose representative
      point lies inside the original polygon are the pieces;
    - line ÷ point(s) — cut at each splitter point on the line;
    - line ÷ line — cut at the crossing points (boolean kernel).

    Pieces return as the matching Multi* (homogeneous-pieces deviation
    from shapely's GeometryCollection wrapper, doc'd); a splitter that
    doesn't cut returns the input unchanged. Other type pairs raise."""
    from . import boolean as _bool
    from .ragged import MULTILINESTRING as MLS
    gts, oxs, oys, orings, oparts = [], [], [], [], []

    def emit(gt, xs, ys, rings, parts):
        gts.append(gt); oxs.append(xs); oys.append(ys)
        orings.append(rings); oparts.append(parts)

    def emit_tuple(g):
        emit(int(g[0]), list(g[1]), list(g[2]),
             [int(v) for v in g[3]], [int(v) for v in g[4]])

    def emit_line_pieces(pieces, g):
        if len(pieces) <= 1:
            emit_tuple(g)
            return
        nx, ny, nr = [], [], []
        for xs, ys in pieces:
            nx.extend(xs); ny.extend(ys); nr.append(len(xs))
        emit(MLS, nx, ny, nr, [1] * len(nr))

    for i in range(len(rg)):
        g = rg.geom(i)
        s = rs.geom(i)
        if g[0] == MISSING or s[0] == MISSING:
            emit(None, None, None, None, None)
            continue
        span = 1.0
        if len(g[1]):
            span = max(1.0,
                       float(np.ptp(g[1])) if len(g[1]) else 1.0,
                       float(np.ptp(g[2])) if len(g[2]) else 1.0)
        eps = 1e-9 * span
        if g[0] in (POLYGON, MULTIPOLYGON) and s[0] in (LINESTRING,
                                                        MULTILINESTRING):
            # combined linework: boundary rings + splitter parts
            nx = list(g[1]) + list(s[1])
            ny = list(g[2]) + list(s[2])
            nr = [int(v) for v in g[3]] + [int(v) for v in s[3]]
            combined = (MLS, np.asarray(nx, float), np.asarray(ny, float),
                        np.asarray(nr, np.int32),
                        np.asarray([1] * len(nr), np.int32))
            faces = _bool.polygonize(combined)
            if faces is None:
                emit_tuple(g)
                continue
            fxs, fys, frings, fparts = faces[1], faces[2], faces[3], faces[4]
            keep = []
            roff = coff = 0
            for npr in fparts:
                rls = frings[roff:roff + npr]
                ncoord = int(np.sum(rls))
                sub = RaggedGeometry.from_pylists(
                    [POLYGON], [list(fxs[coff:coff + ncoord])],
                    [list(fys[coff:coff + ncoord])],
                    [[int(v) for v in rls]], [[int(npr)]])
                rpx, rpy = representative_point(sub)
                if point_in_polygon(float(rpx[0]), float(rpy[0]),
                                    g[1], g[2], g[3], g[4]):
                    keep.append((list(fxs[coff:coff + ncoord]),
                                 list(fys[coff:coff + ncoord]),
                                 [int(v) for v in rls]))
                roff += npr
                coff += ncoord
            if len(keep) <= 1:
                emit_tuple(g)
                continue
            nx2, ny2, nr2, np2 = [], [], [], []
            for xs, ys, rls in keep:
                nx2.extend(xs); ny2.extend(ys); nr2.extend(rls)
                np2.append(len(rls))
            emit(MULTIPOLYGON, nx2, ny2, nr2, np2)
        elif g[0] in (LINESTRING, MULTILINESTRING) \
                and s[0] in (POINT, MULTIPOINT):
            pts = list(zip(np.asarray(s[1], float).tolist(),
                           np.asarray(s[2], float).tolist()))
            emit_line_pieces(_split_line_by_points(g, pts, eps), g)
        elif g[0] in (LINESTRING, MULTILINESTRING) \
                and s[0] in (LINESTRING, MULTILINESTRING):
            cross = _bool._line_line_points(g, s, eps)
            pts = list(zip(np.asarray(cross[1], float).tolist(),
                           np.asarray(cross[2], float).tolist()))
            emit_line_pieces(_split_line_by_points(g, pts, eps), g)
        else:
            raise ValueError(
                "split supports polygon/line, line/point and line/line "
                f"operand pairs; got types {g[0]}/{s[0]}")
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def build_area(rg: RaggedGeometry):
    """GEOS/PostGIS ``ST_BuildArea``: the areal geometry formed by a
    row's constituent linework. Faces come from the arrangement
    engine's polygonize; a face nested inside an ODD number of other
    faces is enclosed — it becomes a hole, not a shell — so only
    even-depth faces are kept (three nested rings → donut + filled
    core, the PostGIS example). Lines/collections in, polygonal out;
    rows closing no face → empty polygon."""
    from . import boolean as _bool
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g = rg.geom(i)
        if g[0] == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        t = _bool.polygonize(g)
        if t is None:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        # split faces into parts with their exterior rings + a probe pt
        fxs, fys, frings, fparts = t[1], t[2], t[3], t[4]
        parts = []
        roff = coff = 0
        for nr in fparts:
            rls = frings[roff:roff + nr]
            ncoord = int(np.sum(rls))
            sub = RaggedGeometry.from_pylists(
                [POLYGON], [list(fxs[coff:coff + ncoord])],
                [list(fys[coff:coff + ncoord])],
                [[int(v) for v in rls]], [[int(nr)]])
            rpx, rpy = representative_point(sub)
            n0 = int(rls[0])
            parts.append({
                "xs": fxs[coff:coff + ncoord],
                "ys": fys[coff:coff + ncoord],
                "rings": [int(v) for v in rls],
                "ext": (np.asarray(fxs[coff:coff + n0], float),
                        np.asarray(fys[coff:coff + n0], float)),
                "rp": (float(rpx[0]), float(rpy[0]))})
            roff += nr
            coff += ncoord
        keep = []
        for a, pa in enumerate(parts):
            depth = sum(
                1 for b, pb in enumerate(parts)
                if b != a and _ring_contains_point(
                    pb["ext"][0], pb["ext"][1], *pa["rp"]))
            if depth % 2 == 0:
                keep.append(pa)
        if not keep:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        nx, ny, nr_, np_ = [], [], [], []
        for pa in keep:
            np_.append(len(pa["rings"]))
            nr_.extend(pa["rings"])
            nx.extend(pa["xs"]); ny.extend(pa["ys"])
        gt_out = POLYGON if len(keep) == 1 else MULTIPOLYGON
        if gt_out == POLYGON:
            np_ = [len(nr_)]
        gts.append(gt_out); oxs.append(nx); oys.append(ny)
        orings.append(nr_); oparts.append(np_)
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def _ring_contains_point(rx, ry, px, py):
    """Even-odd ray cast of one point against one ring (non-inclusive of
    degenerate boundary cases — make_valid probes are interior points)."""
    x1, y1, x2, y2 = rx[:-1], ry[:-1], rx[1:], ry[1:]
    crossing = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return bool((crossing & (px < xint)).sum() % 2)


def offset_curve(rg: RaggedGeometry, distance: float, quad_segs: int = 8):
    """GEOS/GeoPandas ``offset_curve``: each line offset perpendicular
    by ``distance`` — positive to the LEFT of the traversal direction,
    negative to the right; direction preserved (GEOS >= 3.11 semantics).
    Outer joins are round (``quad_segs`` chords per quarter circle, the
    buffer-arc convention); inner joins meet at the offset-line
    intersection (miter). Like GEOS, the result is not re-noded, so an
    offset larger than a local feature can self-intersect. Non-line
    rows pass through unchanged; distance 0 copies the input."""
    d = float(distance)
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        gt, xs, ys, rings, parts = rg.geom(i)
        if gt == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if gt not in (LINESTRING, MULTILINESTRING) or d == 0.0 \
                or len(xs) == 0:
            gts.append(gt); oxs.append(list(xs)); oys.append(list(ys))
            orings.append(list(rings)); oparts.append(list(parts))
            continue
        nx, ny, nr = [], [], []
        off = 0
        for rl in rings:
            rx = np.asarray(xs[off:off + rl], float)
            ry = np.asarray(ys[off:off + rl], float)
            off += rl
            # drop zero-length duplicate steps
            keep = np.r_[True, (np.diff(rx) != 0) | (np.diff(ry) != 0)]
            rx, ry = rx[keep], ry[keep]
            m = rx.size
            if m < 2:
                nx.extend(rx); ny.extend(ry); nr.append(int(m))
                continue
            dx, dy = np.diff(rx), np.diff(ry)
            ln = np.hypot(dx, dy)
            ux, uy = dx / ln, dy / ln
            # left normal scaled by the signed distance
            nxv, nyv = -uy * d, ux * d
            cx, cy = [rx[0] + nxv[0]], [ry[0] + nyv[0]]
            for k in range(1, m - 1):
                a1x, a1y = rx[k] + nxv[k - 1], ry[k] + nyv[k - 1]
                b0x, b0y = rx[k] + nxv[k], ry[k] + nyv[k]
                cross = ux[k - 1] * uy[k] - uy[k - 1] * ux[k]
                dot = ux[k - 1] * ux[k] + uy[k - 1] * uy[k]
                turn = math.atan2(cross, dot)
                if cross * d < 0:
                    # outer side: round join sweeping the turn angle
                    a0 = math.atan2(nyv[k - 1], nxv[k - 1])
                    nstep = max(1, int(math.ceil(
                        abs(turn) / (math.pi / 2) * quad_segs)))
                    cx.append(a1x); cy.append(a1y)
                    for s in range(1, nstep):
                        a = a0 + turn * s / nstep
                        cx.append(rx[k] + abs(d) * math.cos(a))
                        cy.append(ry[k] + abs(d) * math.sin(a))
                    cx.append(b0x); cy.append(b0y)
                elif abs(cross) > 1e-12:
                    # inner side: offset-line intersection (miter)
                    denom = ux[k - 1] * uy[k] - uy[k - 1] * ux[k]
                    t = ((b0x - a1x) * uy[k] - (b0y - a1y) * ux[k]) / denom
                    cx.append(a1x + t * ux[k - 1])
                    cy.append(a1y + t * uy[k - 1])
                else:
                    cx.append(a1x); cy.append(a1y)  # straight through
            cx.append(rx[-1] + nxv[-1]); cy.append(ry[-1] + nyv[-1])
            nx.extend(cx); ny.extend(cy); nr.append(len(cx))
        gts.append(gt); oxs.append(nx); oys.append(ny)
        orings.append(nr)
        oparts.append([1] * len(nr) if gt == MULTILINESTRING
                      else list(parts))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def snap(r1: RaggedGeometry, r2: RaggedGeometry, tolerance: float):
    """Row-aligned GEOS ``snap``: vertices of g1 within ``tolerance`` of
    a g2 vertex move onto the nearest one, then g2 vertices lying within
    ``tolerance`` of a g1 segment's interior are inserted into it (the
    two phases of GEOS's LineStringSnapper). Consecutive duplicates
    collapse; ring closure is preserved. Like GEOS, the result is not
    re-validated — snapping can produce invalid geometry at extreme
    tolerances."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    tol = float(tolerance)
    for i in range(len(r1)):
        g1 = r1.geom(i)
        g2 = r2.geom(i)
        if g1[0] == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        gt, xs, ys, rings, parts = g1
        if g2[0] == MISSING or len(g2[1]) == 0 or len(xs) == 0:
            gts.append(gt); oxs.append(list(xs)); oys.append(list(ys))
            orings.append(list(rings)); oparts.append(list(parts))
            continue
        tx = np.asarray(g2[1], float)
        ty = np.asarray(g2[2], float)
        nx, ny, nr = [], [], []
        off = 0
        for rl in rings:
            rx = np.asarray(xs[off:off + rl], float)
            ry = np.asarray(ys[off:off + rl], float)
            off += rl
            closed = rl >= 3 and rx[0] == rx[-1] and ry[0] == ry[-1]
            if closed:
                rx, ry = rx[:-1], ry[:-1]
            # phase 1: vertex -> nearest target vertex within tolerance
            d2 = ((rx[:, None] - tx[None, :]) ** 2
                  + (ry[:, None] - ty[None, :]) ** 2)
            j = d2.argmin(axis=1)
            hit = d2[np.arange(rx.size), j] <= tol * tol
            rx = np.where(hit, tx[j], rx)
            ry = np.where(hit, ty[j], ry)
            # phase 2: insert target vertices onto segment interiors
            ox, oy = [], []
            m = rx.size
            nseg = m if closed else m - 1
            for k in range(m):
                ox.append(rx[k]); oy.append(ry[k])
                if k >= nseg:
                    continue
                k2 = (k + 1) % m
                dx, dy = rx[k2] - rx[k], ry[k2] - ry[k]
                l2 = dx * dx + dy * dy
                if l2 <= 0:
                    continue
                t = ((tx - rx[k]) * dx + (ty - ry[k]) * dy) / l2
                px = tx - (rx[k] + t * dx)
                py = ty - (ry[k] + t * dy)
                near = ((px * px + py * py <= tol * tol)
                        & (t > 0) & (t < 1))
                # skip targets already coincident with either endpoint
                near &= ~(((tx == rx[k]) & (ty == ry[k]))
                          | ((tx == rx[k2]) & (ty == ry[k2])))
                if near.any():
                    idx = np.flatnonzero(near)
                    for q in idx[np.argsort(t[idx], kind="stable")]:
                        ox.append(tx[q]); oy.append(ty[q])
            # collapse consecutive duplicates
            cx, cy = [ox[0]], [oy[0]]
            for k in range(1, len(ox)):
                if ox[k] != cx[-1] or oy[k] != cy[-1]:
                    cx.append(ox[k]); cy.append(oy[k])
            if closed:
                if cx[0] == cx[-1] and cy[0] == cy[-1] and len(cx) > 1:
                    cx.pop(); cy.pop()
                cx.append(cx[0]); cy.append(cy[0])
            nx.extend(cx); ny.extend(cy); nr.append(len(cx))
        gts.append(gt); oxs.append(nx); oys.append(ny)
        orings.append(nr); oparts.append(list(parts))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def polygonize(rg: RaggedGeometry):
    """Faces of each geometry's noded line arrangement (GEOS/shapely
    ``polygonize`` applied per row): noding, dangle/cut-edge trimming,
    minimal-face walking and cross-component hole assignment live in
    geom/boolean.polygonize (the arrangement engine's machinery). Rows
    whose lines close no face → empty polygon."""
    from . import boolean as _bool
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g = rg.geom(i)
        if g[0] == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        t = _bool.polygonize(g)
        if t is None:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        gts.append(t[0]); oxs.append(list(t[1])); oys.append(list(t[2]))
        orings.append(list(t[3])); oparts.append(list(t[4]))
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def voronoi_polygons(rg: RaggedGeometry, extend: float = 2.0):
    """Voronoi diagram of each geometry's unique vertices (GeoPandas 1.0
    ``voronoi_polygons``): the dual of the Delaunay triangulation. Each
    cell is the intersection of the half-planes toward its neighbors,
    clipped to the point set's bbox expanded by ``extend`` × its span
    (shapely clips to an enlarged envelope the same way). Returns a
    MultiPolygon with one CCW cell per unique input point, in
    lexicographic point order — the cells PARTITION the clip envelope
    (area sum == envelope area), which is what the oracle checks.
    <1 unique point → empty; 1 point → the whole envelope."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, _, _ = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        pts = np.unique(np.column_stack([np.asarray(xs, float),
                                         np.asarray(ys, float)]), axis=0)
        n = len(pts)
        if n == 0:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        span = max(pts[:, 0].ptp(), pts[:, 1].ptp(), 1.0)
        pad = extend * span
        ex0, ey0 = pts[:, 0].min() - pad, pts[:, 1].min() - pad
        ex1, ey1 = pts[:, 0].max() + pad, pts[:, 1].max() + pad
        cells_x, cells_y, nr, npart = [], [], [], []
        for p in pts:
            # start from the envelope, cut by the bisector half-plane
            # toward every other point (Sutherland–Hodgman per cut) —
            # O(n) cuts per cell; exact for the small per-row point sets
            # this operator targets
            cx = [ex0, ex1, ex1, ex0]
            cy = [ey0, ey0, ey1, ey1]
            for q in pts:
                if q[0] == p[0] and q[1] == p[1]:
                    continue
                # keep side: points closer to p than q →
                # dot(x - mid, q - p) <= 0
                mx, my = (p[0] + q[0]) / 2.0, (p[1] + q[1]) / 2.0
                nx_, ny_ = q[0] - p[0], q[1] - p[1]
                out_x, out_y = [], []
                m = len(cx)
                for j in range(m):
                    x1, y1 = cx[j], cy[j]
                    x2, y2 = cx[(j + 1) % m], cy[(j + 1) % m]
                    d1 = (x1 - mx) * nx_ + (y1 - my) * ny_
                    d2 = (x2 - mx) * nx_ + (y2 - my) * ny_
                    if d1 <= 0:
                        out_x.append(x1); out_y.append(y1)
                    if (d1 < 0 < d2) or (d2 < 0 < d1):
                        t = d1 / (d1 - d2)
                        out_x.append(x1 + t * (x2 - x1))
                        out_y.append(y1 + t * (y2 - y1))
                cx, cy = out_x, out_y
                if len(cx) < 3:
                    break
            if len(cx) >= 3:
                cells_x.append(cx + [cx[0]])
                cells_y.append(cy + [cy[0]])
        if not cells_x:
            gts.append(POLYGON); oxs.append([]); oys.append([])
            orings.append([]); oparts.append([])
            continue
        fx, fy = [], []
        for cx, cy in zip(cells_x, cells_y):
            fx.extend(cx); fy.extend(cy)
            nr.append(len(cx)); npart.append(1)
        gts.append(MULTIPOLYGON if len(npart) > 1 else POLYGON)
        oxs.append(fx); oys.append(fy); orings.append(nr)
        oparts.append(npart)
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


# ---------------------------------------------------------------------------
# Subdivide (PostGIS ST_Subdivide)
# ---------------------------------------------------------------------------

def _poly_pieces(xs, ys, rings, parts, max_v, depth, pieces):
    """Recursively bbox-halve a (multi)polygon until every piece has at
    most ``max_v`` coordinates; terminal pieces are appended per single
    polygon part. Reuses the Sutherland-Hodgman ``clip_by_rect`` for the
    halving cut, so piece areas sum exactly to the input area (the two
    half-rect clips compute identical intersection points on the shared
    cut line)."""
    if len(xs) <= max_v or depth <= 0:
        off = 0
        ri = 0
        for nrings in parts:
            px, py, pr = [], [], []
            for j in range(nrings):
                rl = int(rings[ri + j])
                px.extend(np.asarray(xs[off:off + rl]).tolist())
                py.extend(np.asarray(ys[off:off + rl]).tolist())
                pr.append(rl)
                off += rl
            ri += int(nrings)
            pieces.append((px, py, pr))
        return
    xmin, xmax = float(np.min(xs)), float(np.max(xs))
    ymin, ymax = float(np.min(ys)), float(np.max(ys))
    if xmax - xmin >= ymax - ymin:
        mid = 0.5 * (xmin + xmax)
        rects = [(xmin, ymin, mid, ymax), (mid, ymin, xmax, ymax)]
    else:
        mid = 0.5 * (ymin + ymax)
        rects = [(xmin, ymin, xmax, mid), (xmin, mid, xmax, ymax)]
    gt_in = POLYGON if len(parts) == 1 else MULTIPOLYGON
    one = RaggedGeometry.from_pylists(
        [int(gt_in)], [np.asarray(xs).tolist()], [np.asarray(ys).tolist()],
        [np.asarray(rings).tolist()], [np.asarray(parts).tolist()])
    for rect in rects:
        sub = clip_by_rect(one, *rect)
        g2, x2, y2, r2, p2 = sub.geom(0)
        if g2 == MISSING or len(x2) == 0:
            continue
        _poly_pieces(x2, y2, r2, p2, max_v, depth - 1, pieces)


def subdivide(rg: RaggedGeometry, max_vertices: int = 128,
              max_depth: int = 24):
    """PostGIS ``ST_Subdivide``: split geometries whose coordinate count
    exceeds ``max_vertices`` into simpler pieces, returned as one
    Multi* per input row (compose with ``explode_parts`` for the
    set-returning PostGIS shape).

    - (Multi)Polygons: recursive bbox halving along the longer axis +
      rectangle clip; piece areas sum exactly to the input area.
    - (Multi)LineStrings: vertex-chunking into chained sub-lines of at
      most ``max_vertices`` points (consecutive chunks share their
      boundary vertex, so lengths sum exactly).
    - Points / small geometries pass through unchanged.

    ``max_depth`` bounds the polygon recursion (a piece still above the
    limit at depth 0 is emitted as-is rather than looping forever on
    pathological inputs).
    """
    max_v = max(8, int(max_vertices))
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if g in (POLYGON, MULTIPOLYGON) and len(xs) > max_v:
            pieces = []
            _poly_pieces(xs, ys, rings, parts, max_v, max_depth, pieces)
            if not pieces:
                gts.append(POLYGON); oxs.append([]); oys.append([])
                orings.append([]); oparts.append([])
                continue
            fx, fy, fr, fp = [], [], [], []
            for px, py, pr in pieces:
                fx.extend(px); fy.extend(py); fr.extend(pr)
                fp.append(len(pr))
            gts.append(int(MULTIPOLYGON if len(pieces) > 1 else POLYGON))
            oxs.append(fx); oys.append(fy); orings.append(fr)
            oparts.append(fp)
        elif g in (LINESTRING, MULTILINESTRING) and len(xs) > max_v:
            fx, fy, fr = [], [], []
            off = 0
            for rl in rings:
                rl = int(rl)
                x, y = xs[off:off + rl], ys[off:off + rl]
                start = 0
                while start < rl - 1:
                    end = min(start + max_v, rl)
                    fx.extend(x[start:end].tolist())
                    fy.extend(y[start:end].tolist())
                    fr.append(end - start)
                    if end == rl:
                        break
                    start = end - 1          # chain: share boundary vertex
                off += rl
            gts.append(int(MULTILINESTRING if len(fr) > 1 else LINESTRING))
            oxs.append(fx); oys.append(fy); orings.append(fr)
            oparts.append([1] * len(fr))
        else:
            gts.append(int(g)); oxs.append(np.asarray(xs).tolist())
            oys.append(np.asarray(ys).tolist())
            orings.append(np.asarray(rings).tolist())
            oparts.append(np.asarray(parts).tolist())
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def maximum_inscribed_circle_params(rg: RaggedGeometry, tolerance=None):
    """(cx, cy, radius, qx, qy) float64 arrays: the largest circle that
    fits inside each (multi)polygon — GEOS ``MaximumInscribedCircle`` /
    the Mapbox *polylabel* pole-of-inaccessibility, to within
    ``tolerance`` (default max(width, height)/1000, shapely's default).
    (qx, qy) is the boundary point nearest the center (the circle's
    radius witness). NaN rows for missing/empty/non-polygonal input.

    Two paths:

    CONVEX FAST PATH (exact, no tolerance): for single-ring polygons
    whose boundary turns consistently and has ≤ 16 distinct edges, the
    problem is the Chebyshev-center LP — maximize r subject to
    n_i·p + r ≤ b_i over the inward edge half-planes — whose optimum
    sits where 3 constraints are tight. All C(S,3) edge-triple 3×3
    systems for EVERY such polygon in the batch are solved in one
    batched ``np.linalg.solve`` call, feasibility-checked against all
    edges, and the max-r feasible candidate taken (first-argmax —
    deterministic). Exact to solver precision (~1e-15·scale), so
    closed-form oracles round stably.

    GENERAL PATH (polylabel): level-synchronous pruned grid — each
    round evaluates every surviving cell center's signed distance to
    the boundary in one vectorized pass (cells × segments), keeps
    cells whose bound d + half·√2 can still beat the incumbent by
    > tolerance, splits 4-way. Polygons whose optimal pole is a
    CONTINUUM (a centered-hole square has a 1-D ridge of equally-deep
    poles) would keep ridge/half cells alive, so each round keeps at
    most 4096 cells preferring larger d (deterministic (-d, index)
    order); for isolated optima the cap never binds and the tolerance
    guarantee is exact, and on ridges dropped and kept cells share the
    same depth so the radius still converges."""
    n = len(rg)
    out = np.full((5, n), np.nan)
    sqrt2 = math.sqrt(2.0)

    def _witness(i, ax, ay, bx, by, px, py):
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        l2s = np.where(l2 == 0, 1.0, l2)
        t = ((px - ax) * dx + (py - ay) * dy) / l2s
        np.clip(t, 0.0, 1.0, out=t)
        qx = ax + t * dx
        qy = ay + t * dy
        d2 = (px - qx) ** 2 + (py - qy) ** 2
        d2[l2 == 0] = np.inf
        j = int(np.argmin(d2))
        out[3, i], out[4, i] = qx[j], qy[j]

    # ---- classify ------------------------------------------------------
    convex_buckets = {}   # n_edges -> list of (i, ax, ay, bx, by, sign)
    general = []
    for i in range(n):
        gt, xs, ys, rings, parts = rg.geom(i)
        if gt not in (POLYGON, MULTIPOLYGON) or len(xs) == 0:
            continue
        routed = False
        if gt == POLYGON and len(rings) == 1 and rings[0] >= 4:
            ax, ay = xs[:-1], ys[:-1]
            bx, by = xs[1:], ys[1:]
            dx, dy = bx - ax, by - ay
            keep = (dx != 0) | (dy != 0)
            ax, ay, bx, by = ax[keep], ay[keep], bx[keep], by[keep]
            dx, dy = dx[keep], dy[keep]
            S = len(ax)
            if 3 <= S <= 16:
                cross = dx * np.roll(dy, -1) - dy * np.roll(dx, -1)
                area2 = float(np.sum(ax * by - bx * ay))
                if area2 != 0 and (np.all(cross >= 0) or
                                   np.all(cross <= 0)):
                    sign = 1.0 if area2 > 0 else -1.0  # CCW -> +1
                    convex_buckets.setdefault(S, []).append(
                        (i, ax, ay, bx, by, sign))
                    routed = True
        if not routed:
            general.append(i)

    # ---- convex fast path ---------------------------------------------
    from itertools import combinations
    for S, items in convex_buckets.items():
        m = len(items)
        AX = np.stack([it[1] for it in items])
        AY = np.stack([it[2] for it in items])
        BX = np.stack([it[3] for it in items])
        BY = np.stack([it[4] for it in items])
        SG = np.array([it[5] for it in items])[:, None]
        dx, dy = BX - AX, BY - AY
        L = np.hypot(dx, dy)
        # outward normal for CCW is (dy,-dx)/L; flip for CW rings
        nx = SG * dy / L
        ny = -SG * dx / L
        bvec = nx * AX + ny * AY            # (m, S)
        tri = np.array(list(combinations(range(S), 3)))   # (t, 3)
        t = len(tri)
        M = np.empty((m, t, 3, 3))
        M[..., 0] = np.stack([nx[:, tri[:, j]] for j in range(3)], axis=-1)
        M[..., 1] = np.stack([ny[:, tri[:, j]] for j in range(3)], axis=-1)
        M[..., 2] = 1.0
        rhs = np.stack([bvec[:, tri[:, j]] for j in range(3)], axis=-1)
        det = np.linalg.det(M)
        ok = np.abs(det) > 1e-12
        Ms = np.where(ok[..., None, None], M,
                      np.eye(3)[None, None, :, :])
        sol = np.linalg.solve(Ms, rhs[..., None])[..., 0]   # (m, t, 3)
        px, py, r = sol[..., 0], sol[..., 1], sol[..., 2]
        scale = np.maximum(np.abs(bvec).max(axis=1), 1.0)[:, None]
        slack = nx[:, None, :] * px[..., None] \
            + ny[:, None, :] * py[..., None] + r[..., None] \
            - bvec[:, None, :]                               # (m, t, S)
        feas = ok & (r >= 0) & np.all(slack <= 1e-9 * scale[..., None],
                                      axis=-1)
        r = np.where(feas, r, -np.inf)
        best = np.argmax(r, axis=1)
        for row, (i, ax, ay, bx, by, _) in enumerate(items):
            k = best[row]
            if not np.isfinite(r[row, k]):
                general.append(i)       # degenerate: fall through
                continue
            out[0, i], out[1, i] = px[row, k], py[row, k]
            out[2, i] = max(r[row, k], 0.0)
            _witness(i, ax, ay, bx, by, px[row, k], py[row, k])

    # ---- general path (pruned-grid polylabel) --------------------------
    for i in general:
        gt, xs, ys, rings, parts = rg.geom(i)
        ax, ay, bx, by = [], [], [], []
        coff = 0
        for rl in rings:
            ax.append(xs[coff:coff + rl - 1]); bx.append(xs[coff + 1:coff + rl])
            ay.append(ys[coff:coff + rl - 1]); by.append(ys[coff + 1:coff + rl])
            coff += rl
        ax = np.concatenate(ax); ay = np.concatenate(ay)
        bx = np.concatenate(bx); by = np.concatenate(by)
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        l2s = np.where(l2 == 0, 1.0, l2)
        dys = np.where(dy == 0, 1.0, dy)

        def signed(px, py):
            t = ((px[:, None] - ax) * dx + (py[:, None] - ay) * dy) / l2s
            np.clip(t, 0.0, 1.0, out=t)
            qx = ax + t * dx
            qy = ay + t * dy
            d2 = (px[:, None] - qx) ** 2 + (py[:, None] - qy) ** 2
            d2[:, l2 == 0] = np.inf if d2.shape[1] else 0
            crosses = (ay > py[:, None]) != (by > py[:, None])
            xint = ax + (py[:, None] - ay) * dx / dys
            parity = (crosses & (px[:, None] < xint)).sum(axis=1) % 2
            d = np.sqrt(d2.min(axis=1))
            return np.where(parity == 1, d, -d)

        minx, maxx = xs.min(), xs.max()
        miny, maxy = ys.min(), ys.max()
        w, h = maxx - minx, maxy - miny
        size = min(w, h)
        if size == 0.0:  # degenerate (zero-area) polygon
            out[0, i] = (minx + maxx) / 2.0
            out[1, i] = (miny + maxy) / 2.0
            out[2, i] = 0.0
            out[3, i] = out[0, i]; out[4, i] = out[1, i]
            continue
        tol = tolerance if tolerance is not None else max(w, h) / 1000.0
        half = size / 2.0
        gx = minx + (np.arange(int(np.ceil(w / size))) * size + half)
        gy = miny + (np.arange(int(np.ceil(h / size))) * size + half)
        cx = np.repeat(gx, len(gy))
        cy = np.tile(gy, len(gx))
        sx = np.array([xs.mean(), (minx + maxx) / 2.0])
        sy = np.array([ys.mean(), (miny + maxy) / 2.0])
        sd = signed(sx, sy)
        k = int(np.argmax(sd))
        best_d, best_x, best_y = sd[k], sx[k], sy[k]
        rounds = 0
        while len(cx) and rounds < 64:
            d = signed(cx, cy)
            k = int(np.argmax(d))
            if d[k] > best_d:
                best_d, best_x, best_y = d[k], cx[k], cy[k]
            keep_idx = np.flatnonzero((d + half * sqrt2 - best_d) > tol)
            if len(keep_idx) > 4096:
                order = np.lexsort((keep_idx, -d[keep_idx]))
                keep_idx = keep_idx[order[:4096]]
            cx, cy = cx[keep_idx], cy[keep_idx]
            half /= 2.0
            if len(cx):
                cx = np.concatenate([cx - half, cx + half, cx - half,
                                     cx + half])
                cy = np.concatenate([cy - half, cy - half, cy + half,
                                     cy + half])
            rounds += 1
        out[0, i], out[1, i] = best_x, best_y
        out[2, i] = max(best_d, 0.0)
        _witness(i, ax, ay, bx, by, np.float64(best_x),
                 np.float64(best_y))
    return out[0], out[1], out[2], out[3], out[4]
