"""Independent numpy oracle for every perfbench workload.

Nothing here imports arctic_spark: each expected signature comes from
plain numpy geometry on the generator's own coordinate arrays.

* ``pip_join``: an even-odd ray cast per (point, polygon) bbox
  candidate gives the match count and two integer key checksums.
* ``overlay``: both sides are convex, so Sutherland-Hodgman clipping is
  exact; it gives the piece count, total area and a key checksum.
* ``battery_rw``: the written files are re-read with pyarrow. The WKB
  must match the input byte for byte, and every metric column must
  match per row: shoelace area, perimeter, centroid, bounds, winding,
  Web Mercator area and monotone-chain hull area; the simplify vertex
  count and validity are known by construction.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-6           # float signatures: relative tolerance
KEY_MOD = 1_000_003      # second key checksum modulus
MERCATOR_R = 6378137.0


def shoelace_signed(xs, ys):
    """Signed area of closed rings, one per row of (n, m) arrays. The
    ring is moved to its first vertex first, so far-from-origin rings
    lose no digits to cancellation."""
    x, y = xs - xs[:, :1], ys - ys[:, :1]
    return 0.5 * np.sum(x[:, :-1] * y[:, 1:] - x[:, 1:] * y[:, :-1], axis=1)


def shoelace(xs, ys):
    return np.abs(shoelace_signed(xs, ys))


def _bbox(xs, ys):
    return xs.min(axis=1), ys.min(axis=1), xs.max(axis=1), ys.max(axis=1)


def bbox_pairs(a, b, pad=0.0, chunk=4096):
    """All (i, j) with box a[i] overlapping box b[j]; boxes are
    (x0, y0, x1, y1) tuples of arrays."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = (v[None, :] for v in b)
    out_i, out_j = [], []
    for s in range(0, len(ax0), chunk):
        sl = slice(s, s + chunk)
        hit = ((ax0[sl, None] <= bx1 + pad) & (bx0 - pad <= ax1[sl, None])
               & (ay0[sl, None] <= by1 + pad) & (by0 - pad <= ay1[sl, None]))
        i, j = np.nonzero(hit)
        out_i.append(i + s)
        out_j.append(j)
    return np.concatenate(out_i), np.concatenate(out_j)


# ---- pip_join -------------------------------------------------------------

def _point_pairs(px, py, xs, ys, pad=0.0):
    return bbox_pairs((px, py, px, py), _bbox(xs, ys), pad=pad)


def ray_cast(px, py, xs, ys):
    """Even-odd point-in-polygon for aligned rows: px/py (k,), rings
    (k, m) closed."""
    x1, y1 = xs[:, :-1], ys[:, :-1]
    x2, y2 = xs[:, 1:], ys[:, 1:]
    qx, qy = px[:, None], py[:, None]
    straddle = (y1 > qy) != (y2 > qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
    return (np.sum(straddle & (qx < xcross), axis=1) % 2) == 1


def pip_ambiguous(px, py, xs, ys, eps=1e-6):
    """Points closer than ``eps`` to some polygon edge: inside/outside
    would hinge on rounding, so the generator drops them."""
    i, j = _point_pairs(px, py, xs, ys, pad=eps)
    x1, y1 = xs[j, :-1], ys[j, :-1]
    dx, dy = xs[j, 1:] - x1, ys[j, 1:] - y1
    qx, qy = px[i, None] - x1, py[i, None] - y1
    t = np.clip((qx * dx + qy * dy) / (dx * dx + dy * dy), 0.0, 1.0)
    d2 = np.min((qx - t * dx) ** 2 + (qy - t * dy) ** 2, axis=1)
    bad = np.zeros(len(px), bool)
    bad[i[d2 < eps * eps]] = True
    return bad


def pip_signature(pid, px, py, gid, xs, ys):
    i, j = _point_pairs(px, py, xs, ys)
    hit = ray_cast(px[i], py[i], xs[j], ys[j])
    a, b = pid[i[hit]], gid[j[hit]]
    return {"matches": int(hit.sum()),
            "key_sum": int(np.sum(a * 100_003 + b)),
            "key_mod_sum": int(np.sum((a * 7919 + b * 104_729) % KEY_MOD))}


# ---- overlay --------------------------------------------------------------

def clip_convex(sx, sy, cx, cy):
    """Sutherland-Hodgman: clip convex CCW subjects (k, m) closed by
    convex CCW clips (k, n) closed, row by row. Returns the clipped
    vertices (k, w), open, and their counts."""
    k, m = sx.shape
    w = m + cx.shape[1] + 2
    vx = np.zeros((k, w))
    vy = np.zeros((k, w))
    vx[:, :m - 1], vy[:, :m - 1] = sx[:, :-1], sy[:, :-1]
    cnt = np.full(k, m - 1)
    cols = np.arange(w)[None, :]
    for e in range(cx.shape[1] - 1):
        ax, ay = cx[:, e, None], cy[:, e, None]
        ex, ey = cx[:, e + 1, None] - ax, cy[:, e + 1, None] - ay
        valid = cols < cnt[:, None]
        side = ex * (vy - ay) - ey * (vx - ax)
        inside = side >= 0
        prev = (cols - 1) % np.maximum(cnt, 1)[:, None]
        pxv = np.take_along_axis(vx, prev, 1)
        pyv = np.take_along_axis(vy, prev, 1)
        pside = np.take_along_axis(side, prev, 1)
        cross = valid & (inside != (pside >= 0))
        emit_c = valid & inside
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(cross, pside / (pside - side), 0.0)
        ix, iy = pxv + t * (vx - pxv), pyv + t * (vy - pyv)
        n_emit = cross.astype(int) + emit_c
        pos = np.cumsum(n_emit, axis=1) - n_emit
        nx, ny = np.zeros_like(vx), np.zeros_like(vy)
        r, c = np.nonzero(cross)
        nx[r, pos[r, c]], ny[r, pos[r, c]] = ix[r, c], iy[r, c]
        r, c = np.nonzero(emit_c)
        slot = pos[r, c] + cross[r, c]
        nx[r, slot], ny[r, slot] = vx[r, c], vy[r, c]
        vx, vy, cnt = nx, ny, n_emit.sum(axis=1)
    return vx, vy, cnt


def polygon_area_open(vx, vy, cnt):
    """Unsigned area of open vertex lists with per-row counts."""
    vx, vy = vx - vx[:, :1], vy - vy[:, :1]
    cols = np.arange(vx.shape[1])[None, :]
    nxt = (cols + 1) % np.maximum(cnt, 1)[:, None]
    x2 = np.take_along_axis(vx, nxt, 1)
    y2 = np.take_along_axis(vy, nxt, 1)
    term = np.where(cols < cnt[:, None], vx * y2 - x2 * vy, 0.0)
    return np.abs(0.5 * term.sum(axis=1))


def _overlay_pairs(axs, ays, bxs, bys):
    i, j = bbox_pairs(_bbox(axs, ays), _bbox(bxs, bys))
    vx, vy, cnt = clip_convex(axs[i], ays[i], bxs[j], bys[j])
    return i, j, polygon_area_open(vx, vy, cnt)


def overlay_signature(aid, axs, ays, bid, bxs, bys):
    i, j, area = _overlay_pairs(axs, ays, bxs, bys)
    hit = area > 0
    a, b = aid[i[hit]], bid[j[hit]]
    return {"pieces": int(hit.sum()),
            "area_sum": float(area[hit].sum()),
            "key_sum": int(np.sum(a * 100_003 + b))}


# ---- battery_rw -----------------------------------------------------------

def centroids(xs, ys):
    x0, y0 = xs[:, :1], ys[:, :1]
    x, y = xs - x0, ys - y0
    cross = x[:, :-1] * y[:, 1:] - x[:, 1:] * y[:, :-1]
    a6 = 3.0 * cross.sum(axis=1)
    return (x0[:, 0] + np.sum((x[:, :-1] + x[:, 1:]) * cross, axis=1) / a6,
            y0[:, 0] + np.sum((y[:, :-1] + y[:, 1:]) * cross, axis=1) / a6)


def hull_area(x, y):
    """Monotone-chain convex hull area of one vertex set."""
    pts = sorted(set(zip(x.tolist(), y.tolist())))

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])) <= 0:
                out.pop()
            out.append(p)
        return out

    hull = half(pts)[:-1] + half(pts[::-1])[:-1]
    hx = np.array([p[0] for p in hull] + [hull[0][0]])
    hy = np.array([p[1] for p in hull] + [hull[0][1]])
    return float(abs(shoelace_signed(hx[None, :], hy[None, :])[0]))


def mercator(xs, ys):
    return (MERCATOR_R * np.radians(xs),
            MERCATOR_R * np.log(np.tan(math.pi / 4 + np.radians(ys) / 2)))


# Per-row columns the battery_rw job writes, as the oracle predicts them.
BATTERY_FLOATS = ("area", "length", "cx", "cy", "bsum", "merc_area",
                  "hull_area")
BATTERY_INTS = ("ccw", "simp_n", "valid")


def battery_columns(xs, ys, simplified_counts):
    cx, cy = centroids(xs, ys)
    mx, my = mercator(xs, ys)
    x0, y0, x1, y1 = _bbox(xs, ys)
    return {
        "area": shoelace(xs, ys),
        "length": np.hypot(np.diff(xs, axis=1),
                           np.diff(ys, axis=1)).sum(axis=1),
        "cx": cx, "cy": cy,
        "bsum": x0 + y0 + x1 + y1,
        "merc_area": shoelace(mx, my),
        "hull_area": np.array([hull_area(xs[k], ys[k])
                               for k in range(len(xs))]),
        "ccw": (shoelace_signed(xs, ys) > 0).astype(np.int64),
        "simp_n": np.asarray(simplified_counts, np.int64),
        "valid": np.ones(len(xs), np.int64),
    }


def _wkb_digest(ids, wkb_column):
    order = np.argsort(ids, kind="stable")
    h = hashlib.sha256()
    for k in order:
        h.update(wkb_column[int(k)].as_py())
    return h.hexdigest()


def battery_rw_signature(gid, wkb_column):
    """What ``check_written`` must return for a correct job."""
    sig = {"rows": int(len(gid)), "wkb_sha256": _wkb_digest(gid, wkb_column),
           "int_mismatches": 0}
    sig.update({f"{c}_max_rel_err": 0.0 for c in BATTERY_FLOATS})
    return sig


def check_written(out_dir, input_dir):
    """Re-read a written GeoParquet directory with pyarrow: WKB in id
    order (to compare byte for byte with the input) and every metric
    column against the oracle's per-row values saved at generation."""
    t = pq.read_table(out_dir)
    gid = t.column("gid").to_numpy()
    want = np.load(os.path.join(input_dir, "expected_columns.npz"))
    sig = {"rows": int(t.num_rows),
           "wkb_sha256": _wkb_digest(gid,
                                     t.column("geometry").combine_chunks()),
           "int_mismatches": 0}
    for c in BATTERY_FLOATS:
        got = t.column(c).to_numpy(zero_copy_only=False)
        ref = want[c][gid]
        err = np.abs(got - ref) / np.maximum(np.abs(ref), 1e-9)
        sig[f"{c}_max_rel_err"] = float(np.nan_to_num(err, nan=1.0).max()) \
            if len(err) else 0.0
    for c in BATTERY_INTS:
        got = t.column(c).to_numpy(zero_copy_only=False)
        sig["int_mismatches"] += int(np.sum(got != want[c][gid]))
    return sig


# ---- comparison -----------------------------------------------------------

def mismatches(expected, got):
    """Keys on which a job's signature disagrees with the oracle."""
    bad = []
    for k, want in expected.items():
        have = got.get(k)
        if have is None:
            bad.append(k)
        elif k.endswith("_max_rel_err"):
            if not have <= REL_TOL:
                bad.append(k)
        elif isinstance(want, float):
            if not abs(have - want) <= REL_TOL * max(abs(want), 1e-300):
                bad.append(k)
        elif have != want:
            bad.append(k)
    return bad
