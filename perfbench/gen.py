"""Seeded synthetic inputs for the perfbench workloads.

Every input is a set of parquet files written with pyarrow alone; the
program under test only ever receives these files. Polygon files use
the GeoParquet layout arctic_spark writes itself: little-endian WKB in
a ``geometry`` column plus a ``__geo_meta`` JSON column.

Inputs are cached on disk under ``<cache>/<workload>-s<seed>-<size>``
together with the oracle's expected signature, so a seed is generated
and checked once per checkout. Generation never runs inside a timed
region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

# Row counts per workload and size. "full" is what the benchmark runs;
# "tiny" is the smoke check's.
SIZES = {
    "pip_join": {"full": {"points": 120_000, "polygons": 600},
                 "tiny": {"points": 3_000, "polygons": 40}},
    "overlay": {"full": {"groups": 400, "lefts_per_group": 2},
                "tiny": {"groups": 30, "lefts_per_group": 2}},
    "battery_rw": {"full": {"polygons": 1_500},
                   "tiny": {"polygons": 120}},
}

N_FILES = 8          # parquet files per input: the scan's task count
WORLD = 1000.0       # planar workloads live in [0, WORLD)^2
CRS = "EPSG:4326"


def _geo_meta():
    return json.dumps({"version": "1.0.0-arctic-spark",
                       "primary_column": "geometry",
                       "columns": {"geometry": {"encoding": "WKB",
                                                "crs": CRS}}})


def polygon_wkb(xs, ys):
    """(n, m) closed single-ring polygons -> pyarrow binary array of
    little-endian WKB, byte-identical to arctic_spark's encoder."""
    n, m = xs.shape
    rec = 13 + 16 * m
    buf = np.zeros((n, rec), np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 3
    buf[:, 5] = 1
    buf[:, 9:13] = np.frombuffer(np.uint32(m).astype("<u4").tobytes(),
                                 np.uint8)
    coords = np.empty((n, m, 2), "<f8")
    coords[..., 0] = xs
    coords[..., 1] = ys
    buf[:, 13:] = coords.reshape(n, 2 * m).view(np.uint8)
    offsets = (np.arange(n + 1, dtype=np.int64) * rec).astype(np.int32)
    return pa.Array.from_buffers(pa.binary(), n,
                                 [None, pa.py_buffer(offsets),
                                  pa.py_buffer(buf.tobytes())])


def _write_split(table, directory):
    """Write ``table`` as N_FILES parquet parts (one scan task each)."""
    os.makedirs(directory)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(directory,
                                          f"part-{i:03d}.parquet"))


def _polygon_table(ids, xs, ys):
    n = len(ids)
    return pa.table({
        "gid": pa.array(ids, pa.int64()),
        "geometry": polygon_wkb(xs, ys),
        "__geo_meta": pa.array([_geo_meta()] * n, pa.string()),
    })


def _close(xs, ys):
    return (np.concatenate([xs, xs[:, :1]], axis=1),
            np.concatenate([ys, ys[:, :1]], axis=1))


def cyclic_polygons(rng, cx, cy, r, nv):
    """Convex polygons with vertices on a circle at jittered, sorted
    angles (counter-clockwise, closed)."""
    k = np.arange(nv)[None, :]
    ang = 2 * np.pi * (k + rng.uniform(-0.35, 0.35, (len(cx), nv))) / nv
    return _close(cx[:, None] + r[:, None] * np.cos(ang),
                  cy[:, None] + r[:, None] * np.sin(ang))


def star_polygons(rng, cx, cy, r, nv, inner=0.5):
    """Non-convex star polygons: ``nv`` vertices alternating between
    the outer radius and ``inner`` of it (counter-clockwise, closed)."""
    k = np.arange(nv)[None, :]
    ang = 2 * np.pi * (k + rng.uniform(-0.2, 0.2, (len(cx), nv))) / nv
    rad = r[:, None] * np.where(k % 2 == 0, 1.0, inner) \
        * rng.uniform(0.9, 1.1, (len(cx), nv))
    return _close(cx[:, None] + rad * np.cos(ang),
                  cy[:, None] + rad * np.sin(ang))


# ---- workloads ------------------------------------------------------------

def _gen_pip_join(rng, size, out):
    n_poly, n_pts = size["polygons"], size["points"]
    g = int(np.ceil(np.sqrt(n_poly)))
    cell = WORLD / g
    idx = np.arange(n_poly)
    cx = (idx % g + 0.5 + rng.uniform(-0.2, 0.2, n_poly)) * cell
    cy = (idx // g + 0.5 + rng.uniform(-0.2, 0.2, n_poly)) * cell
    r = cell * rng.uniform(0.35, 0.6, n_poly)
    pxs, pys = star_polygons(rng, cx, cy, r, 16)
    # half uniform, half in four dense clusters (hot join cells)
    n_uni = n_pts // 2
    centers = rng.uniform(0.2 * WORLD, 0.8 * WORLD, (4, 2))
    which = rng.integers(0, 4, n_pts - n_uni)
    clustered = centers[which] + rng.normal(0, 0.02 * WORLD,
                                            (n_pts - n_uni, 2))
    pts = np.concatenate([rng.uniform(0, WORLD, (n_uni, 2)),
                          np.clip(clustered, 0, WORLD * (1 - 1e-9))])
    keep = ~oracle.pip_ambiguous(pts[:, 0], pts[:, 1], pxs, pys)
    pts = pts[keep]
    pid = np.arange(len(pts), dtype=np.int64)
    gid = np.arange(n_poly, dtype=np.int64)
    _write_split(pa.table({"pid": pid, "x": pts[:, 0], "y": pts[:, 1]}),
                 os.path.join(out, "points"))
    _write_split(_polygon_table(gid, pxs, pys),
                 os.path.join(out, "polygons"))
    expected = oracle.pip_signature(pid, pts[:, 0], pts[:, 1], gid,
                                    pxs, pys)
    return {"rows": len(pid) + n_poly}, expected


def _gen_overlay(rng, size, out):
    """Isolated groups of four right polygons around a center, with
    left polygons at the center that each overlap exactly those four.
    Groups sit on a 40-unit lattice moved at random by up to 11 units:
    far enough apart that no bounding boxes of two groups meet, and
    scattered by more than one join grid cell, so no group lines up with
    the join grid. The job's work (candidate pairs, 4 pieces per left)
    therefore does not depend on the seed; vertex angles, radii and
    offsets do. Work is spread evenly: this workload has no hot cells
    (a skewed straggler made its job time swing with the seed)."""
    n_groups, per_group = size["groups"], size["lefts_per_group"]
    spacing, jitter, arm = 40.0, 11.0, 4.0
    slots = int(WORLD // spacing)
    idx = rng.permutation(slots * slots)[:n_groups]
    gx = (idx % slots + 0.5) * spacing + rng.uniform(-jitter, jitter,
                                                     n_groups)
    gy = (idx // slots + 0.5) * spacing + rng.uniform(-jitter, jitter,
                                                      n_groups)
    n_left = n_groups * per_group
    lx = np.repeat(gx, per_group) + rng.uniform(-0.3, 0.3, n_left)
    ly = np.repeat(gy, per_group) + rng.uniform(-0.3, 0.3, n_left)
    axs, ays = cyclic_polygons(rng, lx, ly,
                               4.0 * rng.uniform(0.95, 1.0, len(lx)), 12)
    diag = np.array([[1, 1], [-1, 1], [-1, -1], [1, -1]]) * arm
    rx = (gx[:, None] + diag[None, :, 0]).ravel()
    ry = (gy[:, None] + diag[None, :, 1]).ravel()
    bxs, bys = cyclic_polygons(rng, rx, ry,
                               4.0 * rng.uniform(0.97, 1.0, len(rx)), 12)
    n_a, n_b = len(axs), len(bxs)
    aid = np.arange(n_a, dtype=np.int64)
    bid = np.arange(n_b, dtype=np.int64)
    expected = oracle.overlay_signature(aid, axs, ays, bid, bxs, bys)
    if expected["pieces"] != 4 * n_a:
        raise AssertionError(f"overlay input broke its construction: "
                             f"{expected['pieces']} pieces, not {4 * n_a}")
    _write_split(_polygon_table(aid, axs, ays), os.path.join(out, "left"))
    _write_split(_polygon_table(bid, bxs, bys), os.path.join(out, "right"))
    return {"rows": n_a + n_b}, expected


def battery_polygons(rng, n, tol):
    """24-vertex non-convex polygons in lon/lat: 12 star vertices plus
    one point near each edge's midpoint, offset from the edge either
    well inside the simplify tolerance (dropped) or well outside it
    (kept). Odd ids are wound clockwise."""
    cx = rng.uniform(-170, 170, n)
    cy = rng.uniform(-70, 70, n)
    r = rng.uniform(0.01, 0.03, n)
    sx, sy = star_polygons(rng, cx, cy, r, 12, inner=0.45)
    sx, sy = sx[:, :-1], sy[:, :-1]
    nx, ny = np.roll(sx, -1, axis=1), np.roll(sy, -1, axis=1)
    ex, ey = nx - sx, ny - sy
    el = np.hypot(ex, ey)
    kept = rng.random((n, 12)) < 0.5
    off = np.where(kept, 8.0 * tol, 0.2 * tol)
    # outward normal of a counter-clockwise edge is (ey, -ex)
    mx = (sx + nx) / 2 + off * ey / el
    my = (sy + ny) / 2 - off * ex / el
    xs = np.stack([sx, mx], axis=2).reshape(n, 24)
    ys = np.stack([sy, my], axis=2).reshape(n, 24)
    # clockwise copies keep a star vertex first, so Douglas-Peucker's
    # ring anchor is never a midpoint
    cw = np.arange(n) % 2 == 1
    xs[cw] = np.roll(xs[cw, ::-1], -1, axis=1)
    ys[cw] = np.roll(ys[cw, ::-1], -1, axis=1)
    xs, ys = _close(xs, ys)
    return xs, ys, 12 + kept.sum(axis=1) + 1


BATTERY_TOL = 4e-5   # simplify tolerance (degrees) used by the battery


def _gen_battery_rw(rng, size, out):
    n = size["polygons"]
    xs, ys, simplified_counts = battery_polygons(rng, n, BATTERY_TOL)
    gid = np.arange(n, dtype=np.int64)
    table = _polygon_table(gid, xs, ys)
    _write_split(table, os.path.join(out, "polygons"))
    np.savez(os.path.join(out, "expected_columns.npz"),
             **oracle.battery_columns(xs, ys, simplified_counts))
    expected = oracle.battery_rw_signature(gid, table.column("geometry"))
    return {"rows": n}, expected


GENERATORS = {
    "pip_join": _gen_pip_join,
    "overlay": _gen_overlay,
    "battery_rw": _gen_battery_rw,
}


def size_tag(workload, size_name):
    spec = json.dumps(SIZES[workload][size_name], sort_keys=True)
    return f"{size_name}-{hashlib.sha1(spec.encode()).hexdigest()[:8]}"


def ensure_inputs(workload, seed, size_name, cache_root):
    """Return the input directory for (workload, seed, size), generating
    it first if the cache has no complete copy. The directory holds the
    parquet inputs and ``meta.json`` with the row count and the oracle's
    expected signature."""
    d = os.path.join(cache_root,
                     f"{workload}-s{seed}-{size_tag(workload, size_name)}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    seq = np.random.SeedSequence([seed, list(GENERATORS).index(workload)])
    info, expected = GENERATORS[workload](np.random.default_rng(seq),
                                          SIZES[workload][size_name], tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "size": size_name,
                   "rows": info["rows"], "expected": expected}, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
