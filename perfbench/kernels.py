"""Single-threaded kernel probe: per-row cost of the geometry kernels the
workloads lean on, timed in the driver on a fixed batch drawn from the
workload's own input files.

Each kernel is a public function of ``arctic_spark.geom.*`` or
``arctic_spark.functions.udfs``. A probe repeats a call until it has
run for ``MIN_SECONDS`` (at least ``MIN_REPS`` times) and reports the
median call time divided by the batch's row count, in microseconds.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from arctic_spark.functions import udfs
from arctic_spark.geom import algos, batch, boolean, wkb
from arctic_spark.geom.ragged import RaggedGeometry

from gen import BATTERY_TOL

BATCH = 256          # rows per probe batch
BOOLEAN_BATCH = 64   # the boolean kernel is per-row Python: keep it small
MIN_SECONDS = 0.15
MIN_REPS = 3

# workload -> the polygon input its probe batch is drawn from
_POLYGON_INPUT = {"pip_join": "polygons", "overlay": "left",
                  "battery_rw": "polygons"}


def _per_row_us(fn, rows):
    times = []
    start = time.perf_counter()
    while len(times) < MIN_REPS or time.perf_counter() - start < MIN_SECONDS:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) / rows * 1e6


def _first_rows(directory, columns, n):
    files = sorted(f for f in os.listdir(directory) if f.endswith(".parquet"))
    return pq.read_table(os.path.join(directory, files[0]),
                         columns=columns).slice(0, n)


def _shifted(rg, frac=0.3):
    """The same polygons moved by ``frac`` of their width: overlapping
    pairs, as a join's refine sees them."""
    width = np.maximum.reduceat(rg.xs, rg.coord_offsets[:-1]) \
        - np.minimum.reduceat(rg.xs, rg.coord_offsets[:-1])
    dx = np.repeat(width * frac, np.diff(rg.coord_offsets))
    return RaggedGeometry(rg.gt, rg.xs + dx, rg.ys.copy(), rg.coord_offsets,
                          rg.rings, rg.ring_offsets, rg.parts,
                          rg.part_offsets)


def probe(workload, input_dir):
    """kernel.* metrics (microseconds per row) for one workload."""
    table = _first_rows(os.path.join(input_dir, _POLYGON_INPUT[workload]),
                        ["geometry"], BATCH)
    buffers = [b.as_py() for b in table.column("geometry")]
    polys = wkb.decode(buffers)
    n = len(polys)
    if workload == "pip_join":
        # (point, polygon) pairs: each polygon against points drawn at
        # its own vertices' centroid, i.e. the candidates the join
        # refines
        cx = np.add.reduceat(polys.xs, polys.coord_offsets[:-1]) \
            / np.diff(polys.coord_offsets)
        cy = np.add.reduceat(polys.ys, polys.coord_offsets[:-1]) \
            / np.diff(polys.coord_offsets)
        steps = np.arange(n + 1, dtype=np.int64)
        ones = np.ones(n, np.int32)
        left = RaggedGeometry(np.zeros(n, np.int8), cx, cy, steps, ones,
                              steps, ones, steps)
        right = polys
    else:
        left, right = polys, _shifted(polys)
    arrow = udfs.ragged_to_arrow(polys)
    pdf = udfs.ragged_to_pdf(polys)
    b1 = wkb.decode(buffers[:BOOLEAN_BATCH])
    b2 = _shifted(b1)
    nb = len(b1)
    return {
        "kernel.batch_intersects_us":
            _per_row_us(lambda: batch.intersects(left, right), n),
        "kernel.boolean_intersection_us":
            _per_row_us(lambda: boolean.row_boolean(b1, b2, "intersection"),
                        nb),
        "kernel.wkb_decode_us": _per_row_us(lambda: wkb.decode(buffers), n),
        "kernel.wkb_encode_us": _per_row_us(lambda: wkb.encode(polys), n),
        "kernel.arrow_decode_us":
            _per_row_us(lambda: udfs.ragged_from_arrow(arrow), n),
        "kernel.pandas_decode_us":
            _per_row_us(lambda: udfs.ragged_from_pdf(pdf), n),
        "kernel.convex_hull_us":
            _per_row_us(lambda: algos.convex_hull(polys), n),
        "kernel.simplify_us":
            _per_row_us(lambda: algos.simplify(polys, BATTERY_TOL), n),
        "kernel.is_valid_us": _per_row_us(lambda: algos.is_valid(polys), n),
    }
