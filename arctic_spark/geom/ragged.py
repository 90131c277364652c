"""Ragged (offset-based) columnar geometry representation, pure numpy.

This is the Python-side twin of the engine's Spark-native GEOM struct
(``arctic_spark.sparktypes.GEOM_TYPE``): a batch of N geometries is held as

- ``gt``            int8[N]      geometry-type id per geometry (pygeos ids:
                                 POINT=0, LINESTRING=1, LINEARRING=2,
                                 POLYGON=3, MULTIPOINT=4, MULTILINESTRING=5,
                                 MULTIPOLYGON=6, GEOMETRYCOLLECTION=7,
                                 MISSING=-1) — same ids the reference uses
                                 (reference: py-geopolars/python/geopolars/
                                 enums.py:4-15).
- ``xs``, ``ys``    float64[C]   all coordinates of the batch, concatenated.
- ``coord_offsets`` int64[N+1]   geometry i owns coords [co[i], co[i+1]).
- ``rings``         int32[R]     vertex count of every ring / linestring in
                                 the batch, concatenated in order.
- ``ring_offsets``  int64[N+1]   geometry i owns rings [ro[i], ro[i+1]).
- ``parts``         int32[P]     rings-per-part for every part in the batch.
- ``part_offsets``  int64[N+1]   geometry i owns parts [po[i], po[i+1]).

Polygon rings are stored closed (first vertex repeated last), matching WKB.
GeometryCollection (gt=7) is supported since round 6 via typed part
entries (see the GC block at the bottom of this module): codec
round-trips, explode, and mixed-dimension boolean results; the spatial
index still rejects GC operands (as the reference's does,
geopolars/src/spatial_index.rs:258-276).
"""

from __future__ import annotations

import numpy as np

MISSING = -1
POINT = 0
LINESTRING = 1
LINEARRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7

TYPE_NAMES = {
    MISSING: "Missing",
    POINT: "Point",
    LINESTRING: "LineString",
    LINEARRING: "LinearRing",
    POLYGON: "Polygon",
    MULTIPOINT: "MultiPoint",
    MULTILINESTRING: "MultiLineString",
    MULTIPOLYGON: "MultiPolygon",
    GEOMETRYCOLLECTION: "GeometryCollection",
}


def int32_offsets(offsets) -> np.ndarray:
    """Monotone int64 ``offsets`` as the int32 offsets of an Arrow
    ``list`` array. A batch with 2**31 or more elements would wrap into
    corrupt geometry, so it raises instead."""
    if len(offsets) and offsets[-1] >= 2**31:
        raise OverflowError(
            f"{int(offsets[-1])} list elements in one Arrow batch exceed "
            "int32 list offsets (limit 2**31 - 1); lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return offsets.astype(np.int32)


class RaggedGeometry:
    """A batch of geometries in ragged columnar form."""

    __slots__ = ("gt", "xs", "ys", "coord_offsets", "rings", "ring_offsets",
                 "parts", "part_offsets")

    def __init__(self, gt, xs, ys, coord_offsets, rings, ring_offsets, parts,
                 part_offsets):
        self.gt = np.asarray(gt, dtype=np.int8)
        self.xs = np.asarray(xs, dtype=np.float64)
        self.ys = np.asarray(ys, dtype=np.float64)
        self.coord_offsets = np.asarray(coord_offsets, dtype=np.int64)
        self.rings = np.asarray(rings, dtype=np.int32)
        self.ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
        self.parts = np.asarray(parts, dtype=np.int32)
        self.part_offsets = np.asarray(part_offsets, dtype=np.int64)

    def __len__(self):
        return len(self.gt)

    # ---- builders ------------------------------------------------------

    @classmethod
    def from_pylists(cls, gts, xs_list, ys_list, rings_list, parts_list):
        """Build from per-geometry python lists (the shape a pandas UDF
        receives for the Spark GEOM struct). ``None`` rows → MISSING."""
        n = len(gts)
        gt = np.empty(n, dtype=np.int8)
        co = np.zeros(n + 1, dtype=np.int64)
        ro = np.zeros(n + 1, dtype=np.int64)
        po = np.zeros(n + 1, dtype=np.int64)
        xs_parts, ys_parts, ring_parts, part_parts = [], [], [], []
        for i in range(n):
            g = gts[i]
            if g is None or g < 0:
                gt[i] = MISSING
                co[i + 1] = co[i]
                ro[i + 1] = ro[i]
                po[i + 1] = po[i]
                continue
            gt[i] = g
            x = np.asarray(xs_list[i], dtype=np.float64)
            r = np.asarray(rings_list[i], dtype=np.int32)
            p = np.asarray(parts_list[i], dtype=np.int32)
            xs_parts.append(x)
            ys_parts.append(np.asarray(ys_list[i], dtype=np.float64))
            ring_parts.append(r)
            part_parts.append(p)
            co[i + 1] = co[i] + len(x)
            ro[i + 1] = ro[i] + len(r)
            po[i + 1] = po[i] + len(p)
        cat = lambda ps, dt: (np.concatenate(ps) if ps else np.empty(0, dt))
        return cls(gt, cat(xs_parts, np.float64), cat(ys_parts, np.float64),
                   co, cat(ring_parts, np.int32), ro,
                   cat(part_parts, np.int32), po)

    # ---- accessors -----------------------------------------------------

    def geom(self, i):
        """Per-geometry view: (gt, xs, ys, rings, parts) with local arrays."""
        c0, c1 = self.coord_offsets[i], self.coord_offsets[i + 1]
        r0, r1 = self.ring_offsets[i], self.ring_offsets[i + 1]
        p0, p1 = self.part_offsets[i], self.part_offsets[i + 1]
        return (int(self.gt[i]), self.xs[c0:c1], self.ys[c0:c1],
                self.rings[r0:r1], self.parts[p0:p1])

    def is_missing(self):
        return self.gt == MISSING

    def to_pylists(self):
        """Inverse of from_pylists → (gts, xs, ys, rings, parts) lists,
        with None for missing rows (the shape Spark wants back from a
        pandas UDF returning the GEOM struct)."""
        gts, xs, ys, rings, parts = [], [], [], [], []
        for i in range(len(self)):
            if self.gt[i] == MISSING:
                gts.append(None)
                xs.append(None)
                ys.append(None)
                rings.append(None)
                parts.append(None)
            else:
                g, x, y, r, p = self.geom(i)
                gts.append(int(g))
                xs.append(x.tolist())
                ys.append(y.tolist())
                rings.append(r.tolist())
                parts.append(p.tolist())
        return gts, xs, ys, rings, parts


def single_part_counts(gt, nrings):
    """parts array for a single-part geometry of `nrings` rings."""
    if gt in (POINT, LINESTRING, LINEARRING):
        return [1]
    if gt == POLYGON:
        return [nrings]
    raise ValueError(f"not single-part: {gt}")


# ---------------------------------------------------------------------------
# GeometryCollection (gt=7, round 6)
#
# A GC row reuses the same 5 arrays; only the meaning of each ``parts``
# entry changes: parts[i] = sub_type * GC_SHIFT + nrings, where sub_type
# is the part's OWN geometry class (POINT / LINESTRING / POLYGON) and
# nrings its ring count. rings/coords stay plain, so every offsets walk
# that first decodes ``parts % GC_SHIFT`` works unchanged. Multi* and
# nested-GC children are flattened into single-type parts on ingest
# (documented canonicalization: point-set identical, structure not
# byte-preserved). Matches the reference's declared type id 7
# (geopolars-geo/src/geoseries.rs:60-72).
# ---------------------------------------------------------------------------

GC_SHIFT = 1 << 24

_GC_SUB_OF = {POINT: POINT, MULTIPOINT: POINT,
              LINESTRING: LINESTRING, LINEARRING: LINESTRING,
              MULTILINESTRING: LINESTRING,
              POLYGON: POLYGON, MULTIPOLYGON: POLYGON}


def gc_encode_parts(gt, parts):
    """Encode a non-GC geometry's parts array for inclusion in a GC."""
    sub = _GC_SUB_OF[gt]
    return [sub * GC_SHIFT + int(nr) for nr in parts]


def gc_pack(geoms):
    """Build one GC tuple (7, xs, ys, rings, parts) from a list of
    geometry tuples. Multi* children flatten to single-type parts;
    nested GC children merge in as-is. Empty/None children are skipped;
    a single surviving class does NOT re-type (callers wanting Multi*
    normalization decide that themselves)."""
    xs, ys, rings, parts = [], [], [], []
    for g in geoms:
        if g is None or g[0] == MISSING or len(g[1]) == 0:
            continue
        gt, x, y, r, p = g
        xs.append(np.asarray(x, np.float64))
        ys.append(np.asarray(y, np.float64))
        rings.append(np.asarray(r, np.int32))
        if gt == GEOMETRYCOLLECTION:
            parts.extend(int(v) for v in p)
        else:
            parts.extend(gc_encode_parts(gt, p))
    cat = lambda ps, dt: (np.concatenate(ps) if ps
                          else np.empty(0, dt))
    return (GEOMETRYCOLLECTION, cat(xs, np.float64), cat(ys, np.float64),
            cat(rings, np.int32), np.asarray(parts, np.int32))


def gc_iter(g):
    """Yield (sub_gt, xs, ys, rings, parts) single-geometry tuples for
    each part of a GC tuple."""
    _, xs, ys, rings, parts = g
    roff = 0
    coff = 0
    for enc in parts:
        sub = int(enc) // GC_SHIFT
        nr = int(enc) % GC_SHIFT
        rl = rings[roff:roff + nr]
        nc = int(np.sum(rl))
        yield (sub, xs[coff:coff + nc], ys[coff:coff + nc], rl,
               np.asarray(single_part_counts(sub, nr), np.int32))
        roff += nr
        coff += nc
