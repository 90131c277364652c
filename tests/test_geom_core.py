"""Pure-numpy geometry core tests (no Spark). Oracle values are
hand-computed or cross-checked between codecs (WKT→ragged→WKB→ragged
round trips), mirroring the reference's round-trip strategy
(py-geopolars/tests/unit/test_convert.py:36-47)."""

import math

import numpy as np
import pytest

from arctic_spark.geom import algos, ragged, wkb, wkt

SQUARE = "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))"
DONUT = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
LINE = "LINESTRING (0 0, 3 4, 3 8)"
MPOLY = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"
MPT = "MULTIPOINT (1 1, 2 2, 3 3)"
MLS = "MULTILINESTRING ((0 0, 1 0), (0 0, 0 2, 2 2))"

ALL = [SQUARE, DONUT, LINE, MPOLY, MPT, MLS, "POINT (3 7)", None]


def test_wkt_roundtrip():
    rg = wkt.parse(ALL)
    texts = wkt.format(rg)
    rg2 = wkt.parse(texts)
    assert np.array_equal(rg.gt, rg2.gt)
    assert np.allclose(rg.xs, rg2.xs)
    assert np.allclose(rg.ys, rg2.ys)
    assert np.array_equal(rg.rings, rg2.rings)
    assert np.array_equal(rg.parts, rg2.parts)
    assert texts[-1] is None


def test_wkb_roundtrip():
    rg = wkt.parse(ALL)
    bufs = wkb.encode(rg)
    assert bufs[-1] is None
    rg2 = wkb.decode(bufs)
    assert np.array_equal(rg.gt, rg2.gt)
    assert np.allclose(rg.xs, rg2.xs)
    assert np.allclose(rg.ys, rg2.ys)
    assert np.array_equal(rg.rings, rg2.rings)
    assert np.array_equal(rg.parts, rg2.parts)


def test_wkb_point_fast_path():
    rg = wkt.parse(["POINT (1 2)", "POINT (-3.5 4.25)"])
    bufs = wkb.encode(rg)
    assert all(len(b) == 21 for b in bufs)
    rg2 = wkb.decode(bufs)
    assert np.allclose(rg2.xs, [1, -3.5])
    assert np.allclose(rg2.ys, [2, 4.25])


def test_wkb_big_endian_read():
    import struct
    # big-endian POINT (1 2)
    buf = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 1.0, 2.0)
    rg = wkb.decode([buf])
    assert rg.gt[0] == ragged.POINT
    assert rg.xs[0] == 1.0 and rg.ys[0] == 2.0


def test_area():
    rg = wkt.parse([SQUARE, DONUT, LINE, MPOLY, "POINT (1 1)", None])
    a = algos.area(rg)
    assert a[0] == 400.0
    assert a[1] == 100.0 - 4.0
    assert a[2] == 0.0
    assert a[3] == 8.0
    assert a[4] == 0.0
    assert math.isnan(a[5])


def test_length():
    rg = wkt.parse([LINE, SQUARE, DONUT, MLS, "POINT (1 1)"])
    ln = algos.length(rg)
    assert ln[0] == pytest.approx(5 + 4)
    assert ln[1] == pytest.approx(80.0)
    assert ln[2] == pytest.approx(40.0)  # exterior only
    assert ln[3] == pytest.approx(1 + 4)
    assert ln[4] == 0.0


def test_centroid():
    rg = wkt.parse([SQUARE, "LINESTRING (0 0, 0 2)", MPT, DONUT])
    cx, cy = algos.centroid(rg)
    assert (cx[0], cy[0]) == (10.0, 10.0)
    assert (cx[1], cy[1]) == (0.0, 1.0)
    assert (cx[2], cy[2]) == (2.0, 2.0)
    # donut: square centroid (5,5) area 100 minus hole centroid (3,3) area 4
    ex = (5 * 100 - 3 * 4) / 96
    assert cx[3] == pytest.approx(ex)
    assert cy[3] == pytest.approx(ex)


def test_bounds():
    rg = wkt.parse([LINE, SQUARE, None])
    b = algos.bounds(rg)
    assert list(b[0]) == [0, 0, 3, 8]
    assert list(b[1]) == [0, 0, 20, 20]
    assert np.isnan(b[2]).all()


def test_convex_hull():
    rg = wkt.parse(["MULTIPOINT (0 0, 4 0, 4 4, 0 4, 2 2, 1 1)",
                    "MULTIPOINT (0 0, 1 1)", "POINT (5 5)"])
    h = algos.convex_hull(rg)
    assert h.gt[0] == ragged.POLYGON
    a = algos.area(h)
    assert a[0] == 16.0
    assert h.gt[1] == ragged.LINESTRING
    assert h.gt[2] == ragged.POINT


def test_simplify():
    rg = wkt.parse(["LINESTRING (0 0, 1 0.01, 2 0, 4 0, 8 5)"])
    s = algos.simplify(rg, 0.1)
    # collinear-ish midpoints dropped, endpoints + (4,0) kept
    out = wkt.format(s)[0]
    assert out == "LINESTRING (0 0, 4 0, 8 5)"


def test_point_in_polygon():
    rg = wkt.parse([DONUT])
    g = rg.geom(0)
    assert algos.point_in_polygon(1.0, 1.0, g[1], g[2], g[3], g[4])
    assert not algos.point_in_polygon(3.0, 3.0, g[1], g[2], g[3], g[4])  # hole
    assert algos.point_in_polygon(0.0, 5.0, g[1], g[2], g[3], g[4])  # boundary
    assert not algos.point_in_polygon(11.0, 5.0, g[1], g[2], g[3], g[4])


def test_intersects_and_distance():
    rg = wkt.parse([SQUARE, "POLYGON ((30 30, 40 30, 40 40, 30 40, 30 30))",
                    "LINESTRING (-5 10, 25 10)", "POINT (1 1)",
                    "POINT (25 20)"])
    g = [rg.geom(i) for i in range(len(rg))]
    assert algos.intersects_pair(g[0], g[2])       # line crosses square
    assert algos.intersects_pair(g[0], g[3])       # point in square
    assert not algos.intersects_pair(g[0], g[1])   # disjoint squares
    assert algos.distance_pair(g[0], g[4]) == pytest.approx(5.0)
    assert algos.distance_pair(g[0], g[1]) == pytest.approx(math.sqrt(200))
    assert algos.distance_pair(g[0], g[3]) == 0.0


def test_contains():
    rg = wkt.parse([SQUARE, "POINT (1 1)", "POINT (0 0)", "POINT (30 30)",
                    "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"])
    g = [rg.geom(i) for i in range(len(rg))]
    assert algos.contains_pair(g[0], g[1])
    assert algos.contains_pair(g[0], g[2])  # boundary (reference maps both
    # orders of point/poly Contains to poly.contains(point), which uses
    # geo's contains — boundary exclusive there; we pick inclusive and
    # document (SURVEY §7 risk 3)
    assert not algos.contains_pair(g[0], g[3])
    assert algos.contains_pair(g[0], g[4])


def test_wkb_malformed_inputs():
    import struct as _struct
    # unsupported type id
    with pytest.raises(wkb.WKBError, match="unsupported WKB type"):
        wkb.decode([b"\x01" + _struct.pack("<I", 99) + b"\x00" * 16])
    # Z-flagged EWKB rejected with a clear message
    with pytest.raises(wkb.WKBError, match="Z/M"):
        wkb.decode([b"\x01" + _struct.pack("<I", 0x80000001)
                    + _struct.pack("<ddd", 1, 2, 3)])
    # ISO 1001 (Point Z) rejected
    with pytest.raises(wkb.WKBError, match="Z/M"):
        wkb.decode([b"\x01" + _struct.pack("<I", 1001)
                    + _struct.pack("<ddd", 1, 2, 3)])
    # empty GeometryCollection decodes to an empty GC row (round 6;
    # used to be a documented rejection)
    rg_gc = wkb.decode([b"\x01" + _struct.pack("<I", 7)
                        + _struct.pack("<I", 0)])
    assert rg_gc.gt[0] == ragged.GEOMETRYCOLLECTION
    assert len(rg_gc.xs) == 0
    # EWKB SRID flag is skipped, not fatal
    buf = (b"\x01" + _struct.pack("<I", 0x20000001)
           + _struct.pack("<I", 4326) + _struct.pack("<dd", 3.0, 7.0))
    rg = wkb.decode([buf])
    assert rg.gt[0] == ragged.POINT and rg.xs[0] == 3.0 and rg.ys[0] == 7.0


def test_contains_concave_bridge():
    """ADVICE r1: a rect whose vertices are all inside a U-polygon but
    whose top edge bridges the notch is NOT contained."""
    u = ("POLYGON ((0 0, 10 0, 10 10, 6 10, 6 4, 4 4, 4 10, 0 10, 0 0))")
    rect = "POLYGON ((1 1, 9 1, 9 8, 1 8, 1 1))"
    inside = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
    rg = wkt.parse([u, rect, inside])
    g = [rg.geom(i) for i in range(3)]
    # vertices of rect: (1,1),(9,1) in; (9,8) in right arm; (1,8) in left
    # arm — but the top edge crosses the notch
    assert not algos.contains_pair(g[0], g[1])
    assert algos.contains_pair(g[0], g[2])


def test_contains_edge_over_hole():
    """A segment spanning a hole with both endpoints in the solid part
    is not contained."""
    rg = wkt.parse([DONUT, "POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))",
                    "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"])
    g = [rg.geom(i) for i in range(3)]
    assert not algos.contains_pair(g[0], g[1])  # covers the hole
    assert algos.contains_pair(g[0], g[2])      # clear of the hole


def test_contains_polygon_coincident_with_hole():
    """ADVICE r2: a polygon exactly coincident with a hole ring of the
    subject (all vertices and edge midpoints ON the hole boundary, no
    proper crossing) lies entirely in the hole — not contained."""
    rg = wkt.parse([DONUT, "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
                    "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"])
    g = [rg.geom(i) for i in range(3)]
    assert not algos.contains_pair(g[0], g[1])  # == the hole ring
    assert algos.contains_pair(g[0], g[2])      # solid part, still fine


def test_point_empty_wkb_encode():
    """ADVICE r1: POINT EMPTY must not poison the all-point fast path."""
    rg = wkt.parse(["POINT EMPTY", "POINT (1 2)"])
    bufs = wkb.encode(rg)
    rg2 = wkb.decode(bufs)
    assert rg2.gt[1] == 0
    g1 = rg2.geom(1)
    assert g1[1][0] == 1.0 and g1[2][0] == 2.0
    # the empty point must NOT round-trip as (1,2)
    g0 = rg2.geom(0)
    assert len(g0[1]) == 0 or np.isnan(g0[1][0])


def test_length_empty_batch():
    """ADVICE r1: empty (zero-coordinate) non-missing geometries have
    length 0.0, not NaN."""
    rg = wkt.parse(["POINT EMPTY", "LINESTRING EMPTY", None])
    out = algos.length(rg)
    assert out[0] == 0.0
    assert out[1] == 0.0
    assert np.isnan(out[2])


def test_wkb_force_2d_and_collections():
    """Round-5 ingest paths: Z/M WKB accepted with force_2d (dropping
    the extra dims), homogeneous GeometryCollections re-type to Multi*,
    heterogeneous ones still raise."""
    import struct

    from arctic_spark.geom import wkb as wkb_mod

    pz = struct.pack("<BI3d", 1, 0x80000001, 1.0, 2.0, 3.0)   # EWKB Z
    piso = struct.pack("<BI3d", 1, 1001, 4.0, 5.0, 6.0)       # ISO Z
    with pytest.raises(wkb_mod.WKBError, match="force_2d"):
        wkb_mod.decode([pz])
    rg = wkb_mod.decode([pz, piso], force_2d=True)
    assert rg.xs.tolist() == [1.0, 4.0]
    assert rg.ys.tolist() == [2.0, 5.0]

    def pt(x, y):
        return struct.pack("<BI2d", 1, 1, x, y)

    def gc(children):
        return struct.pack("<BII", 1, 7, len(children)) + b"".join(children)

    rg = wkb_mod.decode([gc([pt(1, 1), pt(2, 2)])])
    assert rg.gt[0] == 4 and rg.xs.tolist() == [1.0, 2.0]   # MULTIPOINT
    # heterogeneous GC decodes to gt=7 with typed parts (round 6; used
    # to raise)
    line = struct.pack("<BII4d", 1, 2, 2, 0.0, 0.0, 1.0, 1.0)
    rg = wkb_mod.decode([gc([pt(1, 1), line])])
    from arctic_spark.geom.ragged import (GC_SHIFT, GEOMETRYCOLLECTION,
                                          gc_iter)
    assert rg.gt[0] == GEOMETRYCOLLECTION
    subs = list(gc_iter(rg.geom(0)))
    assert [s[0] for s in subs] == [0, 1]      # POINT, LINESTRING
    assert rg.geom(0)[4].tolist() == [1, 1 * GC_SHIFT + 1]


def test_arrow_offsets_overflow_raises():
    """A batch whose list offsets reach 2**31 must fail loudly in both
    GEOM struct encoders instead of wrapping into corrupt int32 offsets
    (fake offsets: nothing of that size is allocated)."""
    from arctic_spark.functions.udfs import ragged_to_arrow
    from arctic_spark.io import _ragged_to_arrow_struct
    big = ragged.RaggedGeometry([ragged.LINESTRING], [0.0, 1.0], [0.0, 1.0],
                                [0, 2**31], [2], [0, 1], [1], [0, 1])
    for encode in (ragged_to_arrow, _ragged_to_arrow_struct):
        with pytest.raises(OverflowError, match="int32 list offsets"):
            encode(big)
    edge = ragged.int32_offsets(np.array([0, 2**31 - 1], np.int64))
    assert edge.dtype == np.int32 and edge[-1] == 2**31 - 1
