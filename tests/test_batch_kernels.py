"""Batch convex-hull and Douglas-Peucker kernels against the per-row
kernels they replaced (kept verbatim below as the reference), the
per-row tolerance of st.simplify / SQL st_simplify, the batch-constant
parameter check of the other SQL geometry functions, and the bounded
padding of line_ref_stats' sequential row sums."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from arctic_spark import st
from arctic_spark.functions import udfs
from arctic_spark.geom import algos, wkt
from arctic_spark.geom.ragged import (LINESTRING, MISSING, MULTIPOINT,
                                      POINT, POLYGON, RaggedGeometry)
from arctic_spark.sql import register_sql_functions


# ---------------------------------------------------------------------------
# Reference kernels: the per-row convex hull and Douglas-Peucker that the
# batch kernels replaced, kept verbatim as the equivalence oracle.
# ---------------------------------------------------------------------------

def ref_convex_hull(rg: RaggedGeometry):
    """Andrew's monotone chain per geometry. Returns RaggedGeometry of
    Polygon/LineString/Point per the collapse rule the reference documents
    (geoseries.rs:26-31: 'smallest convex Polygon ... unless fewer than 3
    points, then a Linestring or Point')."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, _, _ = rg.geom(i)
        if g == MISSING:
            gts.append(None)
            oxs.append(None)
            oys.append(None)
            orings.append(None)
            oparts.append(None)
            continue
        pts = np.unique(np.column_stack([xs, ys]), axis=0)
        n = len(pts)
        if n == 0:
            gts.append(POINT)
            oxs.append([])
            oys.append([])
            orings.append([])
            oparts.append([])
            continue
        if n == 1:
            gts.append(POINT)
            oxs.append([pts[0, 0]])
            oys.append([pts[0, 1]])
            orings.append([1])
            oparts.append([1])
            continue
        # sort lexicographically (unique already sorts)
        def half(points):
            h = []
            for p in points:
                while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                    h.pop()
                h.append(p)
            return h
        lower = half(pts)
        upper = half(pts[::-1])
        hull = np.array(lower[:-1] + upper[:-1])
        if len(hull) == 2 or n == 2:
            gts.append(LINESTRING)
            oxs.append(hull[:, 0].tolist() if len(hull) == 2 else pts[:, 0].tolist())
            oys.append(hull[:, 1].tolist() if len(hull) == 2 else pts[:, 1].tolist())
            orings.append([2])
            oparts.append([1])
            continue
        if len(hull) < 3:
            gts.append(LINESTRING)
            oxs.append(pts[:2, 0].tolist())
            oys.append(pts[:2, 1].tolist())
            orings.append([2])
            oparts.append([1])
            continue
        # close ring, CCW orientation (monotone chain lower+upper is CCW)
        hx = np.append(hull[:, 0], hull[0, 0])
        hy = np.append(hull[:, 1], hull[0, 1])
        gts.append(POLYGON)
        oxs.append(hx.tolist())
        oys.append(hy.tolist())
        orings.append([len(hx)])
        oparts.append([1])
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)


def ref_dp_mask(x, y, tol):
    """Douglas-Peucker keep-mask for one open/closed coordinate run."""
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        ax, ay, bx, by = x[i0], y[i0], x[i1], y[i1]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        px = x[i0 + 1:i1]
        py = y[i0 + 1:i1]
        if seg2 == 0:
            d2 = (px - ax) ** 2 + (py - ay) ** 2
        else:
            cross = (px - ax) * dy - (py - ay) * dx
            d2 = cross * cross / seg2
        k = int(np.argmax(d2))
        if d2[k] > tol * tol:
            idx = i0 + 1 + k
            keep[idx] = True
            stack.append((i0, idx))
            stack.append((idx, i1))
    return keep


def ref_simplify(rg: RaggedGeometry, tol):
    """Douglas-Peucker per ring (endpoints preserved, matching the
    reference doc geoseries.rs:109-115)."""
    gts, oxs, oys, orings, oparts = [], [], [], [], []
    for i in range(len(rg)):
        g, xs, ys, rings, parts = rg.geom(i)
        if g == MISSING:
            gts.append(None); oxs.append(None); oys.append(None)
            orings.append(None); oparts.append(None)
            continue
        if g in (POINT, MULTIPOINT) or len(xs) == 0:
            gts.append(int(g)); oxs.append(xs.tolist()); oys.append(ys.tolist())
            orings.append(rings.tolist()); oparts.append(parts.tolist())
            continue
        nx, ny, nr = [], [], []
        off = 0
        for rl in rings:
            x, y = xs[off:off + rl], ys[off:off + rl]
            m = ref_dp_mask(x, y, tol)
            nx.extend(x[m].tolist())
            ny.extend(y[m].tolist())
            nr.append(int(m.sum()))
            off += rl
        gts.append(int(g)); oxs.append(nx); oys.append(ny)
        orings.append(nr); oparts.append(parts.tolist())
    return RaggedGeometry.from_pylists(gts, oxs, oys, orings, oparts)



# ---------------------------------------------------------------------------
# helpers and inputs
# ---------------------------------------------------------------------------

def _assert_same(got, want, by_value=False):
    """Equal structure and coordinates. Coordinates compare bit for bit
    (so -0.0 != 0.0) unless ``by_value``."""
    for f in ("gt", "coord_offsets", "rings", "ring_offsets", "parts",
              "part_offsets"):
        np.testing.assert_array_equal(getattr(got, f), getattr(want, f),
                                      err_msg=f)
    if by_value:
        np.testing.assert_array_equal(got.xs, want.xs)
        np.testing.assert_array_equal(got.ys, want.ys)
    else:
        assert got.xs.tobytes() == want.xs.tobytes()
        assert got.ys.tobytes() == want.ys.tobytes()


def _row(rg, i):
    """Row i of a batch as a one-row batch."""
    g, xs, ys, rings, parts = rg.geom(i)
    if g == MISSING:
        return RaggedGeometry.from_pylists([None], [None], [None], [None],
                                           [None])
    return RaggedGeometry.from_pylists([g], [xs], [ys], [rings], [parts])


EDGE_WKT = [
    None,
    "POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY",
    "POINT (3 4)", "MULTIPOINT (1 1)", "MULTIPOINT (1 1, 1 1, 1 1)",
    "LINESTRING (0 0, 5 5)", "MULTIPOINT (2 2, 0 0, 2 2)",
    # collinear vertices, on a line and along polygon edges
    "LINESTRING (0 0, 1 1, 2 2, 3 3, 4 4)",
    "MULTIPOINT (3 0, 1 0, 2 0, 0 0, 1 0)",
    "POLYGON ((0 0, 1 0, 2 0, 2 1, 2 2, 1 2, 0 2, 0 1, 0 0))",
    # duplicate vertices
    "POLYGON ((0 0, 0 0, 4 0, 4 0, 4 4, 4 4, 0 4, 0 0))",
    "LINESTRING (0 0, 0 0, 1 2, 1 2, 3 0, 3 0)",
    # equidistant interior points: Douglas-Peucker splits at the first
    "LINESTRING (0 0, 1 1, 2 1, 3 0)",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 3, 3 3, 3 2, 2 2))",
    "MULTIPOLYGON (((0 0, 3 0, 3 3, 1.5 3.01, 0 3, 0 0)), "
    "((10 10, 12 10, 11 11.5, 10 10)))",
    "MULTILINESTRING ((0 0, 1 0.2, 2 0, 3 0.2, 4 0), (5 5, 5 6))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1.5, 2 0, 3 0), "
    "POLYGON ((5 5, 7 5, 7 5.05, 7 7, 5 7, 5 5)))",
]


def _signed_zero_batch():
    """Rows whose duplicate points differ only in the sign of a zero."""
    xs = [[0.0, -0.0, 1.0, 0.0], [-0.0, 0.0, 2.0, 2.0, -0.0],
          [1.0, 1.0, -0.0, 0.0]]
    ys = [[-0.0, 0.0, 0.0, 1.0], [0.0, 1.0, 1.0, -0.0, 0.0],
          [-0.0, 0.0, 3.0, 3.0]]
    return RaggedGeometry.from_pylists(
        [MULTIPOINT] * 3, xs, ys, [[1] * len(x) for x in xs],
        [[1] * len(x) for x in xs])


def _random_batch(seed, n=400, scale=1.0, offset=0.0):
    """Lines, rings, multipoints and polygons on a coarse grid (many
    duplicate and collinear points) plus jittered ones."""
    rng = np.random.default_rng(seed)
    gts, xs, ys, rings, parts = [], [], [], [], []
    for i in range(n):
        k = int(rng.integers(1, 30))
        if i % 3 == 0:
            # + 0.0 turns the grid's -0.0 into 0.0: which sign of a
            # duplicated zero survives is covered by the by-value tests
            x = np.round(rng.normal(size=k) * 3) / 2 + 0.0
            y = np.round(rng.normal(size=k) * 3) / 2 + 0.0
        else:
            x, y = rng.normal(size=k), rng.normal(size=k)
        x, y = x * scale + offset, y * scale - offset
        kind = i % 4
        if kind == 0 or k < 3:
            gts.append(MULTIPOINT); rings.append([1] * k); parts.append([1] * k)
        elif kind == 1:
            gts.append(LINESTRING); rings.append([k]); parts.append([1])
        else:
            x, y = np.append(x, x[0]), np.append(y, y[0])
            gts.append(POLYGON); rings.append([k + 1]); parts.append([1])
        xs.append(x); ys.append(y)
    return RaggedGeometry.from_pylists(gts, xs, ys, rings, parts)


# ---------------------------------------------------------------------------
# convex hull
# ---------------------------------------------------------------------------

def test_convex_hull_edge_inputs_match_reference():
    rg = wkt.parse(EDGE_WKT)
    _assert_same(algos.convex_hull(rg), ref_convex_hull(rg))
    for i in range(len(rg)):                 # batch == one row at a time
        _assert_same(algos.convex_hull(_row(rg, i)),
                     ref_convex_hull(_row(rg, i)))


def test_convex_hull_collinear_keeps_only_the_extremes():
    h = algos.convex_hull(wkt.parse(
        ["POLYGON ((0 0, 1 0, 2 0, 2 1, 2 2, 1 2, 0 2, 0 1, 0 0))",
         "MULTIPOINT (3 0, 1 0, 2 0, 0 0)"]))
    assert wkt.format(h) == ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                             "LINESTRING (0 0, 3 0)"]


def test_convex_hull_signed_zeros_match_by_value():
    rg = _signed_zero_batch()
    _assert_same(algos.convex_hull(rg), ref_convex_hull(rg), by_value=True)


@pytest.mark.parametrize("scale,offset", [(1.0, 0.0), (1e3, 2.0e7)])
def test_convex_hull_random_batches_match_reference(scale, offset):
    """offset 2e7 is Web-Mercator-sized: turn tests lose most of their
    significant bits there, so only identical arithmetic agrees."""
    for seed in (1, 2, 3):
        rg = _random_batch(seed, scale=scale, offset=offset)
        _assert_same(algos.convex_hull(rg), ref_convex_hull(rg))


def test_hull_vertices_collinear_extremes():
    """Minimum rotated rectangle and bounding circle take their hull
    from the batch kernel: collinear input spans the extremes."""
    rg = wkt.parse(["MULTIPOINT (0 0, 1 1, 2 2)", None, "POINT EMPTY"])
    mrr = algos.minimum_rotated_rectangle(rg)
    assert wkt.format(mrr)[0] == "LINESTRING (0 0, 2 2)"
    assert mrr.gt[1] == MISSING and mrr.gt[2] == POLYGON
    cx, cy, r = algos.minimum_bounding_circle_params(rg)
    assert (cx[0], cy[0]) == (1.0, 1.0)
    assert r[0] == pytest.approx(math.sqrt(2.0), rel=1e-15)
    assert np.isnan(r[1:]).all()


# ---------------------------------------------------------------------------
# Douglas-Peucker
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("tol", [0.0, 0.05, 0.5, 1.0, 100.0])
def test_simplify_edge_inputs_match_reference(tol):
    rg = wkt.parse(EDGE_WKT)
    _assert_same(algos.simplify(rg, tol), ref_simplify(rg, tol))


def test_simplify_splits_at_the_first_farthest_point():
    rg = wkt.parse(["LINESTRING (0 0, 1 1, 2 1, 3 0)"])
    assert wkt.format(algos.simplify(rg, 0.5)) == \
        ["LINESTRING (0 0, 1 1, 3 0)"]


def test_simplify_signed_zeros_match_by_value():
    rg = wkt.parse(["LINESTRING (0 0, -0 1e-9, 0 2, 1e-9 -0, -0 -0)"])
    for tol in (0.0, 1e-8):
        _assert_same(algos.simplify(rg, tol), ref_simplify(rg, tol),
                     by_value=True)


@pytest.mark.parametrize("scale,offset", [(1.0, 0.0), (1e3, 2.0e7)])
def test_simplify_random_batches_match_reference(scale, offset):
    for seed in (4, 5):
        rg = _random_batch(seed, scale=scale, offset=offset)
        for tol in (0.0, 0.3 * scale, 1.5 * scale):
            _assert_same(algos.simplify(rg, tol), ref_simplify(rg, tol))


def test_simplify_per_row_tolerance_matches_reference():
    rg = wkt.parse(EDGE_WKT * 3)
    n = len(rg)
    choices = np.array([0.0, 0.05, 0.5, 1.0])
    tols = choices[np.random.default_rng(7).integers(0, 4, n)]
    got = algos.simplify(rg, tols)
    for t in choices:
        want = ref_simplify(rg, float(t))
        for i in np.flatnonzero(tols == t):
            _assert_same(_row(got, i), _row(want, i))


# ---------------------------------------------------------------------------
# st.simplify / SQL st_simplify: one UDF, tolerance per row
# ---------------------------------------------------------------------------

ZIGZAG = "LINESTRING (0 0, 1 0.5, 2 0, 3 0.5, 4 0)"


def _zigzag_rows(spark):
    """Six rows in ONE partition (one Arrow batch), tolerance
    alternating 0.0 / 1.0, plus a NULL tolerance."""
    rows = [(i, ZIGZAG, float(i % 2)) for i in range(6)] + [(6, ZIGZAG, None)]
    return (spark.createDataFrame(rows, "id long, wkt string, tol double")
            .coalesce(1))


def test_sql_simplify_uses_each_rows_tolerance(spark):
    register_sql_functions(spark)
    _zigzag_rows(spark).createOrReplaceTempView("zz")
    got = {r.id: r.n for r in spark.sql(
        "SELECT id, st_npoints(st_simplify(st_geomfromtext(wkt), tol)) AS n "
        "FROM zz").collect()}
    assert got == {0: 5, 1: 2, 2: 5, 3: 2, 4: 5, 5: 2, 6: None}


def test_st_simplify_column_tolerance_matches_sql(spark):
    register_sql_functions(spark)
    df = _zigzag_rows(spark).withColumn("g", st.from_wkt("wkt"))
    api = {r.id: r.t for r in df.select(
        "id", st.to_wkt(st.simplify("g", F.col("tol"))).alias("t"))
        .collect()}
    df.createOrReplaceTempView("zz2")
    sql = {r.id: r.t for r in spark.sql(
        "SELECT id, st_astext(st_simplify(g, tol)) AS t FROM zz2").collect()}
    assert api == sql
    assert api[1] == "LINESTRING (0 0, 4 0)" and api[6] is None
    lit = df.select(st.to_wkt(st.simplify("g", 1.0)).alias("t")).collect()
    assert {r.t for r in lit} == {"LINESTRING (0 0, 4 0)"}


@pytest.mark.parametrize("expr,name", [
    ("st_buffer(g, CAST(id AS DOUBLE) + 1.0D)", "st_buffer"),
    ("st_subdivide(g, CAST(id AS INT) + 4)", "st_subdivide"),
    ("st_offsetcurve(g, CAST(id AS DOUBLE) + 1.0D)", "st_offsetcurve"),
])
def test_sql_parameter_varying_within_a_batch_raises(spark, expr, name):
    register_sql_functions(spark)
    _zigzag_rows(spark).createOrReplaceTempView("zz3")
    base = "SELECT st_astext({}) AS t FROM " \
           "(SELECT id, st_geomfromtext(wkt) AS g FROM zz3)"
    const = expr.replace("CAST(id AS DOUBLE) + ", "") \
        .replace("CAST(id AS INT) + ", "")
    assert len(spark.sql(base.format(const)).collect()) == 7
    with pytest.raises(Exception, match=f"{name}: the parameter must be"):
        spark.sql(base.format(expr)).collect()


# ---------------------------------------------------------------------------
# line_ref_stats: sequential row sums in bounded blocks
# ---------------------------------------------------------------------------

def _fold(h, s, c):
    acc = 0.0
    for v in h[s:s + c].tolist():
        acc += v
    return acc


def test_row_seq_sums_blocks_are_bounded_and_exact():
    rng = np.random.default_rng(11)
    cnt = rng.integers(1, 6, 300)
    cnt[17] = 5000                           # one skewed row
    starts = np.cumsum(cnt) - cnt
    h = rng.random(int(cnt.sum())) * 1e3
    budget = 64
    seen = []
    for rows in udfs._pad_blocks(cnt, budget):
        assert len(rows) == 1 or len(rows) * cnt[rows].max() <= budget
        seen.extend(rows.tolist())
    assert sorted(seen) == list(range(len(cnt)))
    got = udfs._row_seq_sums(h, starts, cnt, budget)
    want = [_fold(h, s, c) for s, c in zip(starts, cnt)]
    assert got.tolist() == want


def test_line_ref_stats_one_huge_row_matches_native(spark):
    """A 3-vertex line whose segmentized form has ~40k points next to
    200 short ones of the same vertex count: segmentized length and
    point count stay bit-identical to the native expressions."""
    rows = [(i, [0.0, 1.0 + i % 7, 2.0], [0.0, 0.5, float(i % 3)])
            for i in range(200)]
    rows.append((200, [0.0, 50000.0, 100000.0], [0.0, 1.0, 0.0]))
    df = spark.createDataFrame(
        rows, "id long, xs array<double>, ys array<double>").coalesce(1)
    d = df.select(
        "id",
        st.geom_struct(F.lit(1), F.col("xs"), F.col("ys"),
                       F.array(F.lit(3)), F.array(F.lit(1))).alias("ln"),
        st.geom_struct(F.lit(0), F.array(F.lit(1.0)), F.array(F.lit(1.0)),
                       F.array(F.lit(1)), F.array(F.lit(1))).alias("q"))
    d = d.select("id", st.freeze(F.col("ln")).alias("ln"),
                 st.freeze(F.col("q")).alias("q"))
    seg = st.freeze(st.segmentize("ln", 2.5))
    nat = {r.id: r for r in d.withColumn("__seg", seg).select(
        "id", F.size(F.col("__seg")["xs"]).cast("long").alias("seg_npts"),
        st.length(F.col("__seg")).alias("seg_len")).collect()}
    fus = {r.id: r for r in d.select(
        "id", st.line_ref_stats("ln", "q", 0.6, 2.5).alias("m"))
        .select("id", "m.seg_npts", "m.seg_len").collect()}
    assert nat[200].seg_npts > 40000
    assert {i: (r.seg_npts, r.seg_len) for i, r in fus.items()} == \
        {i: (r.seg_npts, r.seg_len) for i, r in nat.items()}


def test_st_simplify_number_chains_onto_a_python_udf_input(spark):
    """A numeric tolerance keeps st.simplify a one-argument UDF, so it
    is evaluated with the other UDFs over a WKB-decoded column in ONE
    Python eval node; a Column tolerance cannot chain."""
    df = spark.createDataFrame([(1, ZIGZAG)], "id long, wkt string")
    df = df.select("id", st.to_wkb(st.from_wkt("wkt")).alias("wkb"))
    g = df.withColumn("g", st.from_wkb("wkb"))

    def eval_nodes(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        return plan.count("ArrowEvalPython")

    one = g.select(st.convex_hull("g").alias("h"),
                   st.simplify("g", 0.1).alias("s"))
    assert eval_nodes(one) == 1
    assert one.count() == 1
    two = g.select(st.convex_hull("g").alias("h"),
                   st.simplify("g", F.lit(0.1)).alias("s"))
    assert eval_nodes(two) == 2
