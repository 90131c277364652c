"""Build-once lambda templates behind the native geometry functions
(``functions.native.let_once``): a template served from the session
memo must give the same rows as a fresh build, stay correct when one
template is shared inside a projection, key literal arguments by type,
never cache a Column argument, and keep a warm build to a few py4j
round trips."""

import contextlib

import pytest
from pyspark.sql import functions as F

from arctic_spark import st
from arctic_spark.functions import native
from arctic_spark.geom import algos, wkt
from arctic_spark.proj import transform_geom

DONUT = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
MPOLY = ("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
         "((5 5, 7 5, 7 7, 5 7, 5 5)))")
GC = ("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 3), "
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))")
ROWS = [None, "POLYGON EMPTY", "POINT (3 7)", "LINESTRING (0 0, 3 4, 3 8)",
        DONUT, MPOLY, GC]

# (function, literal arguments, keyword arguments): several entries
# share a function with different literals, so a key that dropped an
# argument would hand one of them the other's template
CASES = [
    (st.area, (), {}),
    (st.length, (), {}),
    (st.centroid, (), {}),
    (st.envelope, (), {}),
    (st.exterior, (), {}),
    (st.count_coordinates, (), {}),
    (st.num_parts, (), {}),
    (st.boundary, (), {}),
    (st.reverse, (), {}),
    (st.is_empty, (), {}),
    (st.geom_type_name, (), {}),
    (st.rotate, (30,), {}),
    (st.rotate, (90.0,), {"origin": (1.0, 2.0)}),
    (st.scale, (2, 3), {}),
    (st.scale, (2, 3), {"origin": "centroid"}),
    (st.segmentize, (2.0,), {}),
    (st.segmentize, (0.5,), {}),
    (st.contains_point, (1.0, 1.0), {}),
    (st.contains_point, (3.0, 3.0), {}),
]


@pytest.fixture(scope="module")
def gdf(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ROWS)],
                               "id int, wkt string")
    return (df.withColumn("geometry", st.from_wkt("wkt"))
              .withColumn("px", F.lit(1.0) + F.col("id") % 2 * 2.0)
              .withColumn("py", F.lit(1.0) + F.col("id") % 2 * 2.0)
              .cache())


def _fresh(fn, g, *args, **kwargs):
    """The expression a template stands for, built from scratch through
    ``F.transform`` with no memo involved."""
    return native._let(native._g(g),
                       lambda gg: fn.__wrapped__(gg, *args, **kwargs))


def _rows(df, cols):
    return [tuple(repr(v) for v in r)
            for r in df.select("id", *cols).orderBy("id").collect()]


@contextlib.contextmanager
def _py4j_calls(spark):
    """Counts the py4j commands sent inside the ``with`` block."""
    client = spark.sparkContext._gateway._gateway_client
    n = [0]
    inner = client.send_command

    def send(*a, **k):
        n[0] += 1
        return inner(*a, **k)

    client.send_command = send
    try:
        yield n
    finally:
        del client.send_command


def test_cached_build_matches_fresh_build(gdf):
    g = F.col("geometry")
    for fn, args, kwargs in CASES:
        fn(g, *args, **kwargs)                      # fill the memo
    cached = [fn(g, *args, **kwargs).alias(f"c{i}")
              for i, (fn, args, kwargs) in enumerate(CASES)]
    fresh = [_fresh(fn, g, *args, **kwargs).alias(f"c{i}")
             for i, (fn, args, kwargs) in enumerate(CASES)]
    assert _rows(gdf, cached) == _rows(gdf, fresh)


def test_one_template_two_inputs_in_one_projection(spark):
    df = spark.createDataFrame([(0, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                                 "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"),
                                (1, DONUT, None)],
                               "id int, a string, b string")
    df = (df.withColumn("ga", st.from_wkt("a"))
            .withColumn("gb", st.from_wkt("b")))
    st.area("ga")
    rows = df.select("id", st.area("ga").alias("aa"),
                     st.area("gb").alias("ab"),
                     (st.area("ga") + st.area("gb")).alias("s")) \
             .orderBy("id").collect()
    assert [(r.aa, r.ab, r.s) for r in rows] == [(4.0, 9.0, 13.0),
                                                (96.0, None, None)]


def test_nested_templates(gdf):
    g = F.col("geometry")
    c = st.centroid(g)
    nested = [st.area(st.envelope(st.centroid(g))).alias("a"),
              st.x(c).alias("cx"), st.y(c).alias("cy"),
              st.x(st.centroid(st.centroid(g))).alias("ccx"),
              st.area(st.envelope(g)).alias("env")]
    fc = _fresh(st.centroid, g)
    fresh = [_fresh(st.area, _fresh(st.envelope, fc)), _fresh(st.x, fc),
             _fresh(st.y, fc), _fresh(st.x, _fresh(st.centroid, fc)),
             _fresh(st.area, _fresh(st.envelope, g))]
    assert _rows(gdf, nested) == _rows(gdf, fresh)
    rows = gdf.select("id", *nested).orderBy("id").collect()
    rg = wkt.parse(ROWS)
    cx, cy = algos.centroid(rg)
    b = algos.bounds(rg)
    for r in rows:
        i = r.id
        if ROWS[i] is None:
            assert (r.a, r.cx, r.cy, r.env) == (None, None, None, None)
        elif ROWS[i] not in ("POLYGON EMPTY", GC):
            assert r.a == 0.0
            assert (r.cx, r.cy) == (pytest.approx(cx[i]),
                                    pytest.approx(cy[i]))
            assert r.ccx == r.cx
            assert r.env == pytest.approx((b[i, 2] - b[i, 0])
                                          * (b[i, 3] - b[i, 1]))


def test_literal_keys_carry_their_type():
    key = native._literal_key
    assert len({key(1), key(1.0), key(True)}) == 3
    assert key(-0.0) != key(0.0)
    assert key(float("nan")) == key(float("nan"))
    assert key((1, 2.0)) != key([1, 2.0])
    for not_literal in (F.col("x"), (1.0, F.col("x")), {"a": 1}):
        with pytest.raises(TypeError):
            key(not_literal)


def test_typed_keys_do_not_collide(gdf):
    g = F.col("geometry")
    # each literal reaches the plan with its own type, whichever of the
    # equal-valued calls filled the memo first
    for _ in range(2):
        assert "(90, 0.0174" in str(st.rotate(g, 90))
        assert "(90.0, 0.0174" in str(st.rotate(g, 90.0))
        assert "(-0.0, 0.0174" in str(st.rotate(g, -0.0))
        assert "(0.0, 0.0174" in str(st.rotate(g, 0.0))
        assert "2.0" not in str(st.segmentize(g, 2))
        assert "2.0" in str(st.segmentize(g, 2.0))
    # the md5 seed of sample_points is the literal key cast to string:
    # "1", "1.0" and "true" draw different points
    keys = (1, 1.0, True)
    draws = [st.sample_points(g, 4, k).alias(f"d{j}")
             for j, k in enumerate(keys)]
    fresh = [_fresh(st.sample_points, g, 4, k).alias(f"d{j}")
             for j, k in enumerate(keys)]
    got = _rows(gdf, draws)
    assert got == _rows(gdf, fresh)
    assert len(set(got[ROWS.index(DONUT)][1:])) == 3


def test_column_arguments_stay_per_call(gdf):
    g = F.col("geometry")
    rows = gdf.select(
        "id",
        st.contains_point(g, F.col("px"), F.col("py")).alias("pp"),
        st.contains_point(g, F.col("py") + 4.0, F.col("px") + 4.0)
        .alias("qq"),
        st.contains_point(g, 1.0, 1.0).alias("a"),
        st.contains_point(g, 3.0, 3.0).alias("b"),
        st.contains_point(g, 5.0, 5.0).alias("c"),
        st.contains_point(g, 7.0, 7.0).alias("d")).orderBy("id").collect()
    for r in rows:
        assert r.pp == (r.b if r.id % 2 else r.a)
        assert r.qq == (r.d if r.id % 2 else r.c)
    donut = rows[ROWS.index(DONUT)]
    assert (donut.a, donut.b, donut.c) == (True, False, True)


@pytest.mark.parametrize("build", [
    lambda: st.area(F.col("g")),
    lambda: st.centroid(F.col("g")),
    lambda: st.rotate(F.col("g"), 45.0, origin="centroid"),
    lambda: transform_geom(F.col("g"), "EPSG:4326", "EPSG:3857"),
], ids=["area", "centroid", "rotate", "to_crs"])
def test_warm_build_round_trip_budget(spark, build):
    build()
    with _py4j_calls(spark) as n:
        build()
    assert n[0] <= 40, f"{n[0]} py4j calls for a warm build"


def test_memo_is_scoped_to_the_live_context(spark):
    st.area(F.col("g"))
    assert native._MEMO_CTX is spark.sparkContext
    assert any(isinstance(k, tuple) and k[0] is st.area.__wrapped__
               for k in native._EXPR_MEMO)
