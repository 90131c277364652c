"""SQL-string function registration.

``register_sql_functions(spark)`` exposes the geospatial surface to
``spark.sql(...)`` users as ``st_*`` functions (SURVEY §4's optional
extension point, implemented without Catalyst extensions: every SQL
function is an Arrow-batched pandas UDF over the numpy kernels).

Note the engineering split: the DataFrame API (`arctic_spark.st`) uses
native Catalyst expressions — faster, codegen-fused; the SQL registry
trades that for SQL-string accessibility. Both share the same numpy
kernel semantics, so results agree.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .geom import algos, batch, boolean, geojson, ragged, wkb, wkt
from .geom.ragged import MISSING
from .functions import udfs as _udfs
from .functions.udfs import ragged_from_pdf, ragged_to_pdf
from .sparktypes import GEOM_TYPE


def _scalar_udf(fn, ret):
    @pandas_udf(ret)
    def f(g: pd.DataFrame) -> pd.Series:
        return pd.Series(fn(ragged_from_pdf(g)))
    return f


def _geom_udf(fn):
    @pandas_udf(GEOM_TYPE)
    def f(g: pd.DataFrame) -> pd.DataFrame:
        return ragged_to_pdf(fn(ragged_from_pdf(g)))
    return f


def _batch_param(values: pd.Series, fn: str, default):
    """The single value a scalar parameter of ``fn`` takes in this
    batch. The kernels behind these functions take one parameter per
    call, so a parameter that varies between rows is refused rather
    than silently applied from the first row."""
    if not len(values):
        return default
    if values.nunique(dropna=False) > 1:
        raise ValueError(
            f"{fn}: the parameter must be the same for every row of a "
            f"batch; got {values.drop_duplicates().head(3).tolist()}; "
            "pass a literal")
    return values.iloc[0]


def _pair_geom_udf(op):
    """Row-aligned boolean overlay op (geom/boolean.py) for SQL users —
    full round-4/5 surface: general polygons + GEOS dimension rules."""
    @pandas_udf(GEOM_TYPE)
    def f(g1: pd.DataFrame, g2: pd.DataFrame) -> pd.DataFrame:
        return ragged_to_pdf(boolean.row_boolean(
            ragged_from_pdf(g1), ragged_from_pdf(g2), op))
    return f


def _pair_bool_udf(batch_fn):
    """Pairwise boolean predicate over whole-batch vectorized kernels
    (geom/batch.py) — no per-row Python in the SQL surface either."""
    @pandas_udf(T.BooleanType())
    def f(g1: pd.DataFrame, g2: pd.DataFrame) -> pd.Series:
        r1, r2 = ragged_from_pdf(g1), ragged_from_pdf(g2)
        vals = batch_fn(r1, r2)
        valid = (r1.gt != MISSING) & (r2.gt != MISSING)
        return pd.Series([bool(v) if m else None
                          for v, m in zip(vals, valid)], dtype="object")
    return f


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the st_* SQL functions on this session; returns the
    registered names."""
    import numpy as np

    @pandas_udf(GEOM_TYPE)
    def st_geomfromtext(texts: pd.Series) -> pd.DataFrame:
        return ragged_to_pdf(wkt.parse(texts.tolist()))

    @pandas_udf(T.StringType())
    def st_astext(g: pd.DataFrame) -> pd.Series:
        return pd.Series(wkt.format(ragged_from_pdf(g)))

    @pandas_udf(GEOM_TYPE)
    def st_geomfromwkb(buf: pd.Series) -> pd.DataFrame:
        return ragged_to_pdf(wkb.decode(
            [None if b is None else bytes(b) for b in buf]))

    @pandas_udf(T.BinaryType())
    def st_aswkb(g: pd.DataFrame) -> pd.Series:
        return pd.Series(wkb.encode(ragged_from_pdf(g)))

    @pandas_udf(GEOM_TYPE)
    def st_point(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        gts = [None if (a is None or b is None or pd.isna(a) or pd.isna(b))
               else ragged.POINT for a, b in zip(x, y)]
        return pd.DataFrame({
            "gt": pd.array(gts, dtype="Int32"),
            "xs": [None if t is None else [float(a)]
                   for t, a in zip(gts, x)],
            "ys": [None if t is None else [float(b)]
                   for t, b in zip(gts, y)],
            "rings": [None if t is None else [1] for t in gts],
            "parts": [None if t is None else [1] for t in gts]})

    def _centroid_coord(idx):
        def fn(rg):
            c = algos.centroid(rg)[idx]
            return [None if np.isnan(v) else float(v) for v in c]
        return fn

    def _xy(idx):
        def fn(rg):
            out = []
            for i in range(len(rg)):
                g, xs, ys, _, _ = rg.geom(i)
                if g == ragged.POINT and len(xs):
                    out.append(float((xs, ys)[idx][0]))
                else:
                    out.append(None)
            return out
        return fn

    @pandas_udf(T.DoubleType())
    def st_distance(g1: pd.DataFrame, g2: pd.DataFrame) -> pd.Series:
        r1, r2 = ragged_from_pdf(g1), ragged_from_pdf(g2)
        return pd.Series(batch.distance(r1, r2))

    @pandas_udf(GEOM_TYPE)
    def st_buffer(g: pd.DataFrame, dist: pd.Series) -> pd.DataFrame:
        d = float(_batch_param(dist, "st_buffer", 0.0))
        return ragged_to_pdf(algos.buffer(ragged_from_pdf(g), d))

    @pandas_udf(GEOM_TYPE)
    def st_subdivide(g: pd.DataFrame, mv: pd.Series) -> pd.DataFrame:
        m = int(_batch_param(mv, "st_subdivide", 128))
        return ragged_to_pdf(algos.subdivide(ragged_from_pdf(g), m))

    @pandas_udf(GEOM_TYPE)
    def st_offsetcurve(g: pd.DataFrame, dist: pd.Series) -> pd.DataFrame:
        d = float(_batch_param(dist, "st_offsetcurve", 0.0))
        return ragged_to_pdf(algos.offset_curve(ragged_from_pdf(g), d))

    @pandas_udf(GEOM_TYPE)
    def st_collectionextract(g: pd.DataFrame,
                             dim: pd.Series) -> pd.DataFrame:
        """dim 0/1/2 → points/lines/polygons of each (collection) row."""
        from .geom.ragged import (GEOMETRYCOLLECTION, LINESTRING,
                                  MULTILINESTRING, MULTIPOINT,
                                  MULTIPOLYGON, POINT, POLYGON, gc_iter)
        sub = {0: POINT, 1: LINESTRING, 2: POLYGON}[
            int(_batch_param(dim, "st_collectionextract", 2))]
        multi = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING,
                 POLYGON: MULTIPOLYGON}[sub]
        rg = ragged_from_pdf(g)
        gts, xs, ys, rings, parts = [], [], [], [], []
        for i in range(len(rg)):
            t = rg.geom(i)
            if t[0] == MISSING:
                gts.append(None); xs.append(None); ys.append(None)
                rings.append(None); parts.append(None)
                continue
            if t[0] != GEOMETRYCOLLECTION:
                if t[0] in (sub, multi):
                    gts.append(int(t[0])); xs.append(list(t[1]))
                    ys.append(list(t[2])); rings.append(list(t[3]))
                    parts.append(list(t[4]))
                else:
                    gts.append(multi); xs.append([]); ys.append([])
                    rings.append([]); parts.append([])
                continue
            nx, ny, nr, npart = [], [], [], []
            for (sgt, sx, sy, sr, sp) in gc_iter(t):
                if sgt == sub:
                    nx.extend(sx); ny.extend(sy); nr.extend(int(v) for v in sr)
                    npart.append(len(sr))
            gts.append(multi); xs.append(nx); ys.append(ny)
            rings.append(nr); parts.append(npart)
        return ragged_to_pdf(ragged.RaggedGeometry.from_pylists(
            gts, xs, ys, rings, parts))

    @pandas_udf(GEOM_TYPE)
    def st_snap(g1: pd.DataFrame, g2: pd.DataFrame,
                tol: pd.Series) -> pd.DataFrame:
        t = float(_batch_param(tol, "st_snap", 0.0))
        return ragged_to_pdf(algos.snap(ragged_from_pdf(g1),
                                        ragged_from_pdf(g2), t))

    @pandas_udf(GEOM_TYPE)
    def st_sharedpaths(g1: pd.DataFrame, g2: pd.DataFrame) -> pd.DataFrame:
        """Both direction classes, same-direction parts first (the
        DataFrame API's direction selector carries the class signal)."""
        import numpy as np
        r1, r2 = ragged_from_pdf(g1), ragged_from_pdf(g2)
        gts, xs, ys, rings, parts = [], [], [], [], []
        for i in range(len(r1)):
            t1, t2 = r1.geom(i), r2.geom(i)
            if t1[0] == MISSING or t2[0] == MISSING:
                gts.append(None); xs.append(None); ys.append(None)
                rings.append(None); parts.append(None)
                continue
            same, opp = boolean.shared_paths(t1, t2)
            gts.append(same[0])
            xs.append(list(same[1]) + list(opp[1]))
            ys.append(list(same[2]) + list(opp[2]))
            rings.append(list(same[3]) + list(opp[3]))
            parts.append(list(same[4]) + list(opp[4]))
        return ragged_to_pdf(ragged.RaggedGeometry.from_pylists(
            gts, xs, ys, rings, parts))

    @pandas_udf(T.BooleanType())
    def st_equals(g1: pd.DataFrame, g2: pd.DataFrame) -> pd.Series:
        r1, r2 = ragged_from_pdf(g1), ragged_from_pdf(g2)
        return pd.Series(
            [algos.equals_pair(r1.geom(i), r2.geom(i))
             if r1.gt[i] != MISSING and r2.gt[i] != MISSING else None
             for i in range(len(r1))], dtype="object")

    @pandas_udf(T.StringType())
    def st_asgeojson(g: pd.DataFrame) -> pd.Series:
        rg = ragged_from_pdf(g)
        return pd.Series([None if rg.gt[i] == MISSING
                          else geojson.dumps_one(*rg.geom(i))
                          for i in range(len(rg))], dtype="object")

    @pandas_udf(GEOM_TYPE)
    def st_geomfromgeojson(texts: pd.Series) -> pd.DataFrame:
        gts, xs, ys, rings, parts = [], [], [], [], []
        for t in texts:
            if t is None:
                gts.append(None); xs.append(None); ys.append(None)
                rings.append(None); parts.append(None)
                continue
            g, x, y, r, pp = geojson.loads_one(t)
            gts.append(int(g)); xs.append(list(map(float, x)))
            ys.append(list(map(float, y)))
            rings.append([int(v) for v in r])
            parts.append([int(v) for v in pp])
        return ragged_to_pdf(ragged.RaggedGeometry.from_pylists(
            gts, xs, ys, rings, parts))

    def _area(rg):
        a = algos.area(rg)
        return [None if np.isnan(v) else float(v) for v in a]

    def _length(rg):
        ln = algos.length(rg)
        return [None if np.isnan(v) else float(v) for v in ln]

    def _geomtype(rg):
        return [int(v) for v in rg.gt]

    def _isempty(rg):
        return [None if rg.gt[i] == MISSING
                else bool(rg.coord_offsets[i + 1] == rg.coord_offsets[i])
                for i in range(len(rg))]

    def _npoints(rg):
        return [None if rg.gt[i] == MISSING
                else int(rg.coord_offsets[i + 1] - rg.coord_offsets[i])
                for i in range(len(rg))]

    def _numgeometries(rg):
        out = []
        for i in range(len(rg)):
            t = rg.geom(i)
            if t[0] == MISSING:
                out.append(None)
            elif t[0] == ragged.MULTIPOINT:
                out.append(int(len(t[1])))
            elif t[0] in (ragged.MULTILINESTRING, ragged.MULTIPOLYGON,
                          ragged.GEOMETRYCOLLECTION):
                out.append(int(len(t[4])))
            else:
                out.append(1 if len(t[1]) else 0)
        return out

    def _ring_bounds(rings):
        o = 0
        for n in rings:
            yield o, int(n)
            o += int(n)

    def _isclosed(rg):
        out = []
        for i in range(len(rg)):
            gt, xs, ys, rings, _ = rg.geom(i)
            if gt == MISSING:
                out.append(None)
            elif gt in (ragged.LINESTRING, ragged.MULTILINESTRING) \
                    and len(xs):
                out.append(all(xs[o] == xs[o + n - 1]
                               and ys[o] == ys[o + n - 1]
                               for o, n in _ring_bounds(rings)))
            else:
                out.append(False)
        return out

    def _shoelace(xs, ys):
        import numpy as np
        return 0.5 * float(np.dot(xs[:-1], ys[1:])
                           - np.dot(xs[1:], ys[:-1]))

    def _isccw(rg):
        out = []
        for i in range(len(rg)):
            gt, xs, ys, _, _ = rg.geom(i)
            if gt == MISSING:
                out.append(None)
            elif gt == ragged.LINESTRING and len(xs) >= 4 \
                    and xs[0] == xs[-1] and ys[0] == ys[-1]:
                out.append(_shoelace(xs, ys) > 0)
            else:
                out.append(False)
        return out

    @pandas_udf(GEOM_TYPE)
    def st_forcepolygonccw(g: pd.DataFrame) -> pd.DataFrame:
        """Exterior rings CCW, holes CW (PostGIS ST_ForcePolygonCCW) —
        the SQL face of st.orient_polygons."""
        rg = ragged_from_pdf(g)
        gts, xs, ys, rings, parts = [], [], [], [], []
        for i in range(len(rg)):
            gt, x, y, r, p = rg.geom(i)
            if gt == MISSING:
                gts.append(None); xs.append(None); ys.append(None)
                rings.append(None); parts.append(None)
                continue
            if gt not in (ragged.POLYGON, ragged.MULTIPOLYGON):
                gts.append(int(gt)); xs.append(list(x)); ys.append(list(y))
                rings.append([int(v) for v in r])
                parts.append([int(v) for v in p])
                continue
            ext = set()
            o = 0
            for nr in p:
                ext.add(o)
                o += int(nr)
            nx, ny = [], []
            for ri, (o, n) in enumerate(_ring_bounds(r)):
                rx, ry = list(x[o:o + n]), list(y[o:o + n])
                want_ccw = ri in ext
                cur_ccw = _shoelace(x[o:o + n], y[o:o + n]) > 0
                if want_ccw != cur_ccw:
                    rx.reverse(); ry.reverse()
                nx.extend(rx); ny.extend(ry)
            gts.append(int(gt)); xs.append(nx); ys.append(ny)
            rings.append([int(v) for v in r])
            parts.append([int(v) for v in p])
        return ragged_to_pdf(ragged.RaggedGeometry.from_pylists(
            gts, xs, ys, rings, parts))

    @pandas_udf(T.StringType())
    def st_geohash(lon: pd.Series, lat: pd.Series,
                   prec: pd.Series) -> pd.Series:
        """Same bit walk as the native st.geohash (python replica for
        the SQL surface)."""
        b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
        p = int(_batch_param(prec, "st_geohash", 12))
        nbits = 5 * p
        nlon = (nbits + 1) // 2
        nlat = nbits // 2
        out = []
        for lo, la in zip(lon, lat):
            if lo is None or la is None or pd.isna(lo) or pd.isna(la):
                out.append(None)
                continue
            fx = (min(max(float(lo), -180.0), 180.0) + 180.0) / 360.0
            fy = (min(max(float(la), -90.0), 90.0) + 90.0) / 180.0
            bx = min(int(fx * (1 << nlon)), (1 << nlon) - 1)
            by = min(int(fy * (1 << nlat)), (1 << nlat) - 1)
            chars = []
            for i in range(p):
                val = 0
                for b in range(5):
                    j = 5 * i + b
                    k = j // 2
                    bit = ((bx >> (nlon - 1 - k)) if j % 2 == 0
                           else (by >> (nlat - 1 - k))) & 1
                    val = (val << 1) | bit
                chars.append(b32[val])
            out.append("".join(chars))
        return pd.Series(out, dtype="object")

    fns = {
        "st_geomfromtext": st_geomfromtext,
        "st_astext": st_astext,
        "st_geomfromwkb": st_geomfromwkb,
        "st_aswkb": st_aswkb,
        "st_point": st_point,
        "st_area": _scalar_udf(_area, T.DoubleType()),
        "st_length": _scalar_udf(_length, T.DoubleType()),
        "st_geometrytype": _scalar_udf(_geomtype, T.IntegerType()),
        "st_isempty": _scalar_udf(_isempty, T.BooleanType()),
        "st_x": _scalar_udf(_xy(0), T.DoubleType()),
        "st_y": _scalar_udf(_xy(1), T.DoubleType()),
        "st_centroid_x": _scalar_udf(_centroid_coord(0), T.DoubleType()),
        "st_centroid_y": _scalar_udf(_centroid_coord(1), T.DoubleType()),
        "st_convexhull": _geom_udf(algos.convex_hull),
        "st_intersects": _pair_bool_udf(batch.intersects),
        "st_contains": _pair_bool_udf(batch.contains),
        "st_touches": _pair_bool_udf(batch.touches),
        "st_crosses": _pair_bool_udf(batch.crosses),
        "st_overlaps": _pair_bool_udf(batch.overlaps),
        "st_equals": st_equals,
        "st_intersection": _pair_geom_udf("intersection"),
        "st_difference": _pair_geom_udf("difference"),
        "st_union": _pair_geom_udf("union"),
        "st_symdifference": _pair_geom_udf("symmetric_difference"),
        "st_asgeojson": st_asgeojson,
        "st_geomfromgeojson": st_geomfromgeojson,
        "st_distance": st_distance,
        "st_buffer": st_buffer,
        "st_simplify": _udfs.simplify_udf,
        "st_relate": _udfs.relate,
        # round-6 shape descriptors
        "st_hausdorffdistance": _udfs.hausdorff_distance,
        "st_frechetdistance": _udfs.frechet_distance,
        "st_orientedenvelope": _geom_udf(algos.minimum_rotated_rectangle),
        "st_concavehull": _geom_udf(algos.concave_hull),
        "st_polygonize": _geom_udf(algos.polygonize),
        "st_buildarea": _geom_udf(algos.build_area),
        "st_split": _udfs.split,
        "st_subdivide": st_subdivide,
        "st_makevalid": _geom_udf(algos.make_valid),
        "st_normalize": _geom_udf(algos.normalize),
        "st_node": _geom_udf(algos.node_lines),
        "st_snap": st_snap,
        "st_collectionextract": st_collectionextract,
        "st_offsetcurve": st_offsetcurve,
        "st_sharedpaths": st_sharedpaths,
        "st_delaunaytriangles": _geom_udf(algos.delaunay_triangles),
        "st_voronoipolygons": _geom_udf(algos.voronoi_polygons),
        "st_minimumboundingradius": _udfs.minimum_bounding_radius,
        "st_minimumclearance": _udfs.minimum_clearance,
        "st_maximuminscribedcircle": _udfs.maximum_inscribed_circle,
        "st_shortestline": _udfs.shortest_line,
        "st_closestpoint": _udfs.closest_point,
        "st_longestline": _udfs.longest_line,
        "st_maxdistance": _udfs.max_distance,
        "st_geohash": st_geohash,
        "st_isvalid": _scalar_udf(algos.is_valid, T.BooleanType()),
        "st_issimple": _scalar_udf(algos.is_simple, T.BooleanType()),
        "st_isvalidreason": _scalar_udf(algos.is_valid_reason,
                                        T.StringType()),
        # round-6 orientation/structure accessors
        "st_npoints": _scalar_udf(_npoints, T.IntegerType()),
        "st_numgeometries": _scalar_udf(_numgeometries, T.IntegerType()),
        "st_isclosed": _scalar_udf(_isclosed, T.BooleanType()),
        "st_isccw": _scalar_udf(_isccw, T.BooleanType()),
        "st_forcepolygonccw": st_forcepolygonccw,
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    # the simple accessors are then re-bound to expression-bodied SQL
    # UDFs (pure Catalyst, no Arrow boundary) — r7, VERDICT r6 #8
    native_names = register_native_sql_functions(spark)
    return sorted(set(fns) | set(native_names))


# ---------------------------------------------------------------------------
# expression-bodied SQL UDFs (round 7, VERDICT r6 #8)
# ---------------------------------------------------------------------------

_GC_SHIFT = 1 << 24   # typed-part packing (geom/ragged.py GC_SHIFT)


def _sql_fsum(arr, tag):
    return f"aggregate({arr}, 0.0D, (acc{tag}, v{tag}) -> acc{tag} + v{tag})"


def _sql_offsets(arr, tag):
    return (f"aggregate({arr}, array(0), (oacc{tag}, ov{tag}) -> "
            f"concat(oacc{tag}, array(element_at(oacc{tag}, -1) + ov{tag})))")


def _sql_seq0(n):
    return (f"CASE WHEN {n} > 0 THEN sequence(0, CAST({n} - 1 AS INT)) "
            f"ELSE CAST(array() AS array<int>) END")


def _sql_let(bound, var, body):
    """Bind ``bound`` once as lambda variable ``var`` inside ``body`` —
    the SQL-text twin of functions.native._let (transform-over-
    singleton-array trick; Spark SQL has no LET)."""
    return f"element_at(transform(array({bound}), {var} -> {body}), 1)"


def _sql_shoelace(o, n, tag):
    """0.5 * signed shoelace over coords [o, o+n) — mirrors
    native._signed_area_span; ``o`` is a 0-based SQL int expression."""
    a = _sql_fsum(f"zip_with(slice(g.xs, {o} + 1, {n} - 1), "
                  f"slice(g.ys, {o} + 2, {n} - 1), "
                  f"(sx{tag}, sny{tag}) -> sx{tag} * sny{tag})", f"a{tag}")
    b = _sql_fsum(f"zip_with(slice(g.xs, {o} + 2, {n} - 1), "
                  f"slice(g.ys, {o} + 1, {n} - 1), "
                  f"(snx{tag}, sy{tag}) -> snx{tag} * sy{tag})", f"b{tag}")
    return f"(0.5D * ({a} - {b}))"


def _sql_ring_length(o, n, tag):
    dx2 = (f"zip_with(slice(g.xs, {o} + 2, {n} - 1), "
           f"slice(g.xs, {o} + 1, {n} - 1), "
           f"(lxa{tag}, lxb{tag}) -> (lxa{tag} - lxb{tag}) * "
           f"(lxa{tag} - lxb{tag}))")
    dy2 = (f"zip_with(slice(g.ys, {o} + 2, {n} - 1), "
           f"slice(g.ys, {o} + 1, {n} - 1), "
           f"(lya{tag}, lyb{tag}) -> (lya{tag} - lyb{tag}) * "
           f"(lya{tag} - lyb{tag}))")
    return _sql_fsum(f"zip_with({dx2}, {dy2}, "
                     f"(ld{tag}, le{tag}) -> sqrt(ld{tag} + le{tag}))",
                     f"l{tag}")


def _sql_area_body():
    """SQL transliteration of functions.native.area — exterior rings +,
    holes −, orientation-insensitive; GC rows sum polygon parts."""
    single = f"abs({_sql_shoelace('0', 'size(g.xs)', 's')})"
    ring_o = "element_at(co, i + 1)"
    ring_n = "element_at(g.rings, i + 1)"
    sa = _sql_shoelace(ring_o, ring_n, "r")
    term = _sql_let(sa, "sa", (
        f"CASE WHEN g.gt = 7 AND element_at(rsub, i + 1) != 3 THEN 0.0D "
        f"WHEN array_contains(ext, i) THEN abs(sa) "
        f"ELSE -abs(sa) END"))
    terms = f"transform({_sql_seq0('size(g.rings)')}, i -> {term})"
    nr = f"transform(g.parts, pe -> pe % {_GC_SHIFT})"
    ext = f"slice({_sql_offsets(nr, 'x')}, 1, size(g.parts))"
    rsub = (f"flatten(transform(g.parts, qe -> array_repeat("
            f"CAST(qe / {_GC_SHIFT} AS INT), CAST(qe % {_GC_SHIFT} AS INT))))")
    multi = _sql_let(
        f"{_sql_offsets('g.rings', 'c')}", "co",
        _sql_let(ext, "ext",
                 _sql_let(rsub, "rsub", _sql_fsum(terms, "t"))))
    return (f"CASE WHEN g IS NOT NULL AND g.gt IS NOT NULL THEN "
            f"CASE WHEN g.gt IN (3, 6) AND size(g.rings) = 1 THEN {single} "
            f"WHEN g.gt IN (3, 6, 7) THEN {multi} "
            f"ELSE 0.0D END END")


def _sql_length_body():
    """SQL transliteration of functions.native.length — lines → total,
    polygons → exterior rings only, GC parts per sub-type."""
    single = _sql_ring_length("0", "size(g.xs)", "s")
    ring_o = "element_at(co, i + 1)"
    ring_n = "element_at(g.rings, i + 1)"
    rl = _sql_ring_length(ring_o, ring_n, "r")
    want = ("((CASE WHEN g.gt = 7 THEN element_at(rsub, i + 1) = 1 "
            "ELSE g.gt IN (1, 5) END) OR "
            "((CASE WHEN g.gt = 7 THEN element_at(rsub, i + 1) = 3 "
            "ELSE g.gt IN (3, 6) END) AND array_contains(ext, i)))")
    term = f"CASE WHEN {want} THEN {rl} ELSE 0.0D END"
    terms = f"transform({_sql_seq0('size(g.rings)')}, i -> {term})"
    nr = f"transform(g.parts, pe -> pe % {_GC_SHIFT})"
    ext = f"slice({_sql_offsets(nr, 'x')}, 1, size(g.parts))"
    rsub = (f"flatten(transform(g.parts, qe -> array_repeat("
            f"CAST(qe / {_GC_SHIFT} AS INT), CAST(qe % {_GC_SHIFT} AS INT))))")
    multi = _sql_let(
        f"{_sql_offsets('g.rings', 'c')}", "co",
        _sql_let(ext, "ext",
                 _sql_let(rsub, "rsub", _sql_fsum(terms, "t"))))
    return (f"CASE WHEN g IS NOT NULL AND g.gt IS NOT NULL THEN "
            f"CASE WHEN g.gt IN (1, 3, 5, 6) AND size(g.rings) = 1 "
            f"THEN {single} "
            f"WHEN g.gt IN (1, 3, 5, 6, 7) THEN {multi} "
            f"ELSE 0.0D END END")


def register_native_sql_functions(spark: SparkSession) -> list[str]:
    """Expression-bodied SQL UDFs (``CREATE OR REPLACE TEMPORARY
    FUNCTION ... RETURNS ... RETURN <expr>``, Spark 3.5+) for the simple
    accessors — pure Catalyst expressions inlined at the call site, so
    SQL-string users get the SAME whole-stage-codegen plan as the
    DataFrame API, with no Arrow/pandas boundary (r6 VERDICT #8: the
    uniform pandas registry cost 10-30x on tight accessor loops).

    Called from :func:`register_sql_functions` AFTER the pandas
    registrations, so these names override their pandas twins; the
    pandas versions remain the implementation for everything a SQL
    expression can't say (hulls, overlays, relate...)."""
    from .sparktypes import GEOM_DDL
    g = GEOM_DDL
    defs = {
        "st_area": ("DOUBLE", f"(g {g})", _sql_area_body()),
        "st_length": ("DOUBLE", f"(g {g})", _sql_length_body()),
        "st_x": ("DOUBLE", f"(g {g})",
                 "CASE WHEN g.gt = 0 AND size(g.xs) > 0 "
                 "THEN element_at(g.xs, 1) END"),
        "st_y": ("DOUBLE", f"(g {g})",
                 "CASE WHEN g.gt = 0 AND size(g.ys) > 0 "
                 "THEN element_at(g.ys, 1) END"),
        "st_geometrytype": ("INT", f"(g {g})", "coalesce(g.gt, -1)"),
        "st_isempty": ("BOOLEAN", f"(g {g})",
                       "CASE WHEN g IS NOT NULL AND g.gt IS NOT NULL "
                       "THEN coalesce(size(g.xs), 0) = 0 END"),
        "st_npoints": ("INT", f"(g {g})",
                       "CASE WHEN g IS NOT NULL AND g.gt IS NOT NULL "
                       "THEN coalesce(size(g.xs), 0) END"),
        "st_numgeometries": ("INT", f"(g {g})",
                             "CASE WHEN g IS NULL OR g.gt IS NULL THEN NULL "
                             "WHEN g.gt = 4 THEN size(g.xs) "
                             "WHEN g.gt IN (5, 6, 7) THEN size(g.parts) "
                             "WHEN size(g.xs) > 0 THEN 1 ELSE 0 END"),
        "st_translate": (g, f"(g {g}, dx DOUBLE, dy DOUBLE)",
                         "CASE WHEN g IS NOT NULL AND g.gt IS NOT NULL THEN "
                         "named_struct('gt', g.gt, "
                         "'xs', transform(g.xs, tx -> tx + dx), "
                         "'ys', transform(g.ys, ty -> ty + dy), "
                         "'rings', g.rings, 'parts', g.parts) END"),
    }
    for name, (ret, params, body) in defs.items():
        # a python-registered name cannot be CREATE OR REPLACE'd by a
        # SQL UDF — drop it first (same temp-function namespace)
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        spark.sql(f"CREATE TEMPORARY FUNCTION {name}{params} "
                  f"RETURNS {ret} RETURN {body}")
    return sorted(defs)
