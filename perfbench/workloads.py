"""The perfbench jobs, written against arctic_spark's public API.

Each job rebuilds its DataFrames from the input files, runs one Spark
action and returns a signature the oracle can check. Every call into
arctic_spark and every action sits in a ``Tracer`` span; the span's
layer is ``plan`` for driver-side plan construction and ``action`` for
work Spark executes.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import arctic_spark
from arctic_spark import GeoDataFrame, st
from arctic_spark import joins
from arctic_spark.io import read_geoparquet, write_geoparquet

import oracle
from gen import BATTERY_TOL


def _long(c):
    return F.col(c).cast("long")


class Workload:
    def __init__(self, spark, input_dir, work_dir):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir

    def path(self, name):
        return os.path.join(self.input_dir, name)

    def read(self, tr, name):
        with tr.span("io.read_geoparquet", "plan"):
            return read_geoparquet(self.spark, self.path(name))

    def collect(self, tr, df):
        with tr.span("action.collect", "action"):
            return df.collect()[0]

    def verify(self):
        """Extra signature fields read back after the timed job."""
        return {}


class PipJoin(Workload):
    """sjoin(points, polygons, predicate='intersects'), library defaults."""

    def run(self, tr):
        with tr.span("st.point", "plan"):
            raw = self.spark.read.parquet(self.path("points"))
            points = GeoDataFrame(raw.select(
                "pid", st.point(F.col("x"), F.col("y")).alias("geometry")))
        polygons = self.read(tr, "polygons")
        with tr.span("joins.sjoin", "plan"):
            out = arctic_spark.sjoin(points, polygons, predicate="intersects")
        with tr.span("dataframe.agg", "plan"):
            a, b = _long("pid_left"), _long("gid_right")
            agg = out.df.agg(
                F.count(F.lit(1)).alias("matches"),
                F.sum(a * 100_003 + b).alias("key_sum"),
                F.sum((a * 7919 + b * 104_729) % oracle.KEY_MOD)
                .alias("key_mod_sum"))
        row = self.collect(tr, agg)
        return {"matches": int(row["matches"]),
                "key_sum": int(row["key_sum"] or 0),
                "key_mod_sum": int(row["key_mod_sum"] or 0)}


class Overlay(Workload):
    """overlay(left, right, how='intersection') of convex polygons."""

    def run(self, tr):
        left = self.read(tr, "left")
        right = self.read(tr, "right")
        with tr.span("joins.overlay", "plan"):
            out = arctic_spark.overlay(left, right, how="intersection")
        with tr.span("st.area", "plan"):
            df = out.df.withColumn("piece_area", st.area("geometry"))
        with tr.span("dataframe.agg", "plan"):
            agg = df.agg(F.count(F.lit(1)).alias("pieces"),
                         F.sum("piece_area").alias("area_sum"),
                         F.sum(_long("gid_1") * 100_003 + _long("gid_2"))
                         .alias("key_sum"))
        row = self.collect(tr, agg)
        return {"pieces": int(row["pieces"]),
                "area_sum": float(row["area_sum"] or 0.0),
                "key_sum": int(row["key_sum"] or 0)}


class BatteryRW(Workload):
    """read_geoparquet -> per-row unary metric battery -> write_geoparquet
    (WKB). No shuffle: every metric is a native HOF expression or a
    pandas UDF over the row's geometry."""

    def out_dir(self):
        return os.path.join(self.work_dir, "battery_rw_out")

    def run(self, tr):
        gdf = self.read(tr, "polygons")
        g = F.col("geometry")
        with tr.span("st.native_metrics", "plan"):
            x0, y0, x1, y1 = st.bounds(g)
            c = st.centroid(g)
            df = gdf.df.select(
                "gid", "geometry",
                F.col("geometry").alias("mgeom"),
                st.area(g).alias("area"),
                st.length(g).alias("length"),
                st.x(c).alias("cx"), st.y(c).alias("cy"),
                (x0 + y0 + x1 + y1).alias("bsum"),
                st.is_ccw(st.exterior(g)).cast("long").alias("ccw"))
        with tr.span("geodataframe.to_crs", "plan"):
            df = GeoDataFrame(df, "mgeom", gdf.crs).to_crs("EPSG:3857").df
        with tr.span("st.udf_metrics", "plan"):
            df = (df.withColumn("hull", st.convex_hull(g))
                    .withColumn("simp", st.simplify(g, BATTERY_TOL))
                    .withColumn("valid", st.is_valid(g).cast("long"))
                    .withColumn("merc_area", st.area("mgeom"))
                    .withColumn("hull_area", st.area("hull"))
                    .withColumn("simp_n",
                                st.count_coordinates("simp").cast("long"))
                    .drop("mgeom", "hull", "simp"))
        with tr.span("io.write_geoparquet", "action"):
            write_geoparquet(GeoDataFrame(df, "geometry", gdf.crs),
                             self.out_dir(), mode="overwrite", wkb=True)
        return {}

    def verify(self):
        return oracle.check_written(self.out_dir(), self.input_dir)


WORKLOADS = {
    "pip_join": PipJoin,
    "overlay": Overlay,
    "battery_rw": BatteryRW,
}


def trace_cell_size(tracer):
    """Record a ``cell_size`` span around every estimate_cell_size call
    (sjoin/overlay call it through the joins module)."""
    inner = joins.estimate_cell_size

    def traced(*args, **kwargs):
        with tracer.span("joins.estimate_cell_size", "cell_size"):
            return inner(*args, **kwargs)

    joins.estimate_cell_size = traced
