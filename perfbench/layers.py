"""Per-layer timings outside the passes, for the traced run.

L0 runs each hot kernel in this process with numpy on the workload's
own arrays, with no Spark.  L1 runs the nearest-landmark kernel through
its pandas UDF over ``spark.range`` batches into a ``noop`` sink; the
executors' run time minus the L0 time of the same rows is the cost of
the Arrow UDF boundary.
"""

from __future__ import annotations

import glob
import os
import pstats
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels.inverse import inverse as kinverse
from geographiclib_go_spark.operators import cells
from geographiclib_go_spark.operators import nearest
from geographiclib_go_spark.operators import spatial_join as sj
from geographiclib_go_spark.plans import pipeline as pl

from perfbench.sparkstats import group_counters

# query points whose covers the L0 cover timings build
COVER_SAMPLE = 256
# knn_join's first ring round in geo_join: res 4, 3 rings
RING_RES, RING_RINGS = 4, 3
TILE_RES = 6
_PHI1, _PHI2 = 0.6180339887498949, 0.7548776662466927


def _range_latlon_np(n: int) -> tuple:
    """Area-uniform points from ids 0..n-1, the same arithmetic as
    ``_range_latlon_sql`` so L0 and L1 see the same rows."""
    x = np.arange(n, dtype=np.float64)
    u = x * _PHI1 - np.floor(x * _PHI1)
    v = x * _PHI2 - np.floor(x * _PHI2)
    return np.degrees(np.arcsin(2 * u - 1)), 360 * v - 180


def _range_latlon_sql():
    u = f"(id * {_PHI1}D - floor(id * {_PHI1}D))"
    v = f"(id * {_PHI2}D - floor(id * {_PHI2}D))"
    return (F.expr(f"degrees(asin(2 * {u} - 1))").alias("lat"),
            F.expr(f"360 * {v} - 180").alias("lon"))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _nearest_l0(lat, lon) -> float:
    """nearest_dim_kernel over the landmarks, sliced the way its UDF
    slices an Arrow batch."""
    g = GeodesicModel(WGS84_A, WGS84_F)
    ids = np.array([r[0] for r in pl.DEFAULT_LANDMARKS], dtype=np.int64)
    dlat = np.array([r[1] for r in pl.DEFAULT_LANDMARKS])
    dlon = np.array([r[2] for r in pl.DEFAULT_LANDMARKS])
    dvec = nearest._unit_vectors(dlat, dlon)

    def run():
        for i in range(0, lat.size, nearest.CHUNK):
            sl = slice(i, i + nearest.CHUNK)
            nearest.nearest_dim_kernel(g, lat[sl], lon[sl], ids, dlat, dlon,
                                       dvec, 1)
    return _timed(run)


def kernel_layers(ctx, lat, lon, q_lat, q_lon) -> dict:
    """L0 numbers on the given point and query arrays."""
    g = GeodesicModel(WGS84_A, WGS84_F)
    out = {}
    with ctx.span("kernels.inverse", "kernels"):
        s = _timed(lambda: kinverse(g, lat[:-1], lon[:-1], lat[1:], lon[1:],
                                    C.DISTANCE))
    out["kernels.inverse.rows_per_s"] = (lat.size - 1) / s
    with ctx.span("kernels.nearest_dim", "kernels"):
        out["kernels.nearest_dim.rows_per_s"] = lat.size / _nearest_l0(
            lat, lon)
    with ctx.span("kernels.cell", "kernels"):
        s = _timed(lambda: cells.cell_from_latlon(lat, lon, TILE_RES))
    out["kernels.cell.rows_per_s"] = lat.size / s
    qla = pd.Series(q_lat[:COVER_SAMPLE])
    qlo = pd.Series(q_lon[:COVER_SAMPLE])
    res, radius_rad = sj.plan_radius(20_000.0)
    with ctx.span("operators.cells.cap_cover", "operators"):
        out["operators.cells.cap_cover_s"] = _timed(
            lambda: sj.cap_cover_udf(res, radius_rad).func(qla, qlo))
    with ctx.span("operators.cells.ring_cover", "operators"):
        out["operators.cells.ring_cover_s"] = _timed(
            lambda: sj.ring_cover_udf(RING_RES, RING_RINGS).func(qla, qlo))
    return out


def udf_boundary_s(ctx, n: int) -> float:
    """L1 executor run time minus L0 kernel time over the same n rows."""
    lat, lon = _range_latlon_np(n)
    with ctx.span("kernels.nearest_dim", "kernels"):
        l0 = _nearest_l0(lat, lon)
    udf = nearest.make_nearest_dim_udf(pl.DEFAULT_LANDMARKS, k=1)
    df = ctx.spark.range(0, n, 1, ctx.cpus).select(*_range_latlon_sql())
    group = "layers/udf_l1"
    ctx.spark.sparkContext.setJobGroup(group, "L1 nearest UDF")
    with ctx.span("functions.nearest_udf", "functions"):
        (df.select(udf("lat", "lon").alias("nn")).write.format("noop")
         .mode("overwrite").save())
    l1 = group_counters(ctx.spark, group)["executor_run_s"]
    return l1 - l0


def udf_profile(spark, path: str) -> tuple:
    """(share of in-UDF self time spent in the kernels package, top
    functions by self time) from the perf UDF profiler's dump."""
    spark.profile.dump(path, type="perf")
    # the profiles name files by base name only
    kernel_files = {f for f in os.listdir(os.path.dirname(C.__file__))
                    if f.endswith(".py") and f != "__init__.py"}
    by_fn = {}
    kern = 0.0
    for f in glob.glob(os.path.join(path, "*.pstats")):
        for (file, _, fn), (_, _, tt, _, _) in pstats.Stats(f).stats.items():
            key = f"{file}:{fn}"
            by_fn[key] = by_fn.get(key, 0.0) + tt
            if file in kernel_files:
                kern += tt
    total = sum(by_fn.values())
    top = sorted(by_fn.items(), key=lambda kv: -kv[1])[:5]
    return (kern / total if total else 0.0,
            [(k, round(v / total, 4)) for k, v in top])
