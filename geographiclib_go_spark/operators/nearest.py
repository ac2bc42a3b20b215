"""Map-only nearest-dim join: for every row of a big fact table, the
k nearest rows of a SMALL dim table (landmarks, stations, hubs) by
exact geodesic distance (inverse.go:30-355 kernel as the metric).

This is the scale-critical shape of the flagship pipeline ("images
tiled + spatially joined per second"): the dim side is tiny, so the
correct 100 TB plan is NOT a shuffle join at all — the dim table is
baked into the UDF closure (effectively a broadcast) and the whole
join is a single map-only Arrow stage over the fact table.  No
shuffle, no window, no driver loop; scales linearly with executors.

Exactness: a chord-angle prefilter ranks dim rows per fact row on the
unit sphere (geographic lat/lon -> 3-vectors, one N x M matmul), then
the exact Karney inverse kernel runs only on candidates that could
beat the kth chord candidate.  The candidate margin uses the bound
  b * sigma12 <= s12 <= a * sigma12
(geodesic arc on the auxiliary sphere, line.go:114 k2 range: the
integrand sqrt(1 + k^2 sin^2 sigma) is within [1, a/b]), widened by a
safety factor for the (reduced-latitude vs geocentric) angle mismatch,
and is verified against the exhaustive N x M kernel evaluation in
tests/test_nearest.py.  For f = 0 the chord order IS the geodesic
order and the margin collapses to ties-only.

The transposed shape (a SMALL query side, a big point table) is one
closure scan, _closure_scan: a mapInPandas over the points with the
queries in the closure, re-joined to the broadcast q_-prefixed query
side.  knn_points_topk runs nearest_dim_kernel per chunk with the
queries as its fact side; radius_dim_join filters by radius_ang_max
and refines exactly.  The auto strategies of spatial_join and
clustering.dbscan pick these scans with one probe, _probe_scan_side,
whose rows the scan then consumes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geographiclib_go_spark.functions import localdf as _ldf
from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels.inverse import inverse as kinverse

MAX_DIM_ROWS = 100_000  # closure-broadcast budget (3 float64 arrays)
CHUNK = 8192  # rows per kernel slice (keeps temporaries in cache)
SCAN_AUTO_ROWS = 4096  # largest query side the auto joins scan


def _unit_vectors(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    la = np.radians(lat_deg)
    lo = np.radians(lon_deg)
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)],
                    axis=-1)


def chord_margin(g: GeodesicModel) -> tuple:
    """(ratio, pad) of the chord-angle candidate margin: a point can
    beat a candidate at central angle `kth` in geodesic distance only
    if its own central angle is <= kth * ratio + pad.  From
    b * sigma12 <= s12 <= a * sigma12, widened for the
    geographic-vs-auxiliary-sphere angle difference, O(f) small."""
    f_abs = abs(g.f)
    return (g.a / g.b) * (1.0 + 8.0 * f_abs) + 1e-12, 4.0 * f_abs + 1e-12


def radius_ang_max(g: GeodesicModel, radius_m: float) -> float:
    """Central angle (radians, between geographic unit vectors) that
    every point with geodesic s12 <= radius_m lies within."""
    ratio, pad = chord_margin(g)
    return (radius_m / g.b) * ratio + pad


def nearest_dim_kernel(g: GeodesicModel, lat: np.ndarray, lon: np.ndarray,
                       dim_ids: np.ndarray, dim_lat: np.ndarray,
                       dim_lon: np.ndarray, dim_vec: np.ndarray,
                       k: int = 1):
    """Pure-numpy core: (ids[n,k] int64, s12[n,k] float64), columns
    ordered by ascending exact geodesic distance.  Pads with -1/NaN
    when k > len(dim)."""
    n = lat.size
    m = dim_ids.size
    kk = min(k, m)
    p = _unit_vectors(lat, lon)                      # (n, 3)
    cosang = np.clip(p @ dim_vec.T, -1.0, 1.0)       # (n, m)
    ang = np.arccos(cosang)                          # central angle, rad

    # kth smallest chord angle per row
    if kk < m:
        kth = np.partition(ang, kk - 1, axis=1)[:, kk - 1]
    else:
        kth = ang.max(axis=1)

    # a dim row can beat the kth chord candidate in geodesic distance
    # only inside the chord margin
    ratio, pad = chord_margin(g)
    cand = ang <= (kth[:, None] * ratio + pad)

    rows, cols = np.nonzero(cand)
    s12 = kinverse(g, lat[rows], lon[rows],
                   dim_lat[cols], dim_lon[cols], C.DISTANCE)["s12"]

    # per-row top-k among candidates: sort by (row, s12), take first kk
    order = np.lexsort((s12, rows))
    rows_o, cols_o, s_o = rows[order], cols[order], s12[order]
    # position of each candidate within its row group
    first = np.r_[True, rows_o[1:] != rows_o[:-1]]
    grp_start = np.maximum.accumulate(np.where(first,
                                               np.arange(rows_o.size), 0))
    pos = np.arange(rows_o.size) - grp_start
    keep = pos < kk

    out_ids = np.full((n, kk), -1, dtype=np.int64)
    out_s12 = np.full((n, kk), np.nan)
    out_ids[rows_o[keep], pos[keep]] = dim_ids[cols_o[keep]]
    out_s12[rows_o[keep], pos[keep]] = s_o[keep]
    return out_ids, out_s12


def make_nearest_dim_udf(dim_rows, k: int = 1,
                         a: float = WGS84_A, f: float = WGS84_F):
    """dim_rows: iterable of (id, lat, lon).  Returns a pandas UDF
    nearest(lat, lon):
      k == 1 -> struct<nn_id long, nn_s12 double>  (pure columnar —
               no per-row Python objects cross the Arrow boundary)
      k > 1  -> struct<nn_ids array<long>, nn_s12 array<double>>
               (ascending distance)."""
    dim = list(dim_rows)
    if not dim or len(dim) > MAX_DIM_ROWS:
        raise ValueError(f"dim side must have 1..{MAX_DIM_ROWS} rows")
    dim_ids = np.array([int(r[0]) for r in dim], dtype=np.int64)
    dim_lat = np.array([float(r[1]) for r in dim])
    dim_lon = np.array([float(r[2]) for r in dim])
    dim_vec = _unit_vectors(dim_lat, dim_lon)
    g = GeodesicModel(a, f)

    if k == 1:
        schema1 = T.StructType([
            T.StructField("nn_id", T.LongType(), False),
            T.StructField("nn_s12", T.DoubleType(), False),
        ])

        @pandas_udf(schema1)
        def nearest1(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
            la = lat.to_numpy(np.float64)
            lo = lon.to_numpy(np.float64)
            n = la.size
            out_id = np.empty(n, dtype=np.int64)
            out_s = np.empty(n)
            # slice the Arrow batch so the kernel's temporaries stay
            # cache-resident even with many concurrent workers
            step = CHUNK
            for lo_i in range(0, n, step):
                sl = slice(lo_i, min(lo_i + step, n))
                ids, s12 = nearest_dim_kernel(
                    g, la[sl], lo[sl], dim_ids, dim_lat, dim_lon,
                    dim_vec, 1)
                out_id[sl] = ids[:, 0]
                out_s[sl] = s12[:, 0]
            return pd.DataFrame({"nn_id": out_id, "nn_s12": out_s})

        return nearest1

    schema = T.StructType([
        T.StructField("nn_ids", T.ArrayType(T.LongType()), False),
        T.StructField("nn_s12", T.ArrayType(T.DoubleType()), False),
    ])

    @pandas_udf(schema)
    def nearest(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        ids, s12 = nearest_dim_kernel(g, la, lo, dim_ids, dim_lat,
                                      dim_lon, dim_vec, k)
        return pd.DataFrame({"nn_ids": list(ids), "nn_s12": list(s12)})

    return nearest


def _q_prefixed(df: DataFrame) -> DataFrame:
    """Every column of the query side renamed to q_<name>: the
    query-side naming of all geodesic-join outputs."""
    return df.withColumnsRenamed({c: f"q_{c}" for c in df.columns})


def _query_rows(qdf: DataFrame, id_col: str, query_cols, limit: int) -> list:
    """At most `limit` (id, lat, lon) rows of the query side.  The
    limit bounds the collect, so an oversized side is detected without
    materializing it on the driver."""
    return qdf.select(id_col, *query_cols).limit(limit).collect()


def _probe_scan_side(queries: DataFrame, id_col: str, query_cols):
    """The strategy probe of the auto joins: the query side's
    (id, lat, lon) rows when the closure scans can take it — at most
    SCAN_AUTO_ROWS rows, ids present, non-null and distinct — else
    None (the cover/ring plans keep per-row identity and take over).
    One Spark job; the scans consume the returned rows, so the auto
    path never collects the query side twice."""
    if id_col not in queries.columns:
        return None
    rows = _query_rows(queries, id_col, query_cols, SCAN_AUTO_ROWS + 1)
    ids = [r[0] for r in rows]
    if (len(rows) > SCAN_AUTO_ROWS or None in ids
            or len(set(ids)) < len(ids)):
        return None
    return rows


def _closure_scan(points: DataFrame, queries, qrows, id_col: str,
                  query_cols, point_cols, pairs):
    """Shared core of the small-query-side scans: the query side rides
    in the closure and one map-only pass over `points` emits candidate
    (point row, q_<id_col>, s12) rows.

    qrows: the side's (id, lat, lon) rows when already probed, else
    None (collected here, limit-probed).  pairs(la, lo, qlat, qlon,
    qvec) -> (point index, query index, s12) arrays for one CHUNK of
    points.  Returns (candidates, q_-prefixed query side) for the
    broadcast re-join on q_<id_col>."""
    if isinstance(queries, DataFrame):
        qdf = queries
        if qrows is None:
            qrows = _query_rows(qdf, id_col, query_cols, MAX_DIM_ROWS + 1)
    else:
        qrows = list(queries)
        qdf = _ldf.literal_df(
            points.sparkSession,
            [(int(i), float(la), float(lo)) for i, la, lo in qrows],
            f"{id_col} long, lat double, lon double")
    if not qrows or len(qrows) > MAX_DIM_ROWS:
        raise ValueError(f"query side must have 1..{MAX_DIM_ROWS} rows")
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    if np.unique(qids).size != qids.size:
        raise ValueError(
            f"{id_col} must be unique for the scan strategies (results "
            "are keyed on it: duplicate ids would merge top-k sets and "
            "multiply radius matches); dedupe the query side or use "
            "the cover/ring strategy")
    qlat = np.array([float(r[1]) for r in qrows])
    qlon = np.array([float(r[2]) for r in qrows])
    qvec = _unit_vectors(qlat, qlon)
    lat_col, lon_col = point_cols
    qkey = f"q_{id_col}"
    out_schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField(qkey, T.LongType(), False),
           T.StructField("s12", T.DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            for lo_i in range(0, len(pdf), CHUNK):
                sub = pdf.iloc[lo_i:lo_i + CHUNK]
                rows, cols, s12 = pairs(sub[lat_col].to_numpy(np.float64),
                                        sub[lon_col].to_numpy(np.float64),
                                        qlat, qlon, qvec)
                if rows.size:
                    out = sub.iloc[rows].copy()
                    out[qkey] = qids[cols]
                    out["s12"] = s12
                    yield out

    return points.mapInPandas(gen, out_schema), _q_prefixed(qdf)


def knn_points_topk(points: DataFrame, queries, k: int,
                    a: float = WGS84_A, f: float = WGS84_F,
                    point_cols=("lat", "lon"),
                    query_cols=("lat", "lon"),
                    id_col: str = "qid") -> DataFrame:
    """k nearest POINTS for each of a SMALL set of queries — the
    transposed shape of nearest_dim_join, as a classic distributed
    top-k: one closure scan of the points runs nearest_dim_kernel per
    CHUNK with the queries as its fact side (chord prefilter + exact
    kernel, local top-min(k, chunk) per query), then a tiny global
    window keeps the true top-k.  No ring logic, no driver rounds, no
    shuffle of the big side — the scale plan for "nearest images to
    each landmark" at 10^12 rows.

    queries: DataFrame (id, lat, lon) or iterable of (id, lat, lon);
    ids must be distinct.  Output matches spatial_join.knn_join: q_*
    columns + point columns + s12 + rank.
    """
    return _knn_scan(points, queries, None, k, a, f, point_cols,
                     query_cols, id_col)


def _knn_scan(points, queries, qrows, k, a, f, point_cols, query_cols,
              id_col):
    """knn_points_topk over already-probed query rows (qrows=None:
    collect them)."""
    g = GeodesicModel(a, f)

    def pairs(la, lo, qlat, qlon, qvec):
        m = la.size
        idx, s12 = nearest_dim_kernel(g, qlat, qlon, np.arange(m), la, lo,
                                      _unit_vectors(la, lo), min(k, m))
        return (idx.ravel(), np.repeat(np.arange(qlat.size), idx.shape[1]),
                s12.ravel())

    cand, q_pref = _closure_scan(points, queries, qrows, id_col,
                                 query_cols, point_cols, pairs)
    qkey = f"q_{id_col}"
    w = Window.partitionBy(qkey).orderBy(F.col("s12").asc())
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    return top.join(F.broadcast(q_pref), qkey)


def radius_dim_join(points: DataFrame, queries, radius_m: float,
                    a: float = WGS84_A, f: float = WGS84_F,
                    point_cols=("lat", "lon"),
                    query_cols=("lat", "lon"),
                    id_col: str = "qid") -> DataFrame:
    """All (query, point) pairs with geodesic s12 <= radius_m, for a
    SMALL query set — one closure scan of the points: the chord-angle
    bound radius_ang_max (s12 >= b * sigma on the auxiliary sphere,
    widened by the chord_margin of nearest_dim_kernel) prefilters
    candidates per CHUNK and the exact kernel refines.  No cover
    explode, no shuffle of the big side.

    queries: as knn_points_topk.  Output matches
    spatial_join.distance_join: q_* columns + point columns + s12.
    """
    return _radius_scan(points, queries, None, radius_m, a, f,
                        point_cols, query_cols, id_col)


def _radius_scan(points, queries, qrows, radius_m, a, f, point_cols,
                 query_cols, id_col):
    """radius_dim_join over already-probed query rows (qrows=None:
    collect them)."""
    g = GeodesicModel(a, f)
    ang_max = radius_ang_max(g, radius_m)

    def pairs(la, lo, qlat, qlon, qvec):
        ang = np.arccos(np.clip(_unit_vectors(la, lo) @ qvec.T, -1.0, 1.0))
        rows, cols = np.nonzero(ang <= ang_max)
        s12 = kinverse(g, la[rows], lo[rows], qlat[cols], qlon[cols],
                       C.DISTANCE)["s12"]
        keep = s12 <= radius_m
        return rows[keep], cols[keep], s12[keep]

    cand, q_pref = _closure_scan(points, queries, qrows, id_col,
                                 query_cols, point_cols, pairs)
    return cand.join(F.broadcast(q_pref), f"q_{id_col}")


def nearest_dim_join(big: DataFrame, dim, k: int = 1,
                     a: float = WGS84_A, f: float = WGS84_F,
                     lat_col: str = "lat", lon_col: str = "lon",
                     id_out: str = "nn_id", s12_out: str = "s12",
                     rank_out: str = "rank") -> DataFrame:
    """Annotate `big` with its k nearest dim rows (exact geodesic).

    dim: DataFrame with (id-like first column, lat, lon) OR an iterable
    of (id, lat, lon) tuples.  k=1 adds scalar columns (nn_id, s12);
    k>1 posexplodes to one output row per (big row, rank).
    """
    if isinstance(dim, DataFrame):
        cols = dim.columns
        # limit-probe BEFORE materializing; make_nearest_dim_udf re-checks
        # the exact 1..MAX_DIM_ROWS bound on whatever list arrives
        dim = [(r[cols[0]], r["lat"], r["lon"])
               for r in dim.limit(MAX_DIM_ROWS + 1).collect()]
    udf = make_nearest_dim_udf(dim, k=k, a=a, f=f)
    out = big.withColumn("_nn", udf(F.col(lat_col), F.col(lon_col)))
    if k == 1:
        return (out.withColumn(id_out, F.col("_nn.nn_id"))
                .withColumn(s12_out, F.col("_nn.nn_s12"))
                .drop("_nn"))
    zipped = F.arrays_zip(F.col("_nn.nn_ids").alias("i"),
                          F.col("_nn.nn_s12").alias("d"))
    out = out.select("*", F.posexplode(zipped).alias("_pos", "_pair"))
    return (out.withColumn(id_out, F.col("_pair.i"))
            .withColumn(s12_out, F.col("_pair.d"))
            .withColumn(rank_out, (F.col("_pos") + 1).cast("int"))
            .filter(F.col(id_out) >= 0)
            .drop("_nn", "_pos", "_pair"))
