"""The three workloads.  Each writes its seeded input once per set-up,
runs one pass per call to ``run_pass`` (a fixed sequence of calls into
the engine's public functions), and checks the outputs.

Sizes are fixed per workload; the seed only moves the ``image_id``
range fed to the generators in ``sources.images``, so every seed gives
the same amount of work on different rows.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geographiclib_go_spark.operators import nearest, tiling
from geographiclib_go_spark.operators import pip as kpip
from geographiclib_go_spark.operators import spatial_join as sj
from geographiclib_go_spark.plans import lineage
from geographiclib_go_spark.plans import pipeline as pl
from geographiclib_go_spark.sources import images as im

from perfbench import checks
from perfbench.sparkstats import refine_rows

# room for every workload's rows under one seed
SEED_STRIDE = 100_000_000
# any integer seed picks one of this many row ranges; keeps the 12-digit
# image_id strings of generate_images
SEED_SLOTS = 10_000
# query ids start here within a seed's range, past every point id
QUERY_ID_BASE = 50_000_000


class _OffsetRange:
    """Stands in for the session inside a generator from
    ``sources.images``: the generator asks for ``range(0, n)`` and gets
    ``range(offset, offset + n)``, which is how the seed picks rows."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset

    @property
    def sparkContext(self):
        return self._spark.sparkContext

    def range(self, start, end, step=1, numPartitions=None):
        return self._spark.range(start + self._offset, end + self._offset,
                                 step, numPartitions)


def _dir_bytes_files(path: str) -> tuple:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Workload:
    """Subclasses fill in generate/open/run_pass/reference/check.
    ``rows`` is the input row count a pass processes; ``staged`` is the
    pipeline a traced run also measures, if any; ``open`` binds
    ``points``, the table whose rows the numpy kernel timings use."""
    name = ""
    rows = 0
    staged = None

    def __init__(self, seed: int):
        self.seed = seed
        self.slot = seed % SEED_SLOTS
        self.offset = self.slot * SEED_STRIDE
        self.ref = None

    def kernel_points(self, ctx) -> tuple:
        """(lat, lon) arrays of this workload's own input for the
        numpy-only kernel timings."""
        pdf = self.points.select("lat", "lon").limit(ctx.l0_rows).toPandas()
        return pdf["lat"].to_numpy(), pdf["lon"].to_numpy()

    def kernel_queries(self, ctx) -> tuple:
        lat = np.array([r[1] for r in pl.DEFAULT_LANDMARKS])
        lon = np.array([r[2] for r in pl.DEFAULT_LANDMARKS])
        return lat, lon


class TileJoin(Workload):
    """The paper's metric, images tiled and spatially joined per second.
    Map-only: the kernels and the Arrow UDF boundary do nearly all the
    work."""
    name = "tile_join"
    rows = 1_000_000
    TILE_RES = 6
    SAMPLE = 2_000

    @property
    def staged(self):
        return StagedPipeline(self.seed)

    def generate(self, ctx, dest):
        im.generate_placements(_OffsetRange(ctx.spark, self.offset),
                               self.rows).write.parquet(dest)

    def open(self, ctx, src):
        self.points = ctx.spark.read.parquet(src)

    def _tiles_near(self, ctx, images):
        with ctx.span("operators.tiling.assign_tiles", "operators"):
            tiles = tiling.assign_tiles(
                images.select("image_id", "phash", "lat", "lon"),
                tile_res=self.TILE_RES)
        with ctx.span("operators.nearest.nearest_dim_join", "operators"):
            return nearest.nearest_dim_join(tiles, pl.DEFAULT_LANDMARKS, k=1)

    def run_pass(self, ctx):
        def tile_join():
            near = self._tiles_near(ctx, self.points)
            agg = (near.groupBy("tile_id", "nn_id")
                   .agg(F.count("*").alias("n_images"),
                        F.approx_count_distinct("phash").alias("n_phash")))
            with ctx.span("spark.collect", "spark"):
                pdf = agg.toPandas()
            return pdf.sort_values(["tile_id", "nn_id"]) \
                .reset_index(drop=True)
        return {"tile_join": ctx.call("tile_join", tile_join)}

    def reference(self, ctx, out):
        rng = np.random.default_rng(self.slot)
        ids = (self.offset
               + rng.choice(self.rows, self.SAMPLE, replace=False)).tolist()
        sample = (self._tiles_near(
            ctx, self.points.filter(F.col("image_id").isin(ids)))
            .select("image_id", "lat", "lon", "tile_id", "nn_id").toPandas())
        groups = out["tile_join"]
        self.ref = _frame_key(groups)
        return {"tile_join": checks.tile_join_problems(
            groups, self.rows, sample, pl.DEFAULT_LANDMARKS, self.TILE_RES)}

    def check(self, ctx, out):
        return {"tile_join": checks.same_output(
            "tile_join groups", _frame_key(out["tile_join"]), self.ref)}


class GeoJoin(Workload):
    """The paths tile_join skips: cover planning in operators.cells,
    shuffle equi-joins, window top-k and driver rounds.  The strategies
    are pinned; a query side this small would auto-select the map-only
    scans."""
    name = "geo_join"
    rows = 100_000
    queries = 300
    RADIUS_M = 20_000.0
    K = 4
    # knn_join picks its cell resolution from the point count alone;
    # at res 6 the number of ring rounds then hangs on whether the seed
    # draws a query in a sparse spot (12 to 22 jobs from seed to seed).
    # At res 4 every seed resolves in the same rounds.
    KNN_RES = 4

    def generate(self, ctx, dest):
        spark = ctx.spark
        im.generate_placements(_OffsetRange(spark, self.offset),
                               self.rows).write.parquet(
            os.path.join(dest, "points"))
        (im.generate_placements(
            _OffsetRange(spark, self.offset + QUERY_ID_BASE), self.queries)
         .select(F.col("image_id").alias("qid"), "lat", "lon")
         .write.parquet(os.path.join(dest, "queries")))

    def open(self, ctx, src):
        self.points = ctx.spark.read.parquet(os.path.join(src, "points"))
        self.qs = ctx.spark.read.parquet(os.path.join(src, "queries"))

    def _radius(self, ctx, strategy):
        with ctx.span("operators.spatial_join.distance_join", "operators"):
            d = sj.distance_join(self.points, self.qs, self.RADIUS_M,
                                 strategy=strategy).select("q_qid", "image_id")
        with ctx.span("spark.collect", "spark"):
            pairs = frozenset(map(tuple, d.toPandas().to_numpy().tolist()))
        return d, pairs

    def _knn(self, ctx, strategy):
        with ctx.span("operators.spatial_join.knn_join", "operators"):
            d = sj.knn_join(self.points, self.qs, self.K, res=self.KNN_RES,
                            strategy=strategy)
        with ctx.span("spark.collect", "spark"):
            return d.select("q_qid", "rank", "image_id", "s12").toPandas()

    def run_pass(self, ctx):
        def radius():
            d, pairs = self._radius(ctx, "cover")
            if ctx.tracing:
                ctx.layer_values["refine_rows"] = refine_rows(d)
            return pairs

        def knn():
            return self._knn(ctx, "ring")

        def pip():
            with ctx.span("operators.spatial_join.pip_join", "operators"):
                d = sj.pip_join(self.points.select("image_id", "lat", "lon"),
                                {1: pl.ANTARCTICA_RING}).select("image_id")
            with ctx.span("spark.collect", "spark"):
                return frozenset(d.toPandas()["image_id"].tolist())

        return {"radius": ctx.call("radius", radius),
                "knn": ctx.call("knn", knn),
                "pip": ctx.call("pip", pip)}

    def reference(self, ctx, out):
        _, want_pairs = self._radius(ctx, "scan")
        want_knn = self._knn(ctx, "scan_topk")
        pts = self.points.select("image_id", "lat", "lon").toPandas()
        rla, rlo = (np.asarray(v, dtype=np.float64)
                    for v in pl.ANTARCTICA_RING)
        inside = kpip.points_in_ring(pts["lat"].to_numpy(),
                                     pts["lon"].to_numpy(), rla, rlo)
        want_pip = frozenset(pts["image_id"][inside].tolist())
        self.ref = {"radius": out["radius"], "knn": _frame_key(out["knn"]),
                    "pip": out["pip"]}
        return {"radius": checks.set_problems("radius", out["radius"],
                                               want_pairs),
                "knn": checks.knn_problems(out["knn"], want_knn),
                "pip": checks.set_problems("pip", out["pip"], want_pip)}

    def check(self, ctx, out):
        return {"radius": checks.same_output("radius", out["radius"],
                                             self.ref["radius"]),
                "knn": checks.same_output("knn", _frame_key(out["knn"]),
                                          self.ref["knn"]),
                "pip": checks.same_output("pip", out["pip"],
                                          self.ref["pip"])}

    def kernel_queries(self, ctx):
        pdf = self.qs.select("lat", "lon").toPandas()
        return pdf["lat"].to_numpy(), pdf["lon"].to_numpy()


class StagedPipeline(Workload):
    """The flagship again, staged through ``plans.lineage`` by
    ``pipeline.tile_and_join``: the engine's only write path (lineage
    publish and checksums, image decode invariants, dedup/components).
    A pass builds 6 snapshots on a fresh stage root, then calls again
    with the same fingerprint, which resumes from them.  Traced
    ``tile_join`` runs measure it as the plans layer."""
    name = "staged_pipeline"
    rows = 5_000
    # tile_and_join result key -> the stage's directory under stage_root
    STAGES = {"tiles": "tiles", "nearest": "nearest_landmark",
              "in_polygon": "pip", "invariants": "invariants",
              "dedup_split": "dedup_split", "tile_stats": "tile_stats"}

    def generate(self, ctx, dest):
        im.generate_images(_OffsetRange(ctx.spark, self.offset), self.rows,
                           skew_pct=3).write.parquet(dest)
        self.input_bytes = _dir_bytes_files(dest)[0]

    def open(self, ctx, src):
        self.images = ctx.spark.read.parquet(src)

    def _tile_and_join(self, ctx, root):
        with ctx.span("plans.pipeline.tile_and_join", "plans"):
            res = pl.tile_and_join(ctx.spark, self.images, stage_root=root,
                                   fingerprint=f"seed-{self.seed}")
        counts = {}
        for stage in self.STAGES:
            with ctx.span("spark.count", "spark"):
                counts[stage] = res[stage].count()
        return res, counts

    def run_pass(self, ctx):
        root = os.path.join(ctx.work, "stages", ctx.pass_label)
        built = ctx.call("build", lambda: self._tile_and_join(ctx, root))
        versions = _versions(root)
        if ctx.tracing:
            written, files = _dir_bytes_files(root)
            ctx.layer_values.update({
                "plans.lineage.bytes_written": written,
                "plans.lineage.files_written": files,
                "plans.lineage.write_amp": written / self.input_bytes})
        resumed = ctx.call("resume", lambda: self._tile_and_join(ctx, root))
        same = sum(1 for s, v in _versions(root).items()
                   if versions.get(s) == v)
        ctx.layer_values["plans.lineage.resumed_stages"] = same
        return {"root": root, "build": built, "resume": resumed,
                "reused": same}

    def reference(self, ctx, out):
        (b_res, b_counts), (r_res, r_counts) = out["build"], out["resume"]
        build = {s: (b_counts[s], _checksum(b_res[s])) for s in self.STAGES}
        resume = {s: (r_counts[s], _checksum(r_res[s])) for s in self.STAGES}
        verified = {s: lineage.verify_stage(ctx.spark, out["root"], d)
                    for s, d in self.STAGES.items()}
        # psnr_ok is a per-row flag that some lossy (jpeg-sim) rows
        # fail by design; lossless rows must always pass
        psnr_bad = (r_res["invariants"]
                    .filter((F.col("fmt") == "ppm") & ~F.col("psnr_ok"))
                    .count())
        self.ref = (b_counts, r_counts)
        problems = checks.staged_problems(build, resume, verified, psnr_bad,
                                          out["reused"])
        self.cleanup(out)
        return {"resume": problems}

    def check(self, ctx, out):
        got = (out["build"][1], out["resume"][1])
        problems = checks.same_output("stage row counts", got, self.ref)
        if out["reused"] != len(self.STAGES):
            problems.append(f"resume reused {out['reused']}/"
                            f"{len(self.STAGES)} snapshots")
        self.cleanup(out)
        return {"resume": problems}

    def cleanup(self, out):
        shutil.rmtree(out["root"], ignore_errors=True)


def _stage_dirs(root: str) -> list:
    return sorted(d for d in os.listdir(root)
                  if os.path.isdir(os.path.join(root, d)))


def _versions(root: str) -> dict:
    if not os.path.isdir(root):
        return {}
    return {s: (lineage.current_snapshot(root, s) or {}).get("version")
            for s in _stage_dirs(root)}


def _checksum(df) -> tuple:
    """(rows, xor of row hashes over name-sorted columns): independent
    of row order and partitioning."""
    cols = sorted(df.columns)
    row = (df.select(F.xxhash64(*cols).alias("_h"))
           .agg(F.count("*"), F.expr("bit_xor(_h)")).collect()[0])
    return int(row[0]), int(row[1] or 0)


def _frame_key(pdf: pd.DataFrame) -> tuple:
    cols = sorted(pdf.columns)
    return tuple(sorted(map(tuple, pdf[cols].to_numpy().tolist())))


WORKLOADS = {w.name: w for w in (TileJoin, GeoJoin)}
