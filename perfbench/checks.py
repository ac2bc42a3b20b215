"""Output checks.  Each returns a list of problems; an empty list means
the output is correct.  They take plain Python and pandas values, so
the benchmark's tests can feed them tampered results without Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels.inverse import inverse as kinverse
from geographiclib_go_spark.operators import cells

S12_TOL_M = 1e-8


def brute_nearest(lat: np.ndarray, lon: np.ndarray, landmarks) -> np.ndarray:
    """Id of the nearest landmark by the exact inverse kernel against
    every landmark: the reference for the broadcast-argmin join."""
    g = GeodesicModel(WGS84_A, WGS84_F)
    ids = np.array([r[0] for r in landmarks], dtype=np.int64)
    s12 = np.stack([
        kinverse(g, lat, lon, np.full(lat.size, la), np.full(lat.size, lo),
                 C.DISTANCE)["s12"]
        for _, la, lo in landmarks], axis=1)
    return ids[np.argmin(s12, axis=1)]


def tile_join_problems(groups: pd.DataFrame, n_input: int,
                       sample: pd.DataFrame, landmarks,
                       tile_res: int) -> list:
    """groups: (tile_id, nn_id, n_images) from the pass; sample: engine
    rows (image_id, lat, lon, tile_id, nn_id) for seeded input rows."""
    out = []
    total = int(groups["n_images"].sum())
    if total != n_input:
        out.append(f"summed n_images {total} != input rows {n_input}")
    want_nn = brute_nearest(sample["lat"].to_numpy(),
                            sample["lon"].to_numpy(), landmarks)
    bad = np.flatnonzero(sample["nn_id"].to_numpy() != want_nn)
    if bad.size:
        out.append(f"{bad.size} sampled nn_id differ from brute force, "
                   f"first image_id {sample['image_id'].iloc[bad[0]]}")
    want_tile = cells.cell_from_latlon(sample["lat"].to_numpy(),
                                       sample["lon"].to_numpy(), tile_res)
    bad = np.flatnonzero(sample["tile_id"].to_numpy() != want_tile)
    if bad.size:
        out.append(f"{bad.size} sampled tile_id differ from the cell kernel")
    have = set(zip(groups["tile_id"].tolist(), groups["nn_id"].tolist()))
    missing = set(zip(want_tile.tolist(), want_nn.tolist())) - have
    if missing:
        out.append(f"{len(missing)} sampled (tile_id, nn_id) groups "
                   "missing from the pass output")
    return out


def set_problems(what: str, got: set, want: set) -> list:
    if got == want:
        return []
    return [f"{what}: {len(want - got)} missing, "
            f"{len(got - want)} extra (of {len(want)})"]


def knn_problems(got: pd.DataFrame, want: pd.DataFrame) -> list:
    """Both: (q_qid, image_id, rank, s12).  Ids and ranks must be equal,
    s12 within S12_TOL_M."""
    key = ["q_qid", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    if len(g) != len(w) or not (g[key] == w[key]).all(axis=None):
        return [f"kNN (qid, rank) rows differ: {len(g)} vs {len(w)}"]
    out = []
    bad = int((g["image_id"] != w["image_id"]).sum())
    if bad:
        out.append(f"kNN: {bad} neighbours differ from scan_topk")
    ds = float(np.max(np.abs(g["s12"].to_numpy() - w["s12"].to_numpy()),
                      initial=0.0))
    if ds > S12_TOL_M:
        out.append(f"kNN: s12 differs from scan_topk by {ds:.3g} m")
    return out


def staged_problems(build: dict, resume: dict, verified: dict,
                    psnr_bad: int, resumed: int) -> list:
    """build/resume: stage -> (rows, checksum); verified: stage ->
    lineage.verify_stage result; resumed: stages whose committed
    snapshot the resume call reused."""
    out = []
    for stage, val in build.items():
        if resume.get(stage) != val:
            out.append(f"stage {stage}: resume {resume.get(stage)} "
                       f"!= build {val}")
        if not verified.get(stage, False):
            out.append(f"stage {stage}: lineage.verify_stage failed")
    if psnr_bad:
        out.append(f"{psnr_bad} lossless rows with psnr_ok false")
    if resumed != len(build):
        out.append(f"resume reused {resumed}/{len(build)} snapshots")
    return out


def same_output(what: str, got, want) -> list:
    """Every timed pass must reproduce the warm-up pass output that the
    reference checks accepted."""
    return [] if got == want else [f"{what}: differs from the checked "
                                   "warm-up output"]
