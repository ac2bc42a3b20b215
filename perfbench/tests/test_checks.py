"""The output checks must report a tampered result as a failure."""

import numpy as np
import pandas as pd

from geographiclib_go_spark.operators import cells
from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS
from perfbench import checks

TILE_RES = 6


def _tile_join_output(n=400, seed=7):
    """An honest pass output and sample, built with the reference
    kernels themselves."""
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lon = rng.uniform(-180, 180, n)
    nn = checks.brute_nearest(lat, lon, DEFAULT_LANDMARKS)
    tile = cells.cell_from_latlon(lat, lon, TILE_RES)
    sample = pd.DataFrame({"image_id": np.arange(n), "lat": lat, "lon": lon,
                           "tile_id": tile, "nn_id": nn})
    groups = (sample.groupby(["tile_id", "nn_id"]).size()
              .rename("n_images").reset_index())
    return groups, sample


def test_tile_join_honest_output_passes():
    groups, sample = _tile_join_output()
    assert checks.tile_join_problems(groups, len(sample), sample,
                                     DEFAULT_LANDMARKS, TILE_RES) == []


def test_tile_join_flipped_nn_id_fails():
    groups, sample = _tile_join_output()
    sample.loc[5, "nn_id"] = (sample.loc[5, "nn_id"] + 1) % len(
        DEFAULT_LANDMARKS)
    problems = checks.tile_join_problems(groups, len(sample), sample,
                                         DEFAULT_LANDMARKS, TILE_RES)
    assert any("nn_id" in p for p in problems)


def test_tile_join_lost_rows_fail():
    groups, sample = _tile_join_output()
    groups.loc[0, "n_images"] -= 1
    assert checks.tile_join_problems(groups, len(sample), sample,
                                     DEFAULT_LANDMARKS, TILE_RES)


def test_radius_dropped_pair_fails():
    want = {(1, 10), (1, 11), (2, 12)}
    assert checks.set_problems("radius", set(want), want) == []
    got = set(want)
    got.discard((1, 11))
    assert checks.set_problems("radius", got, want)


def _knn(s12_shift=0.0):
    return pd.DataFrame({"q_qid": [1, 1, 2, 2], "rank": [1, 2, 1, 2],
                         "image_id": [10, 11, 12, 13],
                         "s12": [5.0, 6.0 + s12_shift, 7.0, 8.0]})


def test_knn_checks_ids_ranks_and_s12():
    assert checks.knn_problems(_knn(), _knn()) == []
    assert checks.knn_problems(_knn(1e-6), _knn())
    swapped = _knn()
    swapped.loc[[0, 1], "image_id"] = [11, 10]
    assert checks.knn_problems(swapped, _knn())
    assert checks.knn_problems(_knn().iloc[:3], _knn())


def test_staged_mismatch_fails():
    build = {"tiles": (10, 123), "pip": (2, 5)}
    ok = dict.fromkeys(build, True)
    assert checks.staged_problems(build, dict(build), ok, 0, 2) == []
    assert checks.staged_problems(build, {**build, "pip": (2, 6)}, ok, 0, 2)
    assert checks.staged_problems(build, dict(build), {**ok, "pip": False},
                                  0, 2)
    assert checks.staged_problems(build, dict(build), ok, 1, 2)
    assert checks.staged_problems(build, dict(build), ok, 0, 1)


def test_timed_pass_must_match_warmup():
    assert checks.same_output("x", (1, 2), (1, 2)) == []
    assert checks.same_output("x", (1, 2), (1, 3))
