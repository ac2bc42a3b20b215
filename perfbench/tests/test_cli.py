import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"),
                tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_join",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_benchmark_json_matches_the_cli():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench import run
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_any_integer_seed_picks_a_row_range():
    from perfbench import run
    from perfbench.workloads import SEED_SLOTS, SEED_STRIDE, TileJoin
    for seed in (0, 9999, 10_000, 3_141_592_653, -7):
        args = run._parse(["--workload", "tile_join", "--seed", str(seed),
                           "--seconds", "1", "--trace", "0"])
        w = TileJoin(args.seed)
        assert 0 <= w.slot < SEED_SLOTS
        assert w.offset == w.slot * SEED_STRIDE
    assert TileJoin(10_003).offset == TileJoin(3).offset
