"""Engine benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 \\
        --trace 0

Runs from the root of a checkout.  Prints a report line, then, as the
last line, {"correct", "attempted", "failed", "metrics"}: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics.  Exits non-zero without a result
when the engine package is not there to run.
"""

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geographiclib_go_spark"
WORKLOADS = ("tile_join", "geo_join")
# well under the RAM of a small host; the inputs are tens of MB
DRIVER_MEM = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> int:
    """Fit the engine's session to this machine from outside it, and
    keep every file the run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no hsperfdata files in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    return cpus


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; nothing to run",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = _environment(work)

    from perfbench.harness import RssSampler, run_workload, stop_spark
    from perfbench.workloads import WORKLOADS as CLASSES
    from geographiclib_go_spark.session import build_session

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = build_session(app="perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        _warm_workers(spark, cpus)
        session_s = time.perf_counter() - t0
        res = run_workload(spark, session_s, CLASSES[args.workload](args.seed),
                           args.seconds, bool(args.trace), work, cpus)
    finally:
        stop_spark(spark)
        rss.stop()
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_work",
                            f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(res["spans"], fh)
        res["report"]["spans_file"] = os.path.relpath(path, ROOT)
        res["metrics"]["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    res["report"]["peak_rss_by_process"] = rss.by_process()
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"report": res["report"]}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0


def _warm_workers(spark, cpus: int) -> None:
    """Start one Python worker per core with the engine imported, so
    the first pass does not pay for worker start-up."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def warm(x: pd.Series) -> pd.Series:
        import geographiclib_go_spark.operators.spatial_join  # noqa: F401
        return x

    spark.range(0, 4 * cpus, 1, cpus).select(warm("id")).collect()


if __name__ == "__main__":
    sys.exit(main())
