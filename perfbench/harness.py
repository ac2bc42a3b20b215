"""Runs one workload: set-up, an untimed warm-up pass, timed passes for
the run's seconds, output checks, and (traced runs) the per-layer
numbers.  Returns the result object the CLI prints."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
import traceback

from perfbench import layers
from perfbench.sparkstats import COUNTERS, add_counters, group_counters
from perfbench.trace import Tracer, self_times

# input generations per set-up; setup_s takes their median
GEN_REPEATS = 3
# timed passes per run at least, however long they take: a median of
# two halves the weight of one slow pass, and a traced run needs one
# traced and one untraced pass
MIN_PASSES = 2
# rows per numpy kernel timing and per L1 UDF timing
L0_ROWS = 200_000
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"
# how long unpersisted blocks may take to leave the block manager
UNCACHE_WAIT_S = 10.0


class Ctx:
    """What a workload's pass needs: the session, spans, and the
    operation ledger that ``attempted``/``failed`` are counted from."""

    def __init__(self, spark, tracer: Tracer, work: str, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cpus = cpus
        self.l0_rows = L0_ROWS
        self.pass_label = "setup"
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.counters: dict = {}
        self.layer_values: dict = {}
        self.dropped_rdds = 0

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def call(self, name: str, fn):
        """One operation of a pass.  Its wall time is recorded; when
        tracing, its Spark jobs are tagged and their counters read."""
        op = {"pass": self.pass_label, "name": name, "ok": True, "s": None}
        self.ops.append(op)
        group = f"{self.pass_label}/{name}"
        if self.tracing:
            self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with self.span(name, "bench"):
                return fn()
        except Exception:  # the run goes on; the op counts as failed
            op["ok"] = False
            self.problems.append(f"{group}: {traceback.format_exc(limit=3)}")
            raise OpFailed(group)
        finally:
            op["s"] = time.perf_counter() - t0
            if self.tracing:
                self.counters[name] = group_counters(self.spark, group)

    def record_problems(self, per_op: dict) -> None:
        """Mark the named ops of the current pass failed when their
        output check found problems."""
        for name, problems in per_op.items():
            if not problems:
                continue
            self.problems.extend(f"{self.pass_label}/{name}: {p}"
                                 for p in problems)
            for op in self.ops:
                if op["pass"] == self.pass_label and op["name"] == name:
                    op["ok"] = False


class OpFailed(Exception):
    pass


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers): the sum over every process seen of its own
    high-water mark (VmHWM), which the kernel keeps exactly, so the
    sampling interval only decides which short-lived processes count."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self._hwm: dict = {}
        self._comm: dict = {}
        self._stop_evt = threading.Event()

    @property
    def peak_bytes(self) -> int:
        return sum(self._hwm.values())

    def by_process(self) -> list:
        """[(pid, command, peak MB)] for the report line."""
        return [(pid, self._comm[pid], round(b / 2**20, 1))
                for pid, b in sorted(self._hwm.items())]

    def run(self):
        while not self._stop_evt.is_set():
            for pid in tree_pids():
                if pid not in self._comm:
                    self._comm[pid] = _comm(pid)
                self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm(pid))
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _hwm(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_pids(root: int = None) -> list:
    """This process and every live descendant."""
    root = root or os.getpid()
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and its JVM, then wait until every process
    started under this one has ended, killing any that outlive the
    timeout."""
    from pyspark import SparkContext
    started = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while time.monotonic() < deadline and any(map(_alive, started)):
            time.sleep(0.1)
        for pid in filter(_alive, started):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout


def _wait_uncached(ctx) -> None:
    """Drop every cached DataFrame, and the RDD blocks that
    ``localCheckpoint`` keeps outside the DataFrame cache, then check
    that the block manager holds no cached RDD blocks, so no pass
    reads another's cache."""
    ctx.spark.catalog.clearCache()
    jsc = ctx.spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
        ctx.dropped_rdds += 1
    sc = jsc.sc()
    deadline = time.monotonic() + UNCACHE_WAIT_S
    while len(sc.getRDDStorageInfo()) and time.monotonic() < deadline:
        time.sleep(0.05)
    left = len(sc.getRDDStorageInfo())
    if left:
        ctx.ops.append({"pass": ctx.pass_label, "name": "uncache",
                        "ok": False, "s": None})
        ctx.problems.append(f"{ctx.pass_label}: {left} cached RDDs remain "
                            "after clearCache")


def _run_pass(ctx, wl, label: str):
    ctx.pass_label = label
    ctx.tracer.trace_id = label
    ctx.counters, ctx.layer_values = {}, {}
    t0 = time.perf_counter()
    try:
        with ctx.span("pass", "bench"):
            out = wl.run_pass(ctx)
    except OpFailed:
        out = None
    return out, time.perf_counter() - t0


def _checked(ctx, fn, out) -> None:
    """Run a check over a pass output; a check that itself raises
    fails every op of the pass."""
    if out is None:
        return
    try:
        ctx.record_problems(fn(ctx, out))
    except Exception:
        ctx.record_problems({op["name"]: [traceback.format_exc(limit=3)]
                             for op in ctx.ops
                             if op["pass"] == ctx.pass_label})


def run_workload(spark, session_s: float, wl, seconds: float, trace: bool,
                 work: str, cpus: int) -> dict:
    tracer = Tracer(enabled=False)
    ctx = Ctx(spark, tracer, work, cpus)

    gen_s = []
    for i in range(GEN_REPEATS):
        dest = os.path.join(work, "inputs", f"gen{i}")
        t0 = time.perf_counter()
        wl.generate(ctx, dest)
        gen_s.append(time.perf_counter() - t0)
        if i + 1 < GEN_REPEATS:
            shutil.rmtree(dest)
    wl.open(ctx, dest)

    out, warm_s = _run_pass(ctx, wl, "warmup")
    t0 = time.perf_counter()
    _checked(ctx, wl.reference, out)
    ref_s = time.perf_counter() - t0
    _wait_uncached(ctx)
    setup_s = session_s + statistics.median(gen_s) + warm_s

    passes = []
    t_start = time.perf_counter()
    n = 0
    while n < MIN_PASSES or time.perf_counter() - t_start < seconds:
        traced = trace and n % 2 == 0
        tracer.enabled = traced
        if traced:
            spark.conf.set(PROFILER_CONF, "perf")
        out, dt = _run_pass(ctx, wl, f"pass{n}")
        tracer.enabled = False
        if traced:
            spark.conf.unset(PROFILER_CONF)
        passes.append({"s": dt, "traced": traced,
                       "calls": {op["name"]: op["s"] for op in ctx.ops
                                 if op["pass"] == ctx.pass_label},
                       "counters": ctx.counters,
                       "layer": ctx.layer_values})
        _checked(ctx, wl.check, out)
        _wait_uncached(ctx)
        n += 1

    timed = [p for p in passes if not p["traced"]]
    pass_s = statistics.median(p["s"] for p in timed)
    report = {
        "workload": wl.name, "rows": wl.rows, "passes": len(timed),
        "pass_s_median": pass_s,
        "pass_s_samples": [p["s"] for p in timed],
        "calls_median_s": {
            name: statistics.median(p["calls"][name] for p in timed
                                    if p["calls"].get(name) is not None)
            for name in timed[0]["calls"]},
        "session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s,
        "reference_check_s": ref_s,
        "checkpoint_rdds_dropped": ctx.dropped_rdds,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.rows / pass_s, "rows/s"),
    }
    if trace:
        metrics = _layer_metrics(ctx, wl, passes, report, session_s,
                                 statistics.median(gen_s))
    attempted = len(ctx.ops)
    failed = sum(1 for op in ctx.ops if not op["ok"])
    report["problems"] = ctx.problems[:20]
    return {"report": report, "metrics": metrics, "attempted": attempted,
            "failed": failed, "spans": tracer.spans}


def _layer_metrics(ctx, wl, passes, report, session_s, gen_s) -> dict:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    med = statistics.median

    # counters of a pass: summed over its calls; per-call in the report
    per_pass = [dict.fromkeys(COUNTERS, 0) for _ in traced]
    for acc, p in zip(per_pass, traced):
        for c in p["counters"].values():
            add_counters(acc, c)
    out = {f"spark.{k}": (med(pp[k] for pp in per_pass), _unit(k))
           for k in COUNTERS}
    report["spark_per_call"] = {
        name: {k: med(p["counters"][name][k] for p in traced) for k in COUNTERS}
        for name in traced[0]["counters"]}

    rows = [p["layer"].get("refine_rows", (0, 0)) for p in traced]
    out["operators.spatial_join.refine_yield"] = (
        med(o / i if i else 0.0 for o, i in rows), "ratio")

    pass_spans = [s for s in ctx.tracer.spans if s["trace"].startswith("pass")]
    own = self_times(pass_spans)
    for layer in ("bench", "operators", "spark"):
        out[f"trace.self_s.{layer}"] = (own.get(layer, 0.0) / len(traced), "s")
    out["trace.overhead_ratio"] = (
        med(p["s"] for p in traced) / med(p["s"] for p in untraced) - 1.0,
        "ratio")
    out.update(_staged_metrics(ctx, wl.staged, report))

    ctx.tracer.enabled = True
    ctx.tracer.trace_id = "layers"
    ctx.pass_label = "layers"
    share, top = layers.udf_profile(
        ctx.spark, os.path.join(ctx.work, "udf_profile"))
    out["functions.udf_kernel_share"] = (share, "ratio")
    report["udf_profile_top"] = top
    lat, lon = wl.kernel_points(ctx)
    q_lat, q_lon = wl.kernel_queries(ctx)
    for k, v in layers.kernel_layers(ctx, lat, lon, q_lat, q_lon).items():
        out[k] = (v, "rows/s" if k.endswith("rows_per_s") else "s")
    out["functions.udf_boundary_s"] = (
        layers.udf_boundary_s(ctx, min(lat.size, L0_ROWS)), "s")
    ctx.tracer.enabled = False
    out["session.start_s"] = (session_s, "s")
    out["sources.generate_s"] = (gen_s, "s")
    return out


def _staged_metrics(ctx, staged, report) -> dict:
    """Build-and-resume of the staged pipeline: a warm-up pass checked
    against the references, then one traced pass that gives the plans
    layer's numbers.  Zero for a workload without one."""
    keys = (("plans.pipeline.build_s", "s"), ("plans.pipeline.resume_s", "s"),
            ("plans.lineage.bytes_written", "bytes"),
            ("plans.lineage.files_written", "count"),
            ("plans.lineage.write_amp", "ratio"),
            ("plans.lineage.resumed_stages", "count"))
    if staged is None:
        return {k: (0, unit) for k, unit in keys}
    ctx.tracer.enabled = True
    dest = os.path.join(ctx.work, "inputs", "staged")
    ctx.tracer.trace_id = ctx.pass_label = "staged-setup"
    with ctx.span("sources.images.generate_images", "sources"):
        staged.generate(ctx, dest)
    staged.open(ctx, dest)
    out, _ = _run_pass(ctx, staged, "staged-warmup")
    _checked(ctx, staged.reference, out)
    _wait_uncached(ctx)
    out, _ = _run_pass(ctx, staged, "staged")
    calls = {op["name"]: op["s"] for op in ctx.ops if op["pass"] == "staged"}
    values = dict(ctx.layer_values)
    report["staged_spark_per_call"] = dict(ctx.counters)
    _checked(ctx, staged.check, out)
    _wait_uncached(ctx)
    ctx.tracer.enabled = False
    values["plans.pipeline.build_s"] = calls.get("build") or 0
    values["plans.pipeline.resume_s"] = calls.get("resume") or 0
    return {k: (values.get(k, 0), unit) for k, unit in keys}


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    return "count"
