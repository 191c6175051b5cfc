"""Repository benchmark: one extraction-engine workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. Spark runs on local[nproc] with one job in
flight at a time (closed loop, one client) from this one driver process.
With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a separate traced run.
``--tiny`` shrinks every input for a seconds-long smoke run with the same
checks. A job that fails or mismatches counts in ``failed``; if the program
cannot be imported the run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import Any, NamedTuple

ROOT = os.getcwd()
SETUP_REPS = 5
MIN_JOBS = 3
END_TO_END = (
    # (name, unit, better)
    ("wall_s", "s", "lower"),
    ("docs_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
)


def lanes() -> int:
    """What ``env -u OMP_NUM_THREADS nproc`` reports: usable CPUs."""
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return kb / (1 << 20)


def driver_mem() -> str:
    """Driver JVM heap: a quarter of RAM (session.py's 48g default is more
    than the reference box has)."""
    return f"{max(1, int(ram_gb() // 4))}g"


def pin_environment(work: str) -> dict[str, str]:
    """Clear every SPARK_GRAFT_* knob, then pin the ones the benchmark
    sets, so an ambient environment cannot change what is measured. Must
    run before the program is imported (some knobs are read at import)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    pinned = {"SPARK_GRAFT_DRIVER_MEM": driver_mem()}
    os.environ.update(pinned)
    # Python workers import the program from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return pinned


def start_session(work: str, n: int):
    from ai_textbook_processor_spark.session import get_spark

    java_tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # C1 only: C2 compiles the job's hot paths over its first half
            # dozen runs, on threads that compete with the lanes, so job
            # time would depend on how far it got; C1 settles within the
            # first job at the same steady-state CPU per job.
            # A fixed, pre-touched heap: a heap that grows and shrinks with
            # the checks' allocations made the JVM's RSS swing by up to 2 GB
            # from one job to the next.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                f" -Xms{driver_mem()} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def environment_report(pinned: dict[str, str]) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": lanes(),
        "ram_gb": round(ram_gb(), 1),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "env": pinned,
    }


def kernel_metrics(totals: dict, docs: int) -> dict[str, float]:
    """Per-doc self times of the kernel slice's layers."""
    self_s = {k: v["self_s"] for k, v in totals.items()}
    batch_s = totals.get("extract.batch", {}).get("total_s", 0.0)
    kernel_s = sum(self_s.get(k, 0.0) for k in ("kernels.e1", "kernels.e2", "kernels.e3"))
    per_doc = (lambda s: 1e6 * s / docs) if docs else (lambda s: 0.0)
    m = {
        "corpus.gen_us_per_doc": per_doc(self_s.get("corpus.gen", 0.0)),
        "kernels.e1_html_us_per_doc": per_doc(self_s.get("kernels.e1", 0.0)),
        "kernels.e2_pdf_us_per_doc": per_doc(self_s.get("kernels.e2", 0.0)),
        # E2's share of the extraction kernels E1-E3
        "kernels.e2_share": self_s.get("kernels.e2", 0.0) / kernel_s if kernel_s else 0.0,
        "kernels.e3_stitch_us_per_doc": per_doc(self_s.get("kernels.e3", 0.0)),
        "kernels.dispatch_us_per_doc": per_doc(self_s.get("kernels.dispatch", 0.0)),
        "readability.e4_score_us_per_doc": per_doc(self_s.get("readability.e4", 0.0)),
        "extract.batch_us_per_doc": per_doc(batch_s),
        "extract.arrow_build_us_per_doc": per_doc(self_s.get("extract.batch", 0.0)),
        # every span nests in a batch span, so this is 1 unless spans leak
        "trace.self_time_coverage": sum(self_s.values()) / batch_s if batch_s else 0.0,
        "trace.slice_docs": float(docs),
    }
    big = totals.get("skew.chunk", {}).get("count", 0)
    m["skew.chunk_us_per_big_doc"] = 1e6 * self_s["skew.chunk"] / big if big else 0.0
    return m


class Timed(NamedTuple):
    wall: float
    cpu: float
    peak_mb: float
    out: Any  # what the job returned; None if it raised


class Runner:
    def __init__(self, workload, ctx):
        self.w = workload
        self.ctx = ctx
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def set_up(self) -> float:
        """Start the session if none is running (the first set-up pays the
        JVM launch and the Python worker start), run the warm-up job and
        write the inputs."""
        from workloads import warm_up

        t0 = time.perf_counter()
        if self.spark is None:
            self.spark = start_session(self.ctx.work, self.ctx.lanes)
        warm_up(self.spark, self.ctx.lanes)
        self.w.materialize(self.spark)
        return time.perf_counter() - t0

    def job(self, group: str, i: int, job=None, rss=None) -> Timed:
        """One timed, checked run of ``job`` (default: the workload's) under
        Spark job group ``group``. CPU time and, if an ``RssSampler`` is
        given, peak RSS cover the run, not its check."""
        from procstat import tree_cpu_s

        job = job or self.w
        self.spark.sparkContext.setJobGroup(group, group)
        self.attempted += 1
        if rss is not None:
            rss.reset()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        raised = False
        try:
            out = job.run(self.spark, i)
        except Exception:
            traceback.print_exc()
            out, raised = None, True
        wall = time.perf_counter() - t0
        timed = Timed(wall, tree_cpu_s() - cpu0, rss.peak_mb if rss is not None else 0.0, out)
        if raised:
            self.failed += 1
            return timed
        bad = job.check(self.spark, out)
        if bad:
            print(f"{job.name} job {i}: {bad[:5]}", file=sys.stderr)
            self.failed += 1
        return timed

    def end_to_end(self, seconds: float) -> dict[str, float]:
        from procstat import RssSampler

        setups = [self.set_up() for _ in range(SETUP_REPS)]
        # the first job after set-up pays one-time query compilation and the
        # JVM's compilation of the job's hot paths
        self.job(f"perfbench-{self.w.name}-warm", 0)
        walls, cpus, peaks = [], [], []
        with RssSampler() as rss:
            t_end = time.perf_counter() + seconds
            i = 1
            while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
                t = self.job(f"perfbench-{self.w.name}-{i}", i, rss=rss)
                walls.append(t.wall)
                cpus.append(t.cpu)
                peaks.append(t.peak_mb)
                i += 1
        print(json.dumps({"setup_s": setups, "wall_s": walls, "cpu_s": cpus,
                          "peak_rss_mb": peaks}), file=sys.stderr)
        wall = statistics.median(walls)
        return {
            "wall_s": wall,
            "docs_per_s": self.w.n / wall,
            "setup_s": statistics.median(setups),
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": statistics.median(peaks),
        }

    def traced(self) -> dict[str, float]:
        """Per-layer numbers: untraced and traced jobs of the workload, a
        kernel slice out of Spark, the workload's side runs and a one-lane
        reference job."""
        from sparkstats import group_metrics
        from tracing import Tracer
        from workloads import KERNEL_WRAPS, warm_up

        name = self.w.name
        self.set_up()
        self.job(f"perfbench-{name}-warm", 0)
        # untraced jobs on both sides of the traced one cancel a steady drift
        before = self.job(f"perfbench-{name}-untraced0", 1).wall
        group = f"perfbench-{name}-traced"
        wall_t = self.job(group, 2).wall
        after = self.job(f"perfbench-{name}-untraced1", 3).wall
        wall_u = (before + after) / 2
        m = {f"spark.{k}": v for k, v in group_metrics(self.spark, group).items()}
        m["trace.overhead_frac"] = wall_t / wall_u - 1

        # Freeze the driver's heap so the slice pays garbage collection for
        # its own objects only, as a worker would, not for this process's.
        gc.collect()
        gc.freeze()
        tracer = Tracer()
        for owner, attr, span in KERNEL_WRAPS:
            tracer.wrap(owner, attr, span)
        try:
            m.update(self.w.kernel_slice(tracer))
        finally:
            tracer.unwrap_all()
            gc.unfreeze()
        m.update(kernel_metrics(tracer.totals(), m.pop("docs")))
        m["extract.kernel_floor_s"] = (
            m["extract.batch_us_per_doc"] * self.w.n / 1e6 / self.ctx.lanes
        )
        m["spark.gap_s"] = wall_u - m["extract.kernel_floor_s"]

        for side_cls in self.w.side_runs:
            side = side_cls(self.ctx)
            side.materialize(self.spark)
            self.job(f"perfbench-{side.name}-warm", 0, side)
            tracer = Tracer()
            side.driver_wraps(tracer)
            try:
                out = self.job(f"perfbench-{side.name}-t", 1, side).out
            finally:
                tracer.unwrap_all()
            if out is not None:
                m.update(side.layer_metrics(out, tracer))

        self.spark.stop()
        self.spark = start_session(self.ctx.work, 1)
        warm_up(self.spark, 1)
        wall_1 = self.job(f"perfbench-{name}-lane1", 4).wall
        m["spark.lane_efficiency"] = wall_1 / (self.ctx.lanes * wall_u)
        return m

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        stop_jvm()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        pinned = pin_environment(work)
        sys.path.insert(0, ROOT)
        try:
            from workloads import WORKLOADS, Ctx
        except ImportError as e:
            print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        print(json.dumps({"workload": args.workload, **environment_report(pinned)}))
        ctx = Ctx(work, args.seed, lanes(), args.tiny)
        runner = Runner(WORKLOADS[args.workload](ctx), ctx)
        try:
            metrics = runner.traced() if args.trace else runner.end_to_end(args.seconds)
        finally:
            runner.close()
        if args.trace:
            from workloads import LAYER_METRICS as declared
        else:
            declared = END_TO_END
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {
                name: {"value": metrics.get(name, 0.0), "unit": unit}
                for name, unit, _better in declared
            },
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
