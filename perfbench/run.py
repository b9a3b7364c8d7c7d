"""Benchmark of record for the iceberg_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see workloads.py) on Spark local[k] and prints, as the last
line of standard output, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (tracing.py). A line before it carries the run's details: seed,
sample counts, the tail percentiles used, set-up repetitions.

All files the run writes go to a temporary directory under
`.perfbench_work/` at the root of the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
END_TO_END_UNITS = {
    "setup_s": "s", "read_p50_s": "s", "read_tail_s": "s", "write_p50_s": "s",
    "write_tail_s": "s", "maint_s": "s", "ops_per_s": "op/s", "ok_op_frac": "ratio",
    "live_bytes_per_row": "B/row", "metadata_bytes": "B", "peak_rss_mb": "MB",
}


def log(msg: str):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    """local[k]: $SPARK_GRAFT_CPUS when set and non-empty, else one less
    than the CPUs this process may run on, at most 3, so the driver's
    Python process and the JVM's own threads keep a CPU (on 4 vCPUs,
    local[3] ran faster than local[4] and varied half as much between
    runs); never more than those CPUs."""
    avail = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    k = int(raw) if raw else min(avail - 1, 3)
    return max(1, min(k, avail))


def peak_rss_mb(spark) -> tuple:
    """(driver Python, JVM) peak resident set sizes in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


class Bench:
    """Timed closed loop: one operation at a time, each checked against the
    shadow copy outside its timed region."""

    def __init__(self, spark, catalog, shadow):
        from oracle import rows_match

        self.spark, self.catalog, self.shadow = spark, catalog, shadow
        self.tracer = None  # a Tracer in the traced run
        self._rows_match = rows_match
        self.lat = {"read": [], "write": [], "maint": []}
        self.attempted = self.failed = 0
        self.failures = []
        self.loop_s = 0.0
        self.cycle_maint = []  # maintenance seconds of each cycle
        self.cycle_kinds = []  # what each cycle did, as its workload names it

    def collect(self, df):
        ctx = self.tracer.span("spark.exec") if self.tracer else nullcontext()
        with ctx:
            return df.collect()

    def shadow_rows(self, rows, sql: str, ordered: bool) -> bool:
        want = self.shadow.query(sql)
        if self._rows_match(rows, want, ordered):
            return True
        log(f"got {[tuple(r) for r in rows][:12]}\nwant {want[:12]}\nfor {' '.join(sql.split())}")
        return False

    def op(self, kind: str, fn, label: str, check=None):
        self.attempted += 1
        ctx = self.tracer.op(kind) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
        except Exception as e:  # counted, reported, and the loop goes on
            self.loop_s += time.perf_counter() - t0
            self.failed += 1
            self.failures.append(f"{label}: {type(e).__name__}: {e}"[:300])
            log(f"operation {label} raised {type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        self.loop_s += dt
        if kind == "maint" and self.cycle_maint:
            self.cycle_maint[-1] += dt
        if check is not None and not check(result):
            self.failed += 1
            self.failures.append(f"{label}: result differs from the oracle")
            log(f"operation {label} returned a wrong result")
            return None
        self.lat[kind].append((label, dt))
        return result if result is not None else True

    def reset_timings(self):
        """Forget warm-up timings; correctness counts stay."""
        self.lat = {"read": [], "write": [], "maint": []}
        self.loop_s = 0.0
        self.cycle_maint = []
        self.cycle_kinds = []

    def maint_s(self) -> float:
        """Maintenance seconds per cycle: for each kind of cycle the median
        over its cycles, averaged over the kinds, so every kind weighs the
        same and every cycle of a one-kind workload counts."""
        by = {}
        for kind, s in zip(self.cycle_kinds, self.cycle_maint):
            by.setdefault(kind, []).append(s)
        if not by:
            return 0.0
        return statistics.fmean(statistics.median(v) for v in by.values())

    def p50(self, kind: str) -> float:
        """Geometric mean over the operation shapes of `kind` of each
        shape's median, so every shape weighs the same whatever the mix."""
        by = {}
        for label, dt in self.lat[kind]:
            by.setdefault(label, []).append(dt)
        if not by:
            return 0.0
        return math.exp(statistics.fmean(math.log(statistics.median(v))
                                         for v in by.values()))

    def tail(self, kind: str) -> tuple:
        """(value, percentile): the p50 above times the highest percentile,
        with at least ten samples beyond it, of each sample's time over its
        shape's median; with fewer than 21 samples, and never below it, the
        p50. A percentile of the raw times would fall between shapes and
        jump from shape to shape as a run completes one cycle more."""
        by = {}
        for label, dt in self.lat[kind]:
            by.setdefault(label, []).append(dt)
        ratios = sorted(dt / statistics.median(v) for v in by.values() for dt in v)
        n = len(ratios)
        if n < 21:
            return self.p50(kind), 50.0
        return self.p50(kind) * max(ratios[n - 11], 1.0), 100.0 * (n - 10) / n


def final_checks(bench, workload) -> tuple:
    """Compare every table with its shadow; measure space use."""
    from tracing import dir_files

    live_bytes = live_rows = meta_bytes = 0
    for name in workload.tables:
        t = workload.load(name)
        bench.attempted += 1
        if not bench.shadow.table_matches(name, t.to_df().toArrow()):
            bench.failed += 1
            bench.failures.append(f"final check of {name}: table differs from the oracle")
        plan = t.scan().plan_files()
        live_bytes += sum(e.file.file_size_in_bytes
                          for e in plan.files + plan.pos_deletes + plan.eq_deletes)
        live_rows += bench.shadow.query(f"SELECT count(*) FROM {name}")[0][0]
        meta_bytes += sum(dir_files(t.ops.metadata_dir).values())
    return live_bytes / max(live_rows, 1), float(meta_bytes)


def start_spark(workdir: str, k: int):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(f"local[{k}]")
            .appName("perfbench")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.warehouse.dir", os.path.join(workdir, "spark-warehouse"))
            # keep the JVM's files in the run's directory: its temp files,
            # and no performance-counter file under the system temp dir; the
            # heap starts full size, as growing it slowed early operations
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData -Xms1g")
            .config("spark.sql.shuffle.partitions", str(2 * k))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .getOrCreate())


def stop_spark(spark):
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, workdir: str) -> dict:
    from iceberg_spark import Catalog
    from oracle import Shadow
    from tracing import Tracer
    from workloads import WORKLOADS

    k = cpus()
    t0 = time.perf_counter()
    spark = start_spark(workdir, k)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    shadow = Shadow()
    try:
        catalog = Catalog(spark, os.path.join(workdir, "warehouse"))
        bench = Bench(spark, catalog, shadow)
        workload = WORKLOADS[args.workload](bench, args.seed, workdir)
        workload.prepare()
        builds = []
        for r in range(SETUP_REPS):
            ns = f"setup{r}"
            tb = time.perf_counter()
            workload.build(ns)
            builds.append(time.perf_counter() - tb)
            if r < SETUP_REPS - 1:
                for name in workload.tables:
                    catalog.drop_table(f"{ns}.{name}")
        workload.ns = f"setup{SETUP_REPS - 1}"
        setup_s = session_s + statistics.median(builds)
        workload.warmup()
        bench.reset_timings()

        if args.trace:
            bench.tracer = Tracer(spark)
            bench.tracer.install()
            bench.tracer.mark_loop_start()
        loop_t0 = time.perf_counter()
        cycles = 0
        # whole cycles, at least MIN_CYCLES, until the time inside
        # operations reaches the run length and the cycles cover the mix
        # evenly; the wall-clock cap only guards the exit deadline
        while ((cycles < workload.MIN_CYCLES or bench.loop_s < args.seconds
                or not workload.round_done())
               and time.perf_counter() - loop_t0 < 2 * args.seconds + 60):
            bench.cycle_maint.append(0.0)
            bench.cycle_kinds.append(workload.cycle())
            cycles += 1
        loop_wall = time.perf_counter() - loop_t0
        if bench.tracer:
            bench.tracer.uninstall()
        bytes_per_row, metadata_bytes = final_checks(bench, workload)

        read_tail, read_pct = bench.tail("read")
        write_tail, write_pct = bench.tail("write")
        completed = sum(len(v) for v in bench.lat.values())
        rss = peak_rss_mb(spark)
        op_s = {}
        for kind in bench.lat:
            for label, dt in bench.lat[kind]:
                op_s.setdefault(label, []).append(round(dt, 4))
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": k, "cycles": cycles,
            "samples": {kind: len(v) for kind, v in bench.lat.items()},
            "read_tail_pct": round(read_pct, 1), "write_tail_pct": round(write_pct, 1),
            "session_s": session_s, "setup_builds_s": builds,
            "loop_op_s": bench.loop_s, "loop_wall_s": loop_wall, "peak_rss_mb": rss,
            "op_s": op_s, "failures": bench.failures[:20],
        }
        if args.trace:
            from tracing import PER_LAYER_UNITS

            metrics = {n: {"value": float(v), "unit": PER_LAYER_UNITS[n]}
                       for n, v in bench.tracer.metrics(loop_wall).items()}
        else:
            values = {
                "setup_s": setup_s,
                "read_p50_s": bench.p50("read"),
                "read_tail_s": read_tail,
                "write_p50_s": bench.p50("write"),
                "write_tail_s": write_tail,
                "maint_s": bench.maint_s(),
                "ops_per_s": completed / bench.loop_s if bench.loop_s else 0.0,
                "ok_op_frac": 1.0 - bench.failed / max(bench.attempted, 1),
                "live_bytes_per_row": bytes_per_row,
                "metadata_bytes": metadata_bytes,
                "peak_rss_mb": sum(rss),
            }
            metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
        print(json.dumps({"detail": detail}), flush=True)
        return {"correct": bench.failed == 0, "attempted": bench.attempted,
                "failed": bench.failed, "metrics": metrics}
    finally:
        shadow.close()
        stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import iceberg_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=base)
    # Python workers start with the checkout on their path: the engine
    # imports itself inside executor-side functions, and nothing else ships
    # the package to them
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = workdir
    tempfile.tempdir = workdir
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
