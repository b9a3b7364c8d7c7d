"""Per-layer tracing for the benchmark's traced run (`--trace 1`).

The tracer wraps public functions of the engine's modules where their
callers look them up (a module that did `from .manifests import
read_manifest_list` holds its own reference, so every module attribute that
is the same function object is replaced). Each wrapped call is a span:

* spans nest per thread; a span's self time is its duration minus the time
  its child spans on the same thread cover;
* a span on the driver's main thread gets its own Spark job group, so the
  jobs it submits are attributed to it; jobs submitted from other threads
  (the planner's thread pool) carry no group and show up as
  `spark.unattributed_jobs`;
* spans on other threads are not on the blocking path: their time is kept
  per layer but is not subtracted from any parent.

Everything is held in memory and summarised once the timed loop has ended.
The engine's own code is not modified; wrappers are installed on the live
modules of this process only.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

OP_CLASSES = ("read", "write", "maint")
S, N, B, R = "s", "count", "B", "ratio"
PER_LAYER_UNITS = {
    "scan.plan_s": S, "scan.data_files": N, "scan.data_files_skipped": N,
    "scan.manifests_skipped": N, "scan.file_skip_ratio": R, "scan.build_s": S,
    "scan.delete_files": N, "manifests.list_read_s": S, "manifests.read_s": S,
    "manifests.read_calls": N, "spark.exec_s": S,
    **{f"spark.{what}.{k}": N for what in ("jobs", "stages", "tasks") for k in OP_CLASSES},
    "spark.unattributed_jobs": N, "writes.data_s": S, "writes.files_written": N,
    "writes.bytes_written": B, "writes.commit_s": S, "writes.commit_attempts": N,
    "writes.metadata_bytes_per_commit": B, "row_ops.delete_s": S, "row_ops.update_s": S,
    "row_ops.merge_s": S, "row_ops.upsert_s": S, "row_ops.write_deletes_s": S,
    "row_ops.delete_files_written": N, "row_ops.rows_changed": N,
    "maintenance.rewrite_data_files_s": S, "maintenance.rewrite_position_delete_files_s": S,
    "maintenance.expire_snapshots_s": S, "maintenance.rewrite_manifests_s": S,
    "maintenance.bytes_rewritten": B, "maintenance.files_removed": N,
    "table.refresh_s": S, "table.metadata_json_bytes": B, "table.snapshots": N,
    "changelog.incremental_s": S, "trace.coverage": R, "trace.overhead_frac": R,
}
MAINT_FNS = ("rewrite_data_files", "rewrite_position_delete_files",
             "expire_snapshots", "rewrite_manifests")
ROW_OPS = {"delete_where": "delete", "update_where": "update",
           "equality_upsert": "upsert"}


def dir_files(path: str) -> dict:
    """relative path -> size of every file under `path`."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.main = threading.main_thread()
        self.local = threading.local()
        self.self_s = defaultdict(list)     # layer -> self time per call
        self.counts = defaultdict(float)    # counter name -> total
        self.groups = []                    # (job group id, op class)
        self.op_class = None
        self.ops = defaultdict(int)         # op class -> ops traced
        self.op_wall = 0.0
        self.op_uncovered = 0.0
        self.overhead = 0.0
        self.lock = threading.Lock()  # planner threads update counters too
        self._gid = 0
        self._undo = []
        self._unattributed_before = set()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def _set_group(self, frame):
        if frame is None or "gid" not in frame:
            for k in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(k, None)
        else:
            self.sc.setJobGroup(frame["gid"], frame["layer"], False)

    def _add_overhead(self, dt: float):
        with self.lock:
            self.overhead += dt

    @contextmanager
    def span(self, layer: str):
        if self.op_class is None:  # outside the timed loop's operations
            yield {}
            return
        tb = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        frame = {"layer": layer, "child": 0.0}
        on_main = threading.current_thread() is self.main
        if on_main:
            self._gid += 1
            frame["gid"] = f"perfbench-{self._gid}"
            self.groups.append((frame["gid"], self.op_class))
            self._set_group(frame)
        stack.append(frame)
        t0 = time.perf_counter()
        self._add_overhead(t0 - tb)
        try:
            yield frame
        finally:
            t1 = time.perf_counter()
            dur = t1 - t0
            stack.pop()
            frame["dur"] = dur
            frame["self"] = dur - frame["child"]
            if parent is not None:
                parent["child"] += dur
            if on_main:
                self._set_group(parent)
            with self.lock:
                if layer != "op":
                    self.self_s[layer].append(frame["self"])
                self.overhead += time.perf_counter() - t1

    @contextmanager
    def op(self, op_class: str):
        """Root span of one benchmark operation. Its self time is the part
        of the operation that no layer span covers."""
        self.op_class = op_class
        self.ops[op_class] += 1
        fr = {}
        try:
            with self.span("op") as fr:
                yield
        finally:
            self.op_wall += fr.get("dur", 0.0)
            self.op_uncovered += fr.get("self", 0.0)
            self.op_class = None

    # -- patching ------------------------------------------------------------
    def _wrap(self, fn, layer, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kw):
            with tracer.span(layer):
                result = fn(*args, **kw)
            if after is not None and tracer.op_class is not None:
                tb = time.perf_counter()
                with tracer.lock:
                    after(args, result)
                tracer._add_overhead(time.perf_counter() - tb)
            return result

        return traced

    def patch_function(self, module, name, layer, after=None):
        orig = getattr(module, name)
        wrapped = self._wrap(orig, layer, after)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("iceberg_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, orig))

    def patch_method(self, cls, name, layer, after=None, around=None):
        orig = cls.__dict__[name]
        traced = self._wrap(orig, layer, after)
        setattr(cls, name, around(traced) if around else traced)
        self._undo.append((cls, name, orig))

    def uninstall(self):
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    def install(self):
        """Wrap the engine's layer entry points."""
        from iceberg_spark import (changelog, maintenance, manifests, row_ops,
                                   scan, table, writes)
        from iceberg_spark.metrics_reporting import SINK

        c = self.counts

        def after_plan(_args, plan):
            r = plan.report
            c["scan.plans"] += 1
            c["scan.data_files"] += r.result_data_files
            c["scan.data_files_skipped"] += r.skipped_data_files
            c["scan.data_files_total"] += r.total_data_files
            c["scan.manifests_skipped"] += r.skipped_manifests

        def after_build(args, _df):
            plan = args[1]
            c["scan.builds"] += 1
            c["scan.delete_files"] += len(plan.pos_deletes) + len(plan.eq_deletes)

        def after_manifest(_args, _r):
            c["manifests.read_calls"] += 1

        def after_data(_args, files):
            c["writes.data_calls"] += 1
            c["writes.files_written"] += len(files)
            c["writes.bytes_written"] += sum(f.file_size_in_bytes for f in files)

        def after_deletes(_args, res):
            files = res[0] if isinstance(res, tuple) else res
            c["row_ops.delete_files_written"] += len(files)
            c["row_ops.rows_changed"] += sum(f.record_count for f in files)

        def after_maint(_args, res):
            res = res or {}
            c["maintenance.bytes_rewritten"] += res.get("rewritten_bytes", 0)
            c["maintenance.files_removed"] += (
                res.get("rewritten_files", 0) + res.get("rewritten_delete_files", 0)
                + res.get("deleted_files", 0))

        def after_table(_args, t):
            c["table.loads"] += 1
            c["table.snapshots"] += len(t.metadata.snapshots)
            v = t.ops.current_version()
            c["table.metadata_json_bytes"] += os.path.getsize(
                os.path.join(t.ops.metadata_dir, f"v{v}.metadata.json"))

        def commit_around(traced):
            # metadata bytes a commit adds, and its attempt count from the
            # commit report it files into the metrics sink; the directory
            # walks sit outside the commit's span
            def commit(producer):
                if self.op_class is None:
                    return traced(producer)
                tb = time.perf_counter()
                mdir = producer.table.ops.metadata_dir
                before = dir_files(mdir)
                self._add_overhead(time.perf_counter() - tb)
                snap = traced(producer)
                tb = time.perf_counter()
                after = dir_files(mdir)
                c["writes.commits"] += 1
                c["writes.metadata_bytes"] += sum(
                    s for p, s in after.items() if p not in before)
                reps = SINK.reports(getattr(producer.table, "identifier", "") or "")
                attempts = [r["payload"]["metrics"]["attempts"]["value"]
                            for r in reps if r["report_type"] == "commit-report"
                            and r["payload"].get("snapshot-id") == snap.snapshot_id]
                c["writes.commit_attempts"] += attempts[-1] if attempts else 1
                self._add_overhead(time.perf_counter() - tb)
                return snap
            return commit

        self.patch_method(scan.TableScan, "plan_files", "scan.plan", after_plan)
        self.patch_function(scan, "plan_to_df", "scan.build", after_build)
        self.patch_function(manifests, "read_manifest_list", "manifests.list_read")
        for name in ("read_manifest", "read_manifest_arrow"):
            self.patch_function(manifests, name, "manifests.read", after_manifest)
        self.patch_function(writes, "write_data_files", "writes.data", after_data)
        self.patch_method(writes.SnapshotProducer, "commit", "writes.commit",
                          around=commit_around)
        for name, short in ROW_OPS.items():
            self.patch_function(row_ops, name, f"row_ops.{short}")
        self.patch_method(row_ops.MergeBuilder, "execute", "row_ops.merge")
        for name in ("write_row_deletes", "write_equality_deletes"):
            self.patch_function(row_ops, name, "row_ops.write_deletes", after_deletes)
        for name in MAINT_FNS:
            self.patch_function(maintenance, name, f"maintenance.{name}", after_maint)
        self.patch_method(table.Catalog, "load_table", "table.refresh", after_table)
        self.patch_method(table.Table, "refresh", "table.refresh", after_table)
        self.patch_function(changelog, "incremental_append_df", "changelog.incremental")

    # -- Spark job attribution -----------------------------------------------
    def mark_loop_start(self):
        self._unattributed_before = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _job_counts(self) -> tuple:
        st = self.sc.statusTracker()
        per = {k: [0, 0, 0] for k in OP_CLASSES}
        for gid, op_class in self.groups:
            if op_class not in per:
                continue
            for j in st.getJobIdsForGroup(gid):
                info = st.getJobInfo(j)
                per[op_class][0] += 1
                for s in (info.stageIds if info else ()):
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        per[op_class][1] += 1
                        per[op_class][2] += sinfo.numTasks
        unattributed = set(st.getJobIdsForGroup(None)) - self._unattributed_before
        return per, len(unattributed)

    # -- summary -------------------------------------------------------------
    def metrics(self, loop_wall: float) -> dict:
        c = self.counts

        def med(layer):
            v = self.self_s.get(layer)
            return statistics.median(v) if v else 0.0

        def per(num, den):
            return c[num] / c[den] if c[den] else 0.0

        per_class, unattributed = self._job_counts()
        m = {
            "scan.plan_s": med("scan.plan"),
            "scan.data_files": per("scan.data_files", "scan.plans"),
            "scan.data_files_skipped": per("scan.data_files_skipped", "scan.plans"),
            "scan.manifests_skipped": per("scan.manifests_skipped", "scan.plans"),
            "scan.file_skip_ratio": per("scan.data_files_skipped", "scan.data_files_total"),
            "scan.build_s": med("scan.build"),
            "scan.delete_files": per("scan.delete_files", "scan.builds"),
            "manifests.list_read_s": med("manifests.list_read"),
            "manifests.read_s": med("manifests.read"),
            "manifests.read_calls": per("manifests.read_calls", "scan.plans"),
            "spark.exec_s": med("spark.exec"),
        }
        for k, (jobs, stages, tasks) in per_class.items():
            n = self.ops.get(k, 0)
            m[f"spark.jobs.{k}"] = jobs / n if n else 0.0
            m[f"spark.stages.{k}"] = stages / n if n else 0.0
            m[f"spark.tasks.{k}"] = tasks / n if n else 0.0
        m["spark.unattributed_jobs"] = float(unattributed)
        m.update({
            "writes.data_s": med("writes.data"),
            "writes.files_written": per("writes.files_written", "writes.data_calls"),
            "writes.bytes_written": per("writes.bytes_written", "writes.data_calls"),
            "writes.commit_s": med("writes.commit"),
            "writes.commit_attempts": per("writes.commit_attempts", "writes.commits"),
            "writes.metadata_bytes_per_commit": per("writes.metadata_bytes", "writes.commits"),
        })
        for short in ("delete", "update", "merge", "upsert", "write_deletes"):
            m[f"row_ops.{short}_s"] = med(f"row_ops.{short}")
        n_row_ops = sum(len(self.self_s.get(f"row_ops.{s}", ()))
                        for s in ("delete", "update", "merge", "upsert"))
        m["row_ops.delete_files_written"] = (
            c["row_ops.delete_files_written"] / n_row_ops if n_row_ops else 0.0)
        m["row_ops.rows_changed"] = c["row_ops.rows_changed"] / n_row_ops if n_row_ops else 0.0
        for name in MAINT_FNS:
            m[f"maintenance.{name}_s"] = med(f"maintenance.{name}")
        n_maint = self.ops.get("maint", 0)
        m["maintenance.bytes_rewritten"] = (
            c["maintenance.bytes_rewritten"] / n_maint if n_maint else 0.0)
        m["maintenance.files_removed"] = (
            c["maintenance.files_removed"] / n_maint if n_maint else 0.0)
        m.update({
            "table.refresh_s": med("table.refresh"),
            "table.metadata_json_bytes": per("table.metadata_json_bytes", "table.loads"),
            "table.snapshots": per("table.snapshots", "table.loads"),
            "changelog.incremental_s": med("changelog.incremental"),
            "trace.coverage": (1.0 - self.op_uncovered / self.op_wall) if self.op_wall else 0.0,
            "trace.overhead_frac": self.overhead / loop_wall if loop_wall else 0.0,
        })
        return m
