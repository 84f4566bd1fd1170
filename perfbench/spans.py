"""Span tracing for the benchmark's traced run.

The engine is not instrumented: this module wraps the public functions and
methods each layer exposes (``WRAP_SET``) from the outside, records one span
per call while a benchmark operation is open, and attributes to each
operation the Spark stages it launched, read from the status store (which
works with the UI disabled).

Functions imported by name into other modules (``prune_files`` into
``format/table.py``, ``harvest_file_stats`` into ``format/table.py`` and
``operators/compaction.py``, ...) are replaced at every binding, not only in
the defining module, or those call sites would record nothing.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "e2e_ocsf_cyber_lakehouse_blueprint_spark"

# (module, attribute path) -> span name. Methods are patched on their class,
# functions in every loaded module that binds them (the engine's and ours).
WRAP_SET: dict[tuple[str, str], str] = {
    ("sql", "run_sql"): "sql.run_sql",
    ("format.table", "Table.append"): "format.table.append",
    ("format.table", "Table.plan_scan"): "format.table.plan_scan",
    ("format.table", "Table.commit_rewrite"): "format.table.commit_rewrite",
    ("format.table", "Table.expire_snapshots"): "operators.expire.meta",
    ("format.manifest", "read_manifest"): "format.manifest.read",
    ("format.manifest", "write_manifest"): "format.manifest.write",
    ("format.snapshot", "commit_metadata"): "format.snapshot.commit",
    ("format.stats", "harvest_file_stats"): "format.stats.harvest",
    ("plans.pruning", "prune_files"): "plans.pruning.prune",
    ("operators.compaction", "plan_compaction"): "operators.compaction.plan",
    ("operators.compaction", "run_grouped_rewrites"): "operators.compaction.rewrite",
    ("operators.compaction", "CompactionJob.run"): "operators.compaction.job",
    ("operators.clustering", "ClusteringJob.run"): "operators.clustering.job",
    ("operators.expire", "ExpireSnapshotsJob.run"): "operators.expire.job",
    ("operators.expire", "referenced_files"): "operators.expire.refs",
    ("operators.expire", "gc_metadata_files"): "operators.expire.gc_meta",
    ("operators.merge", "MergeIntoJob.run"): "operators.merge.job",
    ("operators.update", "UpdateJob.run"): "operators.update.job",
    ("operators.delete", "DeleteJob.run"): "operators.delete.job",
    ("operators.upsert", "upsert"): "operators.upsert.upsert",
    ("operators.maintain", "run_maintenance"): "operators.maintain.run",
    ("operators.ledger", "Ledger.record_partition"): "operators.ledger.record",
    ("operators.ledger", "Ledger.record_partition_written"): "operators.ledger.record",
}

# Per-layer metrics reported by a traced run, in BENCHMARK.json order.
PER_LAYER_UNITS: dict[str, str] = {
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.uncovered_s": "s",
    "format.manifest.read_calls": "count",
    "format.manifest.read_s": "s",
    "format.manifest.write_calls": "count",
    "format.manifest.write_s": "s",
    "format.snapshot.commit_s": "s",
    "format.snapshot.commit_retries": "count",
    "format.table.plan_scan_s": "s",
    "format.table.files_per_read": "files",
    "plans.pruning.prune_s": "s",
    "plans.pruning.kept_frac": "ratio",
    "format.table.commit_rewrite_s": "s",
    "format.stats.harvest_s": "s",
    "format.stats.harvest_files": "count",
    "operators.compaction.plan_s": "s",
    "operators.ledger.record_calls": "count",
    "operators.ledger.record_s": "s",
    "operators.compaction.rewrite_s": "s",
    "operators.merge.files_scoped_frac": "ratio",
    "operators.expire.meta_s": "s",
    "operators.expire.refs_s": "s",
    "operators.expire.gc_meta_s": "s",
    "operators.expire.files_deleted": "count",
    "operators.expire.manifest_reads": "count",
    "sql.self_s": "s",
    "operators.compaction.job_s": "s",
    "operators.clustering.job_s": "s",
    "operators.merge.job_s": "s",
    "operators.upsert.upsert_s": "s",
    "operators.update.job_s": "s",
    "operators.delete.job_s": "s",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)


def _attrs(name: str, args: tuple, result) -> dict:
    """Counts recorded at the layer boundary, from the call's own inputs and
    result, so ratios are measured where the work happens."""
    if name == "plans.pruning.prune":
        return {"files_in": len(args[0]), "files_out": len(result)}
    if name in ("format.table.plan_scan", "format.stats.harvest"):
        return {"files": len(result)}
    if name == "operators.merge.job":
        return {"files_scoped": result.files_scoped, "files_total": result.files_total}
    if name == "operators.expire.job":
        return {"files_deleted": result.deleted_files}
    return {}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StageProbe:
    """Stages launched since the last call, from the Spark status store."""

    FIELDS = ("executorCpuTime", "executorRunTime", "jvmGcTime",
              "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
              "inputBytes", "outputBytes")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.last_stage, self.last_job = self._latest()

    def _latest(self) -> tuple[int, int]:
        self._sc.listenerBus().waitUntilEmpty()
        stages = self._store.stageList(self._empty, False, False,
                                       self._quantiles, self._empty)
        jobs = self._store.jobsList(None)
        return (stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def collect(self) -> tuple[dict, list[tuple[float, float]]]:
        """(summed metrics, [(submit_s, complete_s)]) of the new stages."""
        self._sc.listenerBus().waitUntilEmpty()
        stages = self._store.stageList(self._empty, False, False,
                                       self._quantiles, self._empty)
        out = dict.fromkeys(self.FIELDS, 0)
        intervals = []
        top = self.last_stage
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            top = max(top, sid)
            for k in self.FIELDS:
                out[k] += getattr(s, k)()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
        self.last_stage = top
        jobs = self._store.jobsList(None)
        new_jobs = 0
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            new_jobs += 1
        if new_jobs:
            self.last_job = jobs.apply(0).jobId()
        out["jobs"] = new_jobs
        return out, intervals


class Tracer:
    """Spans in memory while an operation is open; written out by ``dump``.

    ``install`` patches the wrap set and returns nothing; ``uninstall``
    restores every original binding."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.calls: dict[str, int] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._op_stack: list[int] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        self._probe: StageProbe | None = None

    # -------------------------------------------------------------- patching

    def install(self) -> None:
        # import every module of the wrap set first, so name bindings exist
        for mod_name, _ in WRAP_SET:
            importlib.import_module(f"{PKG}.{mod_name}")
        for (mod_name, path), name in WRAP_SET.items():
            mod = sys.modules[f"{PKG}.{mod_name}"]
            if "." in path:
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, orig, self._wrap(orig, name))
                continue
            orig = getattr(mod, path)
            wrapper = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__dict__", {}).get(path) is orig:
                    self._set(m, path, orig, wrapper)
        if self.spark is not None:
            self._probe = StageProbe(self.spark)

    def _set(self, owner, attr, orig, new) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer._op
            if op is None:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            # a worker thread's first span hangs off the op thread's
            # innermost open span (the call that started the pool)
            parent = stack[-1] if stack else (
                tracer._op_stack[-1] if tracer._op_stack else None)
            with tracer._lock:
                sid = tracer._next_id
                tracer._next_id += 1
                tracer.calls[name] = tracer.calls.get(name, 0) + 1
            stack.append(sid)
            t0 = time.time()
            attrs = {}
            try:
                result = fn(*args, **kwargs)
                try:
                    attrs = _attrs(name, args, result)
                except (IndexError, TypeError, AttributeError):
                    attrs = {}  # unexpected call shape: time it, count nothing
                return result
            except BaseException as e:
                attrs = {"error": type(e).__name__}
                raise
            finally:
                stack.pop()
                span = Span(sid, name, t0, time.time(), parent, op, attrs)
                with tracer._lock:
                    tracer.spans.append(span)

        return wrapper

    # ------------------------------------------------------------ operations

    def begin_op(self, kind: str) -> None:
        if self._probe is not None:
            self._probe.collect()  # skip stages of untraced work in between
        self._op = len(self.ops)
        self._op_stack = self._stack()
        self.ops.append({"op": self._op, "kind": kind, "start": time.time()})

    def end_op(self) -> None:
        rec = self.ops[self._op]
        rec["end"] = time.time()
        self._op = None
        if self._probe is not None:
            metrics, intervals = self._probe.collect()
            clipped = [(max(lo, rec["start"]), min(hi, rec["end"]))
                       for lo, hi in intervals]
            covered = _union_length([iv for iv in clipped if iv[1] > iv[0]])
            metrics["uncovered_s"] = max(0.0, rec["end"] - rec["start"] - covered)
            rec["spark"] = metrics

    # ------------------------------------------------------------- reporting

    def per_layer(self) -> dict[str, float]:
        by: dict[str, list[Span]] = {}
        for s in self.spans:
            by.setdefault(s.name, []).append(s)

        def dur(name: str) -> float:
            return sum(s.end - s.start for s in by.get(name, []))

        def attr_sum(name: str, key: str) -> int:
            return sum(s.attrs.get(key, 0) for s in by.get(name, []))

        spark = {k: 0 for k in StageProbe.FIELDS + ("jobs", "uncovered_s")}
        for rec in self.ops:
            for k, v in rec.get("spark", {}).items():
                spark[k] += v
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        sql_self = sum(
            (s.end - s.start) - _union_length(
                [(c.start, c.end) for c in children.get(s.id, [])])
            for s in by.get("sql.run_sql", []))
        prune_in = attr_sum("plans.pruning.prune", "files_in")
        scoped_total = attr_sum("operators.merge.job", "files_total")
        ids = {s.id: s for s in self.spans}

        def under(s: Span, name: str) -> bool:
            while s.parent is not None and s.parent in ids:
                s = ids[s.parent]
                if s.name == name:
                    return True
            return False

        reads = by.get("format.table.plan_scan", [])
        commits = by.get("format.snapshot.commit", [])
        return {
            "spark.executor_cpu_s": spark["executorCpuTime"] / 1e9,
            "spark.executor_run_s": spark["executorRunTime"] / 1e3,
            "spark.jvm_gc_s": spark["jvmGcTime"] / 1e3,
            "spark.shuffle_write_bytes": spark["shuffleWriteBytes"],
            "spark.spill_bytes": spark["memoryBytesSpilled"] + spark["diskBytesSpilled"],
            "spark.jobs": spark["jobs"],
            "spark.input_bytes": spark["inputBytes"],
            "spark.output_bytes": spark["outputBytes"],
            "spark.uncovered_s": spark["uncovered_s"],
            "format.manifest.read_calls": self.calls.get("format.manifest.read", 0),
            "format.manifest.read_s": dur("format.manifest.read"),
            "format.manifest.write_calls": self.calls.get("format.manifest.write", 0),
            "format.manifest.write_s": dur("format.manifest.write"),
            "format.snapshot.commit_s": dur("format.snapshot.commit"),
            "format.snapshot.commit_retries": sum(
                s.attrs.get("error") == "FileExistsError" for s in commits),
            "format.table.plan_scan_s": dur("format.table.plan_scan"),
            "format.table.files_per_read": (
                attr_sum("format.table.plan_scan", "files") / len(reads)
                if reads else 0.0),
            "plans.pruning.prune_s": dur("plans.pruning.prune"),
            "plans.pruning.kept_frac": (
                attr_sum("plans.pruning.prune", "files_out") / prune_in
                if prune_in else 0.0),
            "format.table.commit_rewrite_s": dur("format.table.commit_rewrite"),
            "format.stats.harvest_s": dur("format.stats.harvest"),
            "format.stats.harvest_files": attr_sum("format.stats.harvest", "files"),
            "operators.compaction.plan_s": dur("operators.compaction.plan"),
            "operators.ledger.record_calls": self.calls.get("operators.ledger.record", 0),
            "operators.ledger.record_s": dur("operators.ledger.record"),
            "operators.compaction.rewrite_s": dur("operators.compaction.rewrite"),
            "operators.merge.files_scoped_frac": (
                attr_sum("operators.merge.job", "files_scoped") / scoped_total
                if scoped_total else 0.0),
            "operators.expire.meta_s": dur("operators.expire.meta"),
            "operators.expire.refs_s": dur("operators.expire.refs"),
            "operators.expire.gc_meta_s": dur("operators.expire.gc_meta"),
            "operators.expire.files_deleted": attr_sum("operators.expire.job",
                                                       "files_deleted"),
            "operators.expire.manifest_reads": sum(
                under(s, "operators.expire.job")
                for s in by.get("format.manifest.read", [])),
            "sql.self_s": sql_self,
            **{f"{name}_s": dur(name) for name in (
                "operators.compaction.job", "operators.clustering.job",
                "operators.merge.job", "operators.upsert.upsert",
                "operators.update.job", "operators.delete.job")},
        }

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({
                "ops": self.ops,
                "calls": self.calls,
                "spans": [vars(s) for s in self.spans],
                **(extra or {}),
            }, f)
