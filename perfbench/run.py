"""Benchmark of the transcript-lakehouse maintenance engine on local[4].

    python3 perfbench/run.py --workload maintain|trickle --seed N \\
        --seconds S --trace 0|1 [--conf key=value ...]

Run from the repository root. One closed-loop client issues one operation at
a time. The workload's inputs come from ``--seed``. After a warm-up, it
repeats the workload's cycle until ``--seconds`` have passed, at least
twice; a traced run then adds one round of row-level writes. Every
operation's output is checked outside the timed intervals. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. The line before it details each timing (median,
tail percentile, sample count).
A traced run also writes its spans to ``.perfbench_out/``. The exit code is
non-zero when an operation or an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metric -> (unit, operation kind whose samples it summarizes)
END_TO_END: dict[str, tuple[str, str | None]] = {
    "setup_s": ("s", None),
    "maint_turns_per_s": ("turns/s", "maint_turns_per_s"),
    "expire_gc_s": ("s", "expire_gc"),
    "append_p50_s": ("s", "append"),
    "point_read_p50_s": ("s", "point_read"),
    "range_read_p50_s": ("s", "range_read"),
    "write_amp": ("ratio", None),
    "space_amp": ("ratio", None),
    "driver_peak_rss_mb": ("MB", None),
    "op_success_rate": ("ratio", None),
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("maintain", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra Spark conf for the session (repeatable)")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def end_to_end(rec, ctx, jvm_s: float, warm_s: float) -> tuple[dict, dict]:
    """(metric values, per-timing detail)."""
    from harness import median, percentile, tail_percentile

    values, detail = {}, {}
    for name, (_unit, kind) in END_TO_END.items():
        if kind is not None:
            values[name] = median(rec.samples[kind])
    for kind, xs in rec.samples.items():
        tp = tail_percentile(len(xs))
        detail[kind] = {"n": len(xs), "median": median(xs),
                        "tail_p": tp, "tail": percentile(xs, tp) if tp else None}
    values["setup_s"] = jvm_s + warm_s + median(ctx.builds)
    detail["setup"] = {"jvm_s": jvm_s, "builds": ctx.builds, "warm_s": warm_s}
    values["write_amp"] = ctx.acct.write_amp()
    values["space_amp"] = ctx.space_amp
    values["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    values["op_success_rate"] = 1 - rec.failed / rec.attempted
    return {k: values[k] for k in END_TO_END}, detail


def run(args) -> tuple[dict, int]:
    sys.path[:0] = [ROOT, HERE]
    from harness import start_spark, stop_spark
    from spans import PER_LAYER_UNITS, Tracer
    from workloads import run_workload

    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, dict(kv.split("=", 1) for kv in args.conf))
        jvm_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if args.trace else None
            ctx, warm_s = run_workload(spark, os.path.join(workdir, "warehouse"),
                                       args.workload, args.seed, args.seconds, tracer)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    rec = ctx.rec
    e2e, detail = end_to_end(rec, ctx, jvm_s, warm_s)
    if tracer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    else:
        layer = tracer.per_layer()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        outdir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(outdir, exist_ok=True)
        spans = os.path.join(outdir, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans, {"workload": args.workload, "seed": args.seed,
                            "end_to_end": e2e, "per_layer": layer})
        detail["spans_file"] = os.path.relpath(spans, ROOT)
    detail["end_to_end"] = e2e
    detail["reported_count_mismatches"] = ctx.miscounts
    print(json.dumps({"detail": detail}))
    result = {"correct": rec.failed == 0, "attempted": rec.attempted,
              "failed": rec.failed, "metrics": metrics}
    return result, 0 if rec.failed == 0 else 1


def main() -> int:
    args = parse_args()
    result, code = run(args)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
