"""Tests of the benchmark itself: statistics, span wrapping and the forced-spill
traced run. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

from harness import median, percentile, tail_percentile  # noqa: E402
from spans import WRAP_SET, Tracer, _union_length  # noqa: E402


def test_median_averages_the_two_middle_values():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)


def test_benchmark_json_names_what_the_runs_print():
    from run import END_TO_END
    from spans import PER_LAYER_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: unit for k, (unit, _) in END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert bench["paths"] == ["perfbench"]


def test_union_length_merges_overlaps():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from harness import start_spark, stop_spark

    s = start_spark(str(tmp_path_factory.mktemp("spark")), {})
    yield s
    stop_spark(s)


def _outputs(spark, tmp_path, workload: str, traced: bool):
    from workloads import fingerprint, run_workload

    tracer = Tracer(spark) if traced else None
    ctx, _ = run_workload(spark, str(tmp_path / f"{workload}-{traced}"),
                          workload, seed=7, seconds=1, tracer=tracer, rowwrites=True)
    out = {
        "failed": ctx.rec.failed,
        "ops": {k: len(v) for k, v in ctx.rec.samples.items()},
        "miscounts": ctx.miscounts,
        "fingerprint": fingerprint(ctx.last_table.scan()),
    }
    return out, (tracer.calls if traced else None)


def test_wrappers_record_every_layer_and_change_no_result(spark, tmp_path):
    """At the smallest size every wrapped function records calls on the
    workload meant to exercise it, including call sites that imported it by
    name, and a traced run's results equal an untraced run's."""
    calls: dict[str, dict[str, int]] = {}
    for workload in ("maintain", "trickle"):
        plain, _ = _outputs(spark, tmp_path, workload, traced=False)
        traced, calls[workload] = _outputs(spark, tmp_path, workload, traced=True)
        assert plain["failed"] == 0
        assert traced == plain
    # both workloads issue every kind of operation; the managed pass is
    # trickle's
    for workload, seen in calls.items():
        missing = set(WRAP_SET.values()) - set(seen)
        if workload == "maintain":
            missing.discard("operators.maintain.run")
        assert not missing, (workload, missing)


def test_uninstall_restores_every_binding():
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format import table
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans import pruning

    before = (pruning.prune_files, table.prune_files, table.Table.append)
    tracer = Tracer()
    tracer.install()
    try:
        # the name imported into format/table.py is wrapped, not only the
        # defining module's
        assert table.prune_files is pruning.prune_files
        assert table.prune_files is not before[0]
    finally:
        tracer.uninstall()
    assert (pruning.prune_files, table.prune_files, table.Table.append) == before


def test_forced_spill_is_reported():
    """A traced run whose shuffles are forced to spill reports spill bytes
    from the status store (the ledger's REST-based spill_metrics reads 0
    with the UI off)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "maintain",
         "--seed", "1", "--seconds", "1", "--trace", "1",
         "--conf", "spark.shuffle.spill.numElementsForceSpillThreshold=1000"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert result["metrics"]["spark.spill_bytes"]["value"] > 0
