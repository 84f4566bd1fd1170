"""Benchmark plumbing: Spark session, operation clock, checks, byte accounting
and the statistics reported for each metric."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

T0 = time.perf_counter()
CPUS = 4  # local[4]: the load is one client, and Spark never exceeds nproc


def start_spark(workdir: str, extra_conf: dict[str, str]):
    """local[4] session whose scratch files all stay under ``workdir``."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the launcher's handshake file and any Python temp file land here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir, and the
    # engine's own env knobs would change what is measured
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    for k in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_TMPFS",
              "SPARK_LOCAL_DIRS_OVERRIDE", "SPARK_GRAFT_TIMING"):
        os.environ.pop(k, None)
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra_conf)
    spark = get_spark(parallelism=CPUS, shuffle_partitions=CPUS,
                      app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited: the launcher JVM
    outlives ``spark.stop()`` and exits only on EOF on its stdin."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(values: list[float]) -> float:
    """Mean of the two middle values on even counts."""
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    x = (len(s) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def tail_percentile(n: int) -> float | None:
    """Highest reported percentile with at least ten samples beyond it."""
    for permille in (999, 990, 900, 750, 500):
        if n * (1000 - permille) >= 10_000:
            return permille / 10
    return None


class Recorder:
    """Closed-loop operation clock: one operation in flight at a time.

    An operation that raises counts as failed and is re-raised; a failed
    output check counts as failed, is logged, and the run continues, so every
    check reports."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def op(self, kind: str):
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.begin_op(kind)
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.failed += 1
            raise
        finally:
            dt = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.end_op()
        self.samples.setdefault(kind, []).append(dt)
        print(f"[perfbench] {time.perf_counter() - T0:7.2f} {kind} {dt:.3f}s",
              file=sys.stderr, flush=True)

    def add(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr, flush=True)


class ByteLedger:
    """Bytes written to data and delete files, found by listing each table's
    data directory after a write, against bytes of user data ingested or
    changed."""

    def __init__(self):
        self.seen: set[str] = set()
        self.written = 0
        self.user = 0

    def _new_bytes(self, table) -> int:
        new = 0
        for root, _dirs, names in os.walk(os.path.join(table.location, "data")):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                p = os.path.join(root, n)
                if p not in self.seen:
                    self.seen.add(p)
                    new += os.path.getsize(p)
        self.written += new
        return new

    def ingest(self, table) -> None:
        """After an append: its new files are user data, written once."""
        self.user += self._new_bytes(table)

    def change(self, table, rows: int) -> None:
        """After a row-level write of ``rows`` rows: user bytes are the rows'
        share of the live data, at the table's mean bytes per row."""
        self._new_bytes(table)
        files = table.live_data_files()
        n = sum(f.record_count for f in files)
        if n:
            self.user += rows * sum(f.file_size_bytes for f in files) / n

    def rewrite(self, table) -> None:
        """After maintenance: bytes written, no user bytes."""
        self._new_bytes(table)

    def write_amp(self) -> float:
        return self.written / self.user


def space_amp(table) -> float:
    """Bytes under the table location ÷ bytes of live data files."""
    total = 0
    for root, _dirs, names in os.walk(table.location):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / sum(f.file_size_bytes for f in table.live_data_files())
