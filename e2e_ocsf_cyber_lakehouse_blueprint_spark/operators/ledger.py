"""Per-partition checkpoint ledger: lineage + metrics, resumable jobs.

The engine-side replacement for the checkpointing the reference delegates to
SDP/Auto Loader ("SDP handles checkpointing and schema evolution automatically",
`_resources/PIPELINE_OVERVIEW.md:165`; checkpoint volume `utilities/utils.py:26-27`).

Every maintenance job writes one JSONL record per table partition:
``(job_id, partition, input_files -> output_files, rows, bytes, spill, state)``.
A restarted job skips partitions whose record is ``committed`` and reuses their
recorded output files — idempotent resume per BASELINE.json north_rule. Records
carry full output DataFile dicts so resume never re-reads data.

Appends are crash-safe: a torn final line is detected (json parse failure) and
ignored on read; each record is flushed+fsynced before the worker reports done.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Any

from ..format.manifest import DataFile

STATE_COMMITTED = "committed"
STATE_WRITTEN = "written"
STATE_JOB_DONE = "job-committed"


def partition_key(partition: dict[str, str | None]) -> str:
    if not partition:
        return "unpartitioned"
    return json.dumps(partition, sort_keys=True, separators=(",", ":"))


class Ledger:
    def __init__(self, table_location: str, job_id: str, job_type: str):
        self.job_id = job_id
        self.job_type = job_type
        ldir = os.path.join(table_location, "metadata", "ledger")
        os.makedirs(ldir, exist_ok=True)
        self.path = os.path.join(ldir, f"{job_id}.jsonl")
        self._lock = threading.Lock()

    # --------------------------------------------------------------- write

    def record_partition(
        self,
        partition: dict[str, str | None],
        input_files: list[str],
        output_files: list[DataFile],
        *,
        rows: int,
        bytes_written: int,
        spill_bytes: int = 0,
        started_ms: int | None = None,
    ) -> None:
        rec = {
            "job_id": self.job_id,
            "job_type": self.job_type,
            "state": STATE_COMMITTED,
            "partition": partition,
            "partition_key": partition_key(partition),
            "input_files": sorted(input_files),
            "output_files": [vars(f) for f in output_files],
            "rows": rows,
            "bytes": bytes_written,
            "spill_bytes": spill_bytes,
            "started_ms": started_ms,
            "finished_ms": int(time.time() * 1000),
        }
        self._append(rec)

    def record_partition_written(
        self,
        partition: dict[str, str | None],
        input_files: list[str],
        staging_dir: str,
        *,
        started_ms: int | None = None,
    ) -> None:
        """Data files are on disk but stats are not harvested yet.

        The write is the expensive, resumable unit; stats for all partitions
        are harvested in ONE batched Spark job afterwards (per-partition
        harvest jobs were measured as the dominant cost of a maintenance
        phase: ~10s of job overhead per partition vs <1s of actual agg work).
        A rerun that finds this record skips the rewrite and only re-harvests."""
        self._append({
            "job_id": self.job_id,
            "job_type": self.job_type,
            "state": STATE_WRITTEN,
            "partition": partition,
            "partition_key": partition_key(partition),
            "input_files": sorted(input_files),
            "staging_dir": staging_dir,
            "started_ms": started_ms,
            "finished_ms": int(time.time() * 1000),
        })

    def record_job_done(self, summary: dict[str, Any] | None = None) -> None:
        self._append({
            "job_id": self.job_id,
            "job_type": self.job_type,
            "state": STATE_JOB_DONE,
            "summary": summary or {},
            "finished_ms": int(time.time() * 1000),
        })

    def _append(self, rec: dict) -> None:
        line = json.dumps(rec, sort_keys=True) + "\n"
        with self._lock:
            with open(self.path, "a") as f:
                f.write(line)
                f.flush()
                os.fsync(f.fileno())

    # ---------------------------------------------------------------- read

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        out = []
        with open(self.path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # torn tail line from a crash — safely ignored
        return out

    def completed_partitions(self) -> dict[str, dict]:
        """partition_key -> newest committed record (last writer wins)."""
        out: dict[str, dict] = {}
        for rec in self.records():
            if rec.get("state") == STATE_COMMITTED:
                out[rec["partition_key"]] = rec
        return out

    def written_partitions(self) -> dict[str, dict]:
        """partition_key -> newest written-but-not-harvested record."""
        out: dict[str, dict] = {}
        for rec in self.records():
            if rec.get("state") == STATE_WRITTEN:
                out[rec["partition_key"]] = rec
        return out

    def job_done(self) -> bool:
        return any(r.get("state") == STATE_JOB_DONE for r in self.records())

    @staticmethod
    def output_data_files(rec: dict) -> list[DataFile]:
        return [DataFile(**d) for d in rec["output_files"]]


class split_size_for_rewrites:
    """Align the parquet split size with the job's target file size while a
    maintenance job runs. The default 128MB split packs several ~32MB small
    files into one scan task, capping map-side parallelism at
    total_bytes/128MB — measured as the difference between flat and ~linear
    core scaling for the clustering rewrite. Runtime conf, restored on exit."""

    KEY = "spark.sql.files.maxPartitionBytes"
    OPEN_COST = "spark.sql.files.openCostInBytes"
    MIN_PARTS = "spark.sql.files.minPartitionNum"

    def __init__(self, spark, target_file_size: int):
        self.spark = spark
        self.target = int(target_file_size)

    def __enter__(self):
        self.old = {}
        for k in (self.KEY, self.OPEN_COST, self.MIN_PARTS):
            try:
                self.old[k] = self.spark.conf.get(k, None)
            except Exception:
                self.old[k] = None
        self.spark.conf.set(self.KEY, str(self.target))
        # size-faithful split packing: the default 4MB per-file open cost
        # would make Spark under-fill bins of genuinely small files. The open
        # cost must scale with the target (1/128th, i.e. 256KB at the 32MB
        # default): a FIXED cost >= the target would give every tiny file its
        # own split and turn a 1-bin plan into one output file per input.
        open_cost = min(256 * 1024, max(4 * 1024, self.target // 128))
        self.spark.conf.set(self.OPEN_COST, str(open_cost))
        # ...and the default split size is min(maxPartitionBytes,
        # totalBytes/defaultParallelism) — per-core right-sizing that would
        # shatter a binpack scan into per-file tasks. minPartitionNum=1 makes
        # maxPartitionBytes the actual split size, so scan tasks ARE the bins.
        self.spark.conf.set(self.MIN_PARTS, "1")
        return self

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is not None:
                self.spark.conf.set(k, v)
            else:
                # unset-by-default confs (openCostInBytes, minPartitionNum)
                # must be unset again, or the rewrite sizing leaks into every
                # subsequent query in the session (minPartitionNum=1 would
                # silently cap scan parallelism)
                self.spark.conf.unset(k)
        return False
