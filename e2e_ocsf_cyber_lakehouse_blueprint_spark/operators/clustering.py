"""Z-order / Hilbert clustering job — the engine's liquid clustering.

Mirrors what the reference delegates to Delta (`cluster_by` at table creation,
`bronze_github_audit_logs.py:30-35`; post-hoc `ALTER TABLE ... CLUSTER BY (time)`,
`utilities/post_setup_ocsf_tables.py:40-53`, motivated by "last 7 days" scans
`:25-29`). Instead of a single clustering column, files are rewritten in
space-filling-curve order over (hash(conv_id), turn_idx, epoch_us(ts)):

  plan   (Python): dimension ranges from manifest stats (metadata only);
                   per-partition file census -> n_out = ceil(bytes/target)
  execute (Spark): scan -> normalize dims (Catalyst) -> curve key (Arrow UDF)
                   -> repartitionByRange(n_out, key) -> sortWithinPartitions(key)
                   -> write (key column dropped — it is a physical layout
                   artifact, never table data)
  commit (Python): one copy-on-write snapshot; ledger per partition.

Effect: manifest min/max gets tight on every clustered dimension, so the
pruning planner skips files for conv_id point lookups AND ts ranges at once.
"""

from __future__ import annotations

import datetime
import math
import time
from dataclasses import dataclass

from ..format.manifest import DataFile, decode_bound
from ..format.table import Table
from ..functions.zorder import cluster_key_column
from .compaction import (
    DEFAULT_TARGET_FILE_SIZE,
    run_grouped_rewrites,
    write_group_global_range,
)
from .ledger import Ledger, partition_key, split_size_for_rewrites
from ..timing import phase_timer

_KEY_COL = "_zkey"


@dataclass
class ClusteringResult:
    snapshot_id: int | None
    curve: str
    partitions: int
    files_in: int
    files_out: int
    rows: int
    bytes_in: int
    skipped_resume: int = 0
    elapsed_sec: float = 0.0
    # files left in place because their manifest entry already carries the
    # current sort spec (incremental / liquid clustering)
    files_skipped_clustered: int = 0


def _parse_ts_us(s: str) -> float:
    dt = datetime.datetime.fromisoformat(s)
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6


def dimension_ranges(files: list[DataFile]) -> tuple[tuple[float, float], tuple[float, float]]:
    """(turn_idx range, ts epoch-us range) from manifest bounds — no data scan."""
    t_lo, t_hi = math.inf, -math.inf
    ts_lo, ts_hi = math.inf, -math.inf
    for f in files:
        if "turn_idx" in f.lower_bounds:
            t_lo = min(t_lo, decode_bound(f.lower_bounds["turn_idx"]))
            t_hi = max(t_hi, decode_bound(f.upper_bounds["turn_idx"]))
        if "ts" in f.lower_bounds:
            ts_lo = min(ts_lo, _parse_ts_us(decode_bound(f.lower_bounds["ts"])))
            ts_hi = max(ts_hi, _parse_ts_us(decode_bound(f.upper_bounds["ts"])))
    if not math.isfinite(t_lo):
        t_lo, t_hi = 0.0, 1.0
    if not math.isfinite(ts_lo):
        ts_lo, ts_hi = 0.0, 1.0
    return (float(t_lo), float(t_hi)), (ts_lo, ts_hi)


@dataclass
class PartitionClusterPlan:
    partition: dict[str, str | None]
    input_files: list[DataFile]
    n_output_files: int

    @property
    def key(self) -> str:
        return partition_key(self.partition)


class ClusteringJob:
    def __init__(
        self,
        table: Table,
        *,
        curve: str = "zorder",
        target_file_size: int | None = None,
        conv_col: str = "conv_id",
        turn_col: str = "turn_idx",
        ts_col: str = "ts",
        min_input_files: int = 1,
        max_concurrency: int = 8,
        only_partitions: set[str] | None = None,
        incremental: bool = True,
    ):
        if curve not in ("zorder", "hilbert"):
            raise ValueError(f"unknown curve {curve!r}")
        self.table = table
        self.curve = curve
        # incremental=True (liquid-clustering behavior): files whose manifest
        # entry already records the current sort spec are left in place, so a
        # re-cluster after a small append rewrites only the new bytes instead
        # of whole partitions — the write-amplification property that matters
        # at 10^12 turns. incremental=False forces a full re-sort (use after
        # changing curve parameters that don't show in the spec string).
        self.incremental = incremental
        self.target_file_size = target_file_size or table.property_int(
            "write.target-file-size-bytes", DEFAULT_TARGET_FILE_SIZE
        )
        self.conv_col, self.turn_col, self.ts_col = conv_col, turn_col, ts_col
        self.min_input_files = min_input_files
        self.max_concurrency = max_concurrency
        # incremental liquid clustering: the managed pass scopes the rewrite
        # to partitions that gained files since the last clustering commit
        self.only_partitions = only_partitions
        self._skipped_clustered = 0

    @property
    def sort_spec(self) -> str:
        """Layout spec stamped into each output file's manifest entry."""
        return f"{self.curve}({self.conv_col},{self.turn_col},{self.ts_col})"

    def _already_clustered(self, f: DataFile) -> bool:
        """Skip-eligible: written under the current spec AND no outstanding
        delete may mask its rows (a masked file must be rewritten so the
        delete can retire and the mask cost stops being paid at scan time)."""
        if f.sort_order != self.sort_spec:
            return False
        if f.path in self._del_covered:
            return False
        from ..format.table import _eq_bounds_may_match
        return not any(
            d.data_sequence > f.data_sequence and _eq_bounds_may_match(f, d)
            for d in self._eqdels
        )

    def _plan(self) -> list[PartitionClusterPlan]:
        self._skipped_clustered = 0
        dels = self.table.live_delete_files()
        self._del_covered = set().union(
            *[set(d.covered_paths) for d in dels]) if dels else set()
        self._eqdels = self.table.live_eq_delete_files()
        by_part: dict[str, list[DataFile]] = {}
        parts: dict[str, dict] = {}
        for f in self.table.live_data_files():
            k = partition_key(f.partition)
            if self.only_partitions is not None and k not in self.only_partitions:
                continue
            if self.incremental and self._already_clustered(f):
                self._skipped_clustered += 1
                continue
            by_part.setdefault(k, []).append(f)
            parts[k] = f.partition
        plans = []
        for k, files in sorted(by_part.items()):
            if len(files) < self.min_input_files:
                continue
            total = sum(f.file_size_bytes for f in files)
            plans.append(
                PartitionClusterPlan(
                    parts[k], files, max(1, math.ceil(total / self.target_file_size))
                )
            )
        return plans

    def _group_writer_factory(self, turn_range, ts_range):
        """Group writer: single global range exchange on the curve key per
        group (the key column is dropped before write — a physical layout
        artifact, never table data).

        The key is evaluated by the range-partitioner sampling pass, the
        shuffle, and the output sort. For zorder the key is a pure Catalyst
        expression (re-evaluation is free register math inside codegen);
        for hilbert it is an Arrow kernel and the recompute is the price of
        bounded memory — persisting the keyed frame was measured WORSE
        (executor-heap pressure on wide text rows beats Python round-trips)."""
        key = cluster_key_column(
            self.curve,
            conv_col=self.conv_col, turn_col=self.turn_col, ts_col=self.ts_col,
            turn_range=turn_range, ts_us_range=ts_range,
        )

        dels = self.table.live_delete_files()      # pinned once per job
        eqdels = self.table.live_eq_delete_files()

        def writer(group, job_tag):
            return write_group_global_range(
                self.table, group, _KEY_COL, key, job_tag,
                delete_files=dels, eq_delete_files=eqdels)

        return writer

    def run(self, *, resume: bool = True) -> ClusteringResult:
        t0 = time.time()
        self.table.refresh()
        snapshot = self.table.current_snapshot()
        if snapshot is None:
            return ClusteringResult(None, self.curve, 0, 0, 0, 0, 0)
        with phase_timer("cluster.plan"):
            plans = self._plan()
        if not plans:
            # incremental no-op: everything already carries the current spec
            return ClusteringResult(snapshot.snapshot_id, self.curve, 0, 0, 0, 0, 0,
                                    elapsed_sec=time.time() - t0,
                                    files_skipped_clustered=self._skipped_clustered)
        all_files = [f for p in plans for f in p.input_files]
        turn_range, ts_range = dimension_ranges(all_files)
        job_id = f"cluster-{self.curve}-{snapshot.snapshot_id}"
        ledger = Ledger(self.table.location, job_id, "cluster")
        with split_size_for_rewrites(self.table.spark, self.target_file_size):
            results = run_grouped_rewrites(
                self.table, plans, ledger,
                self._group_writer_factory(turn_range, ts_range),
                resume=resume, max_concurrency=self.max_concurrency,
                job_tag=job_id, stamp_sort_order=self.sort_spec,
            )

        skipped = 0
        deleted, added = [], []
        for plan, outs, was_resumed in results:
            if was_resumed:
                skipped += 1
            deleted.extend(f.path for f in plan.input_files)
            added.extend(outs)
        with phase_timer("cluster.commit"):
            snap = self.table.commit_rewrite(
                deleted, added, operation="replace",
                summary_extra={"job": "cluster", "curve": self.curve, "job-id": job_id},
                starting_sequence_number=snapshot.sequence_number,
                preserve_sequence=True,
            )
        ledger.record_job_done({"snapshot_id": snap.snapshot_id})
        return ClusteringResult(
            snapshot_id=snap.snapshot_id,
            curve=self.curve,
            partitions=len(plans),
            files_in=len(deleted),
            files_out=len(added),
            rows=sum(f.record_count for f in added),
            bytes_in=sum(f.file_size_bytes for f in all_files),
            skipped_resume=skipped,
            elapsed_sec=time.time() - t0,
            files_skipped_clustered=self._skipped_clustered,
        )
