"""Row-level copy-on-write rewrite: the one write-and-commit tail of
DELETE, UPDATE and MERGE (:func:`rewrite_rows`).

The operator scopes the files and supplies the row transform; this module
reads those files through ``Table.read_data_files`` (positional AND equality
deletes apply, and fold into the outputs), writes the transformed rows at the
target file size — map-only with scan splits aligned to the target, or
range-partitioned into ``n_files`` — re-harvesting the key stats the inputs
carried, takes the operator's row counters from one ``Observation`` above
any range exchange in the write's own Spark job, then commits one snapshot pinned to the job's starting
sequence (a delete committed since the read raises ``CommitConflict``
instead of being undone) and records per-partition lineage in the ledger.
Merge-on-read DELETE and REWRITE DELETES write delete files, not data files,
and reuse only the last step (:func:`commit_with_lineage`).
"""

from __future__ import annotations

import contextlib
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation

from ..format.manifest import DataFile
from ..format.snapshot import Snapshot
from ..format.stats import inputs_carry_key_stats
from ..format.table import Table, _eq_bounds_may_match
from .ledger import Ledger, partition_key, split_size_for_rewrites


def start_sequence(table: Table) -> int | None:
    """Refresh ``table`` and return the sequence number a row-level job
    plans against (None on an empty table)."""
    table.refresh()
    s = table.current_snapshot()
    return s.sequence_number if s else None


def live_row_count(table: Table, files: Sequence[DataFile]) -> int:
    """Rows of ``files`` a scan returns: manifest record counts less the rows
    positional and equality deletes mask. Runs a Spark job only when a
    delete file applies to ``files`` — over the delete parquet alone for
    positional deletes, over the files themselves for equality deletes."""
    if any(d.data_sequence > f.data_sequence and _eq_bounds_may_match(f, d)
           for d in table.live_eq_delete_files() for f in files):
        return table.read_data_files(files).count()
    return sum(f.record_count for f in files) - table.deleted_row_count(files)


def commit_with_lineage(table: Table, removed: Sequence[DataFile],
                        outs: list[DataFile], *, job: str, operation: str,
                        summary: dict, start_seq: int | None) -> Snapshot:
    """Swap ``removed`` for ``outs`` in one snapshot pinned to ``start_seq``
    and record the per-partition input -> output lineage in the ledger.
    None-valued ``summary`` entries are left out."""
    snap = table.commit_rewrite(
        [f.path for f in removed], outs, operation=operation,
        summary_extra={k: v for k, v in summary.items() if v is not None},
        starting_sequence_number=start_seq,
    )
    ledger = Ledger(table.location,
                    f"{job}-{snap.parent_snapshot_id or 0}-{snap.snapshot_id}",
                    job)
    parts: dict[str, tuple[dict, list[str], list[DataFile]]] = {}
    for f in removed:
        parts.setdefault(partition_key(f.partition),
                         (f.partition, [], []))[1].append(f.path)
    for f in outs:
        parts.setdefault(partition_key(f.partition),
                         (f.partition, [], []))[2].append(f)
    for k in sorted(parts):
        partition, ins, po = parts[k]
        ledger.record_partition(
            partition, ins, po, rows=sum(f.record_count for f in po),
            bytes_written=sum(f.file_size_bytes for f in po))
    ledger.record_job_done({"snapshot_id": snap.snapshot_id})
    return snap


def rewrite_rows(
    table: Table,
    files: Sequence[DataFile],
    transform: Callable[[DataFrame], DataFrame],
    *,
    job: str,
    operation: str,
    summary: Callable[[dict[str, int]], dict],
    sort_keys: Sequence[str],
    start_seq: int | None,
    counters: Mapping[str, Column],
    keep: Column | None = None,
    n_files: int | None = None,
    dropped: Sequence[DataFile] = (),
) -> tuple[Snapshot, list[DataFile], dict[str, int]]:
    """Rewrite ``files`` through ``transform`` and commit; returns
    ``(snapshot, output files, counts)``.

    ``transform`` maps the masked read of ``files`` to the rows to write. It
    runs once before the write and may launch its own jobs (constraint
    probes, change-data rows). Columns it adds beyond the table schema are
    tags: ``counters`` (name -> aggregate) and ``keep`` (a filter applied
    after counting) see them; the files do not. ``summary`` builds the
    snapshot summary from the counts. ``dropped`` files leave in the same
    commit unread. A map-only rewrite (no ``n_files``) of no ``files``
    writes nothing and counts 0; a range-partitioned one always writes
    (MERGE inserts need no input)."""
    outs: list[DataFile] = []
    counts = dict.fromkeys(counters, 0)
    if files or n_files:
        frame = transform(table.read_data_files(files))
        tags = [c for c in frame.columns if c not in table.schema.fieldNames()]
        obs = Observation()

        def counted(df: DataFrame) -> DataFrame:
            df = df.observe(obs, *[c.alias(n) for n, c in counters.items()])
            if keep is not None:
                df = df.filter(keep)
            return df.drop(*tags)

        target = table.property_int(
            "write.target-file-size-bytes", 128 * 1024 * 1024)
        with (split_size_for_rewrites(table.spark, target) if n_files is None
              else contextlib.nullcontext()):
            outs = table.write_data_files(
                frame, n_files=n_files, sort_within=list(sort_keys) or None,
                job_tag=job, harvest_key_stats=inputs_carry_key_stats(files),
                after_exchange=counted,
            )
        counts = obs.get
    snap = commit_with_lineage(
        table, [*dropped, *files], outs, job=job, operation=operation,
        summary=summary(counts), start_seq=start_seq)
    return snap, outs, counts
