"""REWRITE DELETES: positional-delete (deletion-vector) file maintenance.

Iceberg ``rewrite_position_delete_files`` analogue. Merge-on-read deletes
accumulate two kinds of metadata debt that data-file compaction alone never
pays down:

- *many small DV files* — every MOR DELETE commit writes its own batch;
  scans union all of them, so the broadcast side grows per commit;
- *dangling delete rows* — a DV that covers both live and since-removed
  data files survives ``commit_rewrite``'s all-covered-gone retirement with
  rows that can never match a scanned row again.

This job coalesces all live DV files into few range-partitioned outputs
(contiguous ``file_path`` slices → localized ``covered_paths``, prunable
scans) and drops rows pointing at files no longer live — one distributed
pass over the metadata-sized DV parquet, never the data files. DV row-set
disjointness (an invariant ``DeleteJob`` maintains) is preserved: this is a
repartition + filter, rows are never duplicated.

Cites reference delegation: deletion vectors are a platform flag there
(`utilities/utils.py:90,94`); the maintenance that keeps them healthy is
exactly what Databricks runs behind that flag.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from ..format.table import Table
from .delete import write_posdel_files
from .rewrite import commit_with_lineage


@dataclass
class RewriteDeletesResult:
    snapshot_id: int | None
    dv_files_in: int
    dv_files_out: int
    rows_in: int
    rows_out: int
    elapsed_sec: float = 0.0
    eq_files_converted: int = 0
    eq_rows_materialized: int = 0


class RewriteDeletesJob:
    """Coalesce + prune the table's positional-delete files.

    ``target_rows_per_file`` sizes outputs (DV rows are two small columns;
    1M rows ≈ a few MB). ``min_input_files`` skips the no-op case — but a
    single DV file is still rewritten when pruning would drop rows."""

    def __init__(self, table: Table, *, target_rows_per_file: int = 1_000_000,
                 min_input_files: int = 2):
        self.table = table
        self.target_rows_per_file = target_rows_per_file
        self.min_input_files = min_input_files

    def run(self) -> RewriteDeletesResult:
        t0 = time.time()
        table = self.table
        table.refresh()
        dels = table.live_delete_files()
        eqdels = table.live_eq_delete_files()
        rows_in = sum(d.record_count for d in dels)
        if not dels and not eqdels:
            return RewriteDeletesResult(None, 0, 0, 0, 0, time.time() - t0)

        spark = table.spark
        data_files = table.live_data_files()
        live = sorted(f.path for f in data_files)
        live_df = spark.createDataFrame([(p,) for p in live] or [("",)],
                                        "file_path string")
        pruned = None
        if dels:
            marks = spark.read.parquet(*[d.path for d in dels])
            pruned = marks.join(F.broadcast(live_df), "file_path", "left_semi")

        eq_marks, n_eq_rows = self._materialize_eqdels(eqdels, data_files)
        if eq_marks is not None:
            # keep DV row sets disjoint (counts add, scans union blindly):
            # drop eq marks an existing DV already masks
            if pruned is not None:
                eq_marks = eq_marks.join(F.broadcast(pruned),
                                         ["file_path", "pos"], "left_anti")
            pruned = (eq_marks if pruned is None
                      else pruned.unionByName(eq_marks))

        rows_out = pruned.count() if pruned is not None else 0

        if (not eqdels and rows_out == rows_in
                and len(dels) < self.min_input_files):
            return RewriteDeletesResult(None, len(dels), len(dels),
                                        rows_in, rows_in, time.time() - t0)

        outs = []
        if rows_out:
            n_out = max(1, -(-rows_out // self.target_rows_per_file))
            outs = write_posdel_files(table, pruned, n_out)
        snap = commit_with_lineage(
            table, dels + eqdels, outs, job="rewrite-deletes",
            operation="replace",
            summary={
                "job": "rewrite-deletes",
                "dv-files-in": len(dels),
                "dv-files-out": len(outs),
                "dv-rows-pruned": rows_in - rows_out,
                "eq-files-converted": len(eqdels),
            },
            start_seq=None,
        )
        return RewriteDeletesResult(
            snapshot_id=snap.snapshot_id,
            dv_files_in=len(dels),
            dv_files_out=len(outs),
            rows_in=rows_in,
            rows_out=rows_out,
            elapsed_sec=time.time() - t0,
            eq_files_converted=len(eqdels),
            eq_rows_materialized=n_eq_rows,
        )

    def _materialize_eqdels(self, eqdels, data_files):
        """Convert equality deletes to positional marks (Iceberg
        ``convert_equality_deletes`` analogue): scan ONLY the data files that
        predate at least one eqdel, semi-join their rows against the
        broadcast key lists under the sequence rule, and emit
        ``(file_path, pos)``. This is where the deferred read cost of the
        O(keys) delete write path is paid — once, here, instead of on every
        subsequent scan."""
        table = self.table
        spark = table.spark
        if not eqdels:
            return None, 0
        from ..format.table import _eq_bounds_may_match
        cand = [
            f for f in data_files
            if any(d.data_sequence > f.data_sequence
                   and _eq_bounds_may_match(f, d) for d in eqdels)
        ]
        if not cand:
            return None, 0
        raw = table.read_parquet([f.path for f in cand],
                                 filepos=("file_path", "pos"))
        seq_df = spark.createDataFrame(
            [(f.path, f.data_sequence) for f in cand], "path string, _seq long")
        raw = raw.join(F.broadcast(seq_df),
                       raw["file_path"] == seq_df["path"], "left").drop("path")
        by_keys = {}
        for d in eqdels:
            by_keys.setdefault(tuple(d.eq_columns), []).append(d)
        # eqdel key names are write-era names; map forward across renames
        cur_of = {o: cur for cur, olds in table.rename_map().items()
                  for o in olds}
        marks = None
        for keys, group in by_keys.items():
            kdf = None
            for d in group:
                one = (
                    spark.read.parquet(d.path)
                    .select(*[F.col(k).alias(f"_ek_{i}")
                              for i, k in enumerate(keys)])
                    .withColumn("_delseq", F.lit(d.data_sequence))
                )
                kdf = one if kdf is None else kdf.unionByName(one)
            cond = F.col("_seq") < F.col("_delseq")
            for i, k in enumerate(keys):
                cond = cond & (raw[cur_of.get(k, k)] == F.col(f"_ek_{i}"))
            part = (raw.join(F.broadcast(kdf), cond, "left_semi")
                       .select("file_path", "pos"))
            marks = part if marks is None else marks.unionByName(part)
        if len(by_keys) > 1:
            # a row matching eqdels with DIFFERENT key sets appears once per
            # set; DV disjointness requires exactly-once marks
            marks = marks.distinct()
        n = marks.count()
        return (marks if n else None), n
