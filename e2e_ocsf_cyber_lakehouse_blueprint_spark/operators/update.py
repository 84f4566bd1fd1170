"""UPDATE ... SET ... WHERE — predicate-scoped copy-on-write row update.

The single-statement sibling of MERGE for the common "patch rows in place"
case Delta users express as ``UPDATE``: no source relation, no join — just
a predicate and column assignments. The rewrite, its row counters and the
commit are the row-level primitive shared with DELETE and MERGE
(operators/rewrite.py):

- **write-side pruning**: manifest min/max + partition values + derived xxh64
  bounds (plans/pruning.py) pick the candidate files; everything else is not
  read, not rewritten, not mentioned in the commit. An UPDATE touching one
  conversation rewrites that conversation's file neighborhood, not the table.
- **rewrite**: candidate files are scanned once; rows where the predicate is
  TRUE get the assignments applied (each assigned column becomes
  ``CASE WHEN pred THEN expr ELSE old END``), UNKNOWN/FALSE rows are copied
  byte-identical. Output is re-packed at target file size, sorted on the
  table's layout keys.
- **atomicity**: staged files + one copy-on-write snapshot; pinned readers
  keep the old snapshot; a pre-commit crash leaves only GC-able orphans.
- **counters**: ``rows_updated`` and ``rows_copied`` are observed in the
  write's own Spark job over the masked read, so rows hidden by earlier
  delete files count in neither.

Assignments are SQL expression strings evaluated against the pre-update row
(standard UPDATE semantics: all right-hand sides see the OLD values, so
``SET a = b, b = a`` swaps). Assigned expressions are cast to the column's
declared type — the table schema never drifts through an UPDATE.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Mapping, Sequence

from pyspark.sql import functions as F

from ..format.table import Table
from ..plans.pruning import Predicate, prune_files
from .rewrite import rewrite_rows, start_sequence

# tag column: the row matches the predicate (counted, not written)
_HIT = "_update_hit"


@dataclass
class UpdateResult:
    snapshot_id: int | None
    files_total: int
    files_untouched: int
    files_rewritten: int
    files_written: int
    rows_updated: int
    rows_copied: int
    elapsed_sec: float = 0.0


class UpdateJob:
    """``UPDATE table SET col = expr[, ...] WHERE <conjunction>``."""

    def __init__(self, table: Table, predicates: Sequence[Predicate],
                 assignments: Mapping[str, str],
                 *, sort_keys: Sequence[str] | None = None):
        if not assignments:
            raise ValueError("UPDATE without SET assignments")
        cols = {f.name: f.dataType for f in table.schema.fields}
        missing = [c for c in assignments if c not in cols]
        if missing:
            raise ValueError(f"unknown column(s) in SET: {missing}")
        self.table = table
        self.predicates = list(predicates)
        self.assignments = dict(assignments)
        self._types = cols
        if sort_keys is None:
            sort_keys = [c for c in ("conv_id", "turn_idx") if c in cols]
        self.sort_keys = list(sort_keys)

    def _write_cdf(self, df, pred, schema) -> str | None:
        """Change-data-feed pre/post images for this UPDATE (when enabled):
        matched rows before and after assignments, over the affected files
        only. Both images come from one filtered scan shape — the write cost
        is proportional to the rows actually updated."""
        from .change_feed import CHANGE_TYPE_COL, cdf_enabled, write_change_data

        if not cdf_enabled(self.table):
            return None
        matched = df.filter(pred)
        pre = matched.select(*[F.col(c.name) for c in schema.fields]) \
                     .withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
        post = matched.select(*[
            F.expr(self.assignments[c.name]).cast(c.dataType).alias(c.name)
            if c.name in self.assignments else F.col(c.name)
            for c in schema.fields
        ]).withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
        return write_change_data(self.table, pre.unionByName(post))

    def run(self) -> UpdateResult:
        t0 = time.time()
        table = self.table
        start_seq = start_sequence(table)
        files = table.live_data_files()
        rewrite = prune_files(files, self.predicates, table.schema,
                              table.spec, aliases=table.rename_map())
        n_untouched = len(files) - len(rewrite)
        if not rewrite:
            return UpdateResult(None, len(files), n_untouched, 0, 0, 0, 0,
                                time.time() - t0)
        schema = table.schema
        pred = (F.coalesce(table._residual(self.predicates), F.lit(False))
                if self.predicates else F.lit(True))
        cdir = None

        def transform(df):
            nonlocal cdir
            # all right-hand sides evaluate against the OLD row (standard
            # UPDATE): build every new column from the input df before any
            # replacement; the match tag feeds the in-write counters
            updated = df.select(*[
                F.when(pred, F.expr(self.assignments[c.name]).cast(c.dataType))
                 .otherwise(F.col(c.name)).alias(c.name)
                if c.name in self.assignments else F.col(c.name)
                for c in schema.fields
            ], pred.alias(_HIT))
            # Delta CHECK semantics: rewritten output must satisfy declared
            # constraints (free when none are declared — the probe
            # early-returns)
            table.check_constraints(updated.drop(_HIT))
            cdir = self._write_cdf(df, pred, schema)
            return updated

        # map-only rewrite: each scan task applies the assignments to its
        # own files, locally sorts on the layout keys, and writes its own
        # outputs
        snap, outs, counts = rewrite_rows(
            table, rewrite, transform,
            counters={"updated": F.count_if(F.col(_HIT)),
                      "rows": F.count(F.lit(1))},
            job="update", operation="overwrite",
            summary=lambda n: {
                "job": "update",
                "predicates": " AND ".join(
                    f"{c} {op} {v!r}" for c, op, v in self.predicates) or "TRUE",
                "updated-records": n["updated"],
                "change-data-dir": cdir,
            },
            sort_keys=self.sort_keys, start_seq=start_seq,
        )
        n_updated = counts["updated"]
        return UpdateResult(
            snapshot_id=snap.snapshot_id,
            files_total=len(files),
            files_untouched=n_untouched,
            files_rewritten=len(rewrite),
            files_written=len(outs),
            rows_updated=n_updated,
            rows_copied=counts["rows"] - n_updated,
            elapsed_sec=time.time() - t0,
        )
