"""DELETE FROM ... WHERE — predicate-scoped copy-on-write row deletion.

The reference's retention story is Delta's ``DELETE`` + VACUUM (its tables are
append-only DLT sinks, so row deletion arrives via the platform, not the
pipelines); this is that statement as an explicit engine job, with the
classic three-way file classification that makes predicate deletes cheap at
10^12-turn scale:

  1. **untouched** — manifest min/max (+ partition values, + derived xxh64
     bounds) prove the predicate can match no row: the file is not read, not
     rewritten, not even mentioned in the commit. This is `plans/pruning.py`
     reused as a *write*-side planner.
  2. **dropped whole** — the stats prove EVERY row matches (the dual bound
     check, conservative under truncated string bounds): the file is removed
     by a metadata-only manifest rewrite. Deleting an old day partition of a
     100 TB table moves zero bytes of data.
  3. **rewritten** — the predicate straddles the file's bounds: only these
     files are scanned, filtered with SQL NULL semantics (a row is deleted iff
     the predicate is TRUE — UNKNOWN/NULL rows survive, matching Spark/Delta
     ``DELETE``), and written back at target file size.

The rewrite, its row count and the commit are the shared row-level
primitive (``operators/rewrite.py``, also behind UPDATE and MERGE): new files
staged first, one copy-on-write snapshot (operation="delete") swaps the
affected set, pinned readers keep the old snapshot, a pre-commit crash leaves
only GC-able orphans. ``rows_deleted`` counts rows that actually leave the
scan: rows already masked by earlier delete files are not counted again.

Predicates are the engine's conjunctive triples (``plans/pruning.py``):
``(column, op, value)`` with op in ``= < <= > >= in notnull isnull``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import functions as F

from ..format.manifest import DataFile
from ..format.table import Table
from ..plans.pruning import Predicate, covers_bounds, prune_files
from .rewrite import (
    commit_with_lineage, live_row_count, rewrite_rows, start_sequence,
)

# tag column: the row matches the predicate (counted, then not written)
_HIT = "_delete_hit"


@dataclass
class DeleteResult:
    snapshot_id: int | None
    files_total: int
    files_untouched: int
    files_dropped: int      # metadata-only removals (every row matched)
    files_rewritten: int
    files_written: int
    rows_deleted: int
    elapsed_sec: float = 0.0
    mode: str = "copy-on-write"
    files_marked: int = 0       # merge-on-read: data files covered by new DVs
    delete_files_written: int = 0


def write_posdel_files(table: Table, marks: DataFrame,
                       n_dv_files: int) -> list[DataFile]:
    """Write (file_path, pos) delete rows as positional-delete parquet and
    return their manifest entries. Range-partitioned by (file_path, pos) so
    each DV file covers a contiguous slice of data files (localized
    covered_paths, prunable scans); one batched harvest builds the per-file
    bounds/coverage — never a per-file job."""
    import os
    import uuid

    from ..format.manifest import encode_bound

    spark = table.spark
    staging = os.path.join(table.location, "data",
                           f"posdel-{uuid.uuid4().hex[:12]}")
    marks.select("file_path", "pos") \
         .repartitionByRange(max(1, n_dv_files), "file_path", "pos") \
         .write.mode("error").parquet(staging)
    info = (
        spark.read.parquet(staging)
        .groupBy(F.regexp_replace(F.col("_metadata.file_path"),
                                  "^file:(//)?", "").alias("_dv"))
        .agg(F.count("*").alias("n"),
             F.collect_set("file_path").alias("covered"),
             F.min("file_path").alias("lo"),
             F.max("file_path").alias("hi"))
    ).collect()
    return [
        DataFile(
            path=r["_dv"], partition={}, record_count=r["n"],
            file_size_bytes=os.path.getsize(r["_dv"]),
            lower_bounds={"file_path": encode_bound(r["lo"])},
            upper_bounds={"file_path": encode_bound(r["hi"])},
            content="posdel", covered_paths=sorted(r["covered"]),
        )
        for r in info
    ]


def write_eqdel_file(table: Table, keys: "DataFrame") -> list[DataFile]:
    """Write distinct key tuples as one small parquet and return the
    ``eqdel`` manifest entries (``data_sequence`` stamped at commit).

    Per-key-column min/max bounds ride in the entry: the scan side compares
    them against each data file's stats and skips the anti-join for files
    provably outside the deleted key range — a 3-conversation delete on a
    100 TB table marks a handful of files dirty, not all of them.

    For key columns the table blooms ('stats.bloom-columns'), a bloom bitset
    of the DELETED key values also rides in the entry (same m/k as the data
    files): curve-layout files have inherently wide lexical bounds, so the
    bounds test alone marks nearly every file of the touched partitions
    dirty — the scan side intersects the two bitsets instead (empty
    intersection PROVES no deleted key can be in the file, see
    ``format.table._eq_bounds_may_match``)."""
    import os
    import uuid

    from ..format.bloom import harvest_blooms
    from ..format.manifest import encode_bound

    cols = list(keys.columns)
    if not cols:
        raise ValueError("equality delete needs at least one key column")
    staging = os.path.join(table.location, "data",
                           f"eqdel-{uuid.uuid4().hex[:12]}")
    keys.distinct().coalesce(1).write.mode("error").parquet(staging)
    paths = sorted(
        os.path.join(staging, n) for n in os.listdir(staging)
        if n.endswith(".parquet")
    )
    kdf = table.spark.read.parquet(*paths)
    agg = kdf.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.min(c).alias(f"_lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    n = agg["_n"]
    lower, upper = {}, {}
    for i, c in enumerate(cols):
        lo, hi = agg[f"_lo_{i}"], agg[f"_hi_{i}"]
        if lo is not None and hi is not None:
            lower[c] = encode_bound(lo)
            upper[c] = encode_bound(hi)
    bloom_cols = [c for c in cols if c in table.bloom_stat_columns()]
    blooms_by_path: dict[str, dict[str, str]] = {}
    if bloom_cols:
        from ..format.stats import normalize_path
        blooms_by_path = {
            normalize_path(p): b
            for p, b in harvest_blooms(
                kdf.withColumn("_p", F.col("_metadata.file_path")),
                "_p", bloom_cols, m=table.bloom_bits(),
            ).items()
        }
    return [
        DataFile(
            path=p, partition={}, record_count=n,
            file_size_bytes=os.path.getsize(p),
            lower_bounds=lower, upper_bounds=upper,
            content="eqdel", eq_columns=cols,
            blooms=blooms_by_path.get(p, {}),
        )
        for p in paths
    ]


def equality_delete(table: Table, keys: "DataFrame") -> DeleteResult:
    """DELETE BY KEY without reading or writing any data file (Iceberg v2
    equality deletes): the distinct key tuples are written as one small
    parquet and committed as an ``eqdel`` manifest entry stamped with the
    commit's sequence number. Scans drop matching rows from data files whose
    ``data_sequence`` strictly predates the delete; rows appended later with
    the same key are untouched.

    This is the O(keys) write path a streaming upsert needs at 10^12 rows —
    the deferred read cost is paid down by ``RewriteDeletesJob`` (eqdel ->
    posdel conversion) and folded away entirely by any rewrite (compaction /
    clustering / MERGE), after which ``commit_rewrite`` retires dead eqdels.

    Caveats (documented, matching Iceberg): the change feed reconstructs
    this commit from the key parquet as NULL-padded ``delete`` rows (keys
    only — no preimage exists because no data scan happened), and
    eqdel-masked rows are not reflected in manifest ``record_count`` sums
    until converted or folded.
    """
    t0 = time.time()
    outs = write_eqdel_file(table, keys)
    snap = table._commit_append(
        outs,
        summary_extra={
            "job": "delete",
            "mode": "equality",
            "eq-columns": ",".join(outs[0].eq_columns),
            "eq-deleted-keys": sum(f.record_count for f in outs),
        },
        operation="delete",
    )
    return DeleteResult(
        snapshot_id=snap.snapshot_id,
        files_total=0, files_untouched=0, files_dropped=0,
        files_rewritten=0, files_written=0,
        rows_deleted=0,  # unknown by design: no data scan happened
        elapsed_sec=time.time() - t0,
        mode="equality",
        delete_files_written=len(outs),
    )


class DeleteJob:
    """``DELETE FROM table WHERE <conjunction>`` as a resumable-commit job."""

    def __init__(self, table: Table, predicates: Sequence[Predicate],
                 *, sort_keys: Sequence[str] | None = None,
                 mode: str | None = None):
        if not predicates:
            raise ValueError("DELETE without predicates: use drop/expire paths")
        if mode is None:
            mode = table.meta.properties.get("write.delete.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown delete mode {mode!r}")
        self.table = table
        self.predicates = list(predicates)
        self.mode = mode
        if sort_keys is None:
            cols = {f.name for f in table.schema.fields}
            sort_keys = [c for c in ("conv_id", "turn_idx") if c in cols]
        self.sort_keys = list(sort_keys)

    def classify(self) -> tuple[list[DataFile], list[DataFile], list[DataFile]]:
        """(untouched, dropped_whole, rewritten) live-file classification —
        pure metadata, no data scan."""
        table = self.table
        files = table.live_data_files()
        dtypes = {f.name: f.dataType for f in table.schema.fields}
        aliases = table.rename_map()
        names = {c: [c] + list(reversed(olds)) for c, olds in aliases.items()}
        candidates = prune_files(files, self.predicates, table.schema,
                                 table.spec, aliases=aliases)
        cand_paths = {f.path for f in candidates}
        untouched = [f for f in files if f.path not in cand_paths]
        dropped, rewrite = [], []
        for f in candidates:
            if f.record_count and all(
                covers_bounds(f, col, op, v, dtypes.get(col), names.get(col))
                for col, op, v in self.predicates
            ):
                dropped.append(f)
            else:
                rewrite.append(f)
        return untouched, dropped, rewrite

    def run(self) -> DeleteResult:
        t0 = time.time()
        table = self.table
        start_seq = start_sequence(table)
        untouched, dropped, rewrite = self.classify()
        n_total = len(untouched) + len(dropped) + len(rewrite)
        if not dropped and not rewrite:
            return DeleteResult(None, n_total, n_total, 0, 0, 0, 0,
                                time.time() - t0)
        if self.mode == "merge-on-read":
            return self._run_mor(untouched, dropped, rewrite, t0, start_seq)
        # delete iff predicate is TRUE; UNKNOWN (NULL) rows are kept
        pred = F.coalesce(table._residual(self.predicates), F.lit(False))
        # capture BEFORE the commit: the rewrite may retire the delete files
        n_dropped_live = live_row_count(table, dropped)
        cdir = self._write_cdf(dropped, rewrite, pred)
        # MAP-ONLY rewrite (Iceberg's copy-on-write shape): each scan task
        # counts and drops its own matching rows and writes its outputs ~1:1
        # with its inputs; a later compaction re-packs stragglers
        snap, outs, counts = rewrite_rows(
            table, rewrite, lambda df: df.withColumn(_HIT, pred),
            counters={"deleted": F.count_if(F.col(_HIT))},
            keep=~F.col(_HIT), dropped=dropped,
            job="delete", operation="delete", sort_keys=self.sort_keys,
            start_seq=start_seq,
            summary=lambda n: self._summary(
                cdir, deleted=n_dropped_live + n["deleted"],
                dropped=len(dropped)),
        )
        return DeleteResult(
            snapshot_id=snap.snapshot_id,
            files_total=n_total,
            files_untouched=len(untouched),
            files_dropped=len(dropped),
            files_rewritten=len(rewrite),
            files_written=len(outs),
            rows_deleted=n_dropped_live + counts["deleted"],
            elapsed_sec=time.time() - t0,
        )

    def _summary(self, cdir: str | None, *, deleted: int,
                 dropped: int) -> dict:
        return {
            "job": "delete",
            "predicates": " AND ".join(
                f"{c} {op} {v!r}" for c, op, v in self.predicates),
            "deleted-records": deleted,
            "dropped-whole-files": dropped,
            "change-data-dir": cdir,
        }

    def _write_cdf(self, dropped: list[DataFile], rewrite: list[DataFile],
                   pred) -> str | None:
        """Change-data-feed rows for this DELETE (when enabled): the matched
        rows of straddling files plus every live row of whole-dropped files,
        typed ``delete``. Costs one extra filtered scan of ONLY the affected
        files — reconstructing victims read-side would be a full-table diff.
        ``read_data_files`` applies the PRIOR delete files, so the scan yields
        exactly the rows this commit newly deletes."""
        from .change_feed import CHANGE_TYPE_COL, cdf_enabled, write_change_data

        table = self.table
        if not cdf_enabled(table):
            return None
        parts = []
        if rewrite:
            parts.append(table.read_data_files(rewrite).filter(pred))
        if dropped:
            parts.append(table.read_data_files(dropped))
        ch = parts[0]
        for p in parts[1:]:
            ch = ch.unionByName(p)
        return write_change_data(
            table, ch.withColumn(CHANGE_TYPE_COL, F.lit("delete")))

    def _run_mor(self, untouched: list[DataFile], dropped: list[DataFile],
                 straddling: list[DataFile], t0: float,
                 start_seq: int | None) -> DeleteResult:
        """Merge-on-read: matching rows in straddling files are MARKED in a
        positional-delete (deletion-vector) file — (file_path, pos) rows
        keyed by ``_metadata`` — instead of rewriting data. Provably
        all-matching files are still dropped metadata-only (strictly cheaper
        than marking every row). A 100 TB predicate delete therefore moves
        only the DV bytes; compaction later folds DVs into rewritten files
        and the commit path retires DVs whose covered files are all gone."""
        table = self.table
        spark = table.spark
        n_total = len(untouched) + len(dropped) + len(straddling)
        pred = F.coalesce(table._residual(self.predicates), F.lit(False))
        outs: list[DataFile] = []
        n_marked = 0
        if straddling:
            raw = table.read_parquet([f.path for f in straddling],
                                     filepos=("file_path", "pos"))
            marks = raw.filter(pred).select("file_path", "pos")
            # never re-mark rows an existing DV already deletes (keeps DV row
            # sets disjoint, so counts add and scans can union DVs blindly)
            paths = {f.path for f in straddling}
            prior = [d for d in table.live_delete_files()
                     if paths.intersection(d.covered_paths)]
            if prior:
                existing = (spark.read.parquet(*[d.path for d in prior])
                            .select("file_path", "pos"))
                marks = marks.join(F.broadcast(existing),
                                   ["file_path", "pos"], "left_anti")
            outs = write_posdel_files(
                self.table, marks, max(1, len(straddling) // 64))
            n_marked = sum(f.record_count for f in outs)

        if not dropped and not outs:
            return DeleteResult(None, n_total, n_total, 0, 0, 0, 0,
                                time.time() - t0, mode=self.mode)
        n_deleted = live_row_count(table, dropped) + n_marked
        cdir = self._write_cdf(dropped, straddling, pred)
        snap = commit_with_lineage(
            table, dropped, outs, job="delete", operation="delete",
            summary={**self._summary(cdir, deleted=n_deleted,
                                     dropped=len(dropped)),
                     "mode": "merge-on-read",
                     "delete-files-written": len(outs)},
            start_seq=start_seq,
        )
        covered = set()
        for d in outs:
            covered.update(d.covered_paths)
        return DeleteResult(
            snapshot_id=snap.snapshot_id,
            files_total=n_total,
            files_untouched=len(untouched),
            files_dropped=len(dropped),
            files_rewritten=0,
            files_written=0,
            rows_deleted=n_deleted,
            elapsed_sec=time.time() - t0,
            mode=self.mode,
            files_marked=len(covered),
            delete_files_written=len(outs),
        )
