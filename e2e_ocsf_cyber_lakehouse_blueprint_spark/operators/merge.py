"""MERGE INTO — copy-on-write upsert of late / corrected transcript turns.

The reference is append-only (15 `@sdp.append_flow`s, zero updates,
`gold_ocsf_iam_event_classes_delta_sinks.py:184-305`); updates enter through
the north_rule's MERGE requirement. Semantics: ``MERGE INTO target ON
(conv_id, turn_idx)`` — matched rows take source values (or are deleted),
unmatched source rows insert, everything else is untouched.

Scale design (SURVEY.md §2.3):
- **File scoping first**: source key bounds are joined against manifest min/max
  entries (a broadcast join over metadata-sized bounds, plus derived xxh64
  bounds) so only files that can possibly contain matched keys are rewritten.
  An upsert touching one conversation rewrites one file neighborhood, not the
  table.
- **Skew**: the update join runs salted (operators/skew.py) when
  ``salt_buckets`` is set, on top of session-wide AQE skew-join splitting —
  hot conversations (Zipf head, FIXTURES.md) cannot pin a single reducer.
- **Join formulation**: 3-way (inner update ∪ left-anti insert ∪ left-anti
  keep) rather than one full-outer — each leg shuffles on the same keys (AQE
  reuses the exchange) and each leg tolerates salting, which full-outer does
  not.
- **Write, counters, commit**: the row-level primitive shared with DELETE
  and UPDATE (operators/rewrite.py) — the legs are tagged, range-partitioned
  into target-size files, and counted (kept / updated / inserted) by one
  Observation in the write's own Spark job; one copy-on-write snapshot swaps
  affected files. A crash before commit leaves the table untouched (staged
  files become orphans for GC); rerunning from the same source is idempotent.
- **Dedup**: duplicate source keys resolve last-writer-wins by ``ts`` before
  the merge (SURVEY.md §2.5 window).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..format.manifest import DataFile, decode_bound
from ..format.table import Table
from .rewrite import live_row_count, rewrite_rows, start_sequence
from .skew import salted_join

# tag column: the leg of a written row (0 kept, 1 updated, 2 inserted)
_LEG = "_merge_leg"


@dataclass
class MergeResult:
    snapshot_id: int | None
    files_scoped: int
    files_total: int
    files_written: int
    rows_updated: int
    rows_deleted: int
    rows_inserted: int
    rows_copied: int
    elapsed_sec: float = 0.0


_SCOPABLE_EXTRA_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _scope_dims(table: Table, key_cols) -> list[tuple[str, str]]:
    """(column, ddl-type) scoping dimensions: the primary key column always;
    further key columns when their type compares faithfully through the
    JSON-encoded bounds (integrals and strings). Timestamps/doubles are
    skipped — dim 0 alone remains correct, extra dims only tighten."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    types = {f.name: f.dataType.simpleString() for f in table.schema.fields}
    dims = [(key_cols[0], types.get(key_cols[0], "string"))]
    for c in key_cols[1:]:
        if types.get(c) in _SCOPABLE_EXTRA_TYPES:
            dims.append((c, types[c]))
    return dims


def scope_paths_distributed(table: Table, source: DataFrame, key_cols) -> set[str]:
    """Scale-path file scoping: manifest entries decoded EXECUTOR-side
    (``manifest_entries_df``), bounds-joined against the distinct source key
    TUPLES, and only the HIT paths — bounded by the merge's blast radius,
    never by table size — come back to the driver. At 10^9 files the driver
    holds manifest paths + the scoped hit set only.

    Scoping is multi-dimensional: a file survives only if some source key
    tuple lands inside its bounds on EVERY dimension (conv_id min/max +
    derived xxh64 bounds, and e.g. turn_idx min/max). After Z-order/Hilbert
    clustering each file covers a narrow (conv_id, turn_idx) rectangle, so
    the second dimension cuts the scoped fraction well below what conv_id
    alone can."""
    from ..format.manifest import manifest_entries_df
    import e2e_ocsf_cyber_lakehouse_blueprint_spark.format.manifest as mf

    dims = _scope_dims(table, key_cols)
    key0 = dims[0][0]
    s = table.current_snapshot()
    mpaths = [m["path"] for m in mf.read_manifest_list(s.manifest_list)]
    bound_cols = [key0, f"xxh64({key0})"] + [c for c, _ in dims[1:]]
    entries = manifest_entries_df(table.spark, mpaths,
                                  bound_cols=tuple(bound_cols))
    keys = source.select(
        *[F.col(c).alias(f"_k{i}") for i, (c, _) in enumerate(dims)]
    ).distinct()
    # missing bounds (no stats, or upper truncated away) => conservatively hit
    unbounded = F.col("lo_0").isNull() | F.col("hi_0").isNull()
    hash_ok = (
        F.col("lo_1").isNull() | F.col("hi_1").isNull()
        | ((F.xxhash64("_k0") >= F.expr("CAST(lo_1 AS LONG)"))
           & (F.xxhash64("_k0") <= F.expr("CAST(hi_1 AS LONG)")))
    )
    in_range = (F.col("_k0") >= F.col("lo_0")) & (F.col("_k0") <= F.col("hi_0"))
    for i, (c, t) in enumerate(dims[1:], start=1):
        j = i + 1  # bound_cols index (0=key, 1=xxh64, 2+=extras)
        lo = F.col(f"lo_{j}") if t == "string" else F.expr(
            f"CAST(lo_{j} AS LONG)")
        hi = F.col(f"hi_{j}") if t == "string" else F.expr(
            f"CAST(hi_{j} AS LONG)")
        in_range = in_range & (
            F.col(f"lo_{j}").isNull() | F.col(f"hi_{j}").isNull()
            | ((F.col(f"_k{i}") >= lo) & (F.col(f"_k{i}") <= hi))
        )
    cond = unbounded | (in_range & hash_ok)
    hits = entries.join(F.broadcast(keys), cond, "left_semi").select("path")
    return {r["path"] for r in hits.collect()}


def _scope_files(
    table: Table, source: DataFrame, key_cols
) -> tuple[list[DataFile], list[DataFile]]:
    """Split live files into (possibly-affected, untouched) using manifest
    bounds vs source key tuples — a broadcast join over metadata, never a
    data scan, multi-dimensional like :func:`scope_paths_distributed`.
    Driver-side variant (fine to ~10^5 files); the distributed one is the
    10^9-file path with identical semantics (tested equal).
    """
    dims = _scope_dims(table, key_cols)
    key0 = dims[0][0]
    files = table.live_data_files()
    bounded, unbounded = [], []
    rows = []
    for f in files:
        lo_s = f.lower_bounds.get(key0)
        hi_s = f.upper_bounds.get(key0)
        if lo_s is None or hi_s is None:
            unbounded.append(f)  # no stats -> conservatively affected
            continue
        bounded.append(f)
        hlo = f.lower_bounds.get(f"xxh64({key0})")
        hhi = f.upper_bounds.get(f"xxh64({key0})")
        row = [
            len(bounded) - 1,
            decode_bound(lo_s), decode_bound(hi_s),
            decode_bound(hlo) if hlo else None,
            decode_bound(hhi) if hhi else None,
        ]
        for c, _t in dims[1:]:
            clo = f.lower_bounds.get(c)
            chi = f.upper_bounds.get(c)
            row.append(decode_bound(clo) if clo else None)
            row.append(decode_bound(chi) if chi else None)
        rows.append(tuple(row))
    if not bounded:
        return unbounded, []
    spark = table.spark
    ddl = "fid int, lo string, hi string, hlo long, hhi long" + "".join(
        f", lo{i} {t}, hi{i} {t}" for i, (_c, t) in enumerate(dims[1:], 1))
    bounds_df = spark.createDataFrame(rows, ddl)
    keys = source.select(
        *[F.col(c).alias(f"_k{i}") for i, (c, _) in enumerate(dims)]
    ).distinct()
    cond = (F.col("_k0") >= F.col("lo")) & (F.col("_k0") <= F.col("hi")) & (
        F.col("hlo").isNull()
        | ((F.xxhash64("_k0") >= F.col("hlo"))
           & (F.xxhash64("_k0") <= F.col("hhi")))
    )
    for i in range(1, len(dims)):
        cond = cond & (
            F.col(f"lo{i}").isNull() | F.col(f"hi{i}").isNull()
            | ((F.col(f"_k{i}") >= F.col(f"lo{i}"))
               & (F.col(f"_k{i}") <= F.col(f"hi{i}")))
        )
    hit_ids = {
        r["fid"]
        for r in keys.join(F.broadcast(bounds_df), cond, "inner")
        .select("fid").distinct().collect()
    }
    affected = unbounded + [f for i, f in enumerate(bounded) if i in hit_ids]
    untouched = [f for i, f in enumerate(bounded) if i not in hit_ids]
    return affected, untouched


def _bloom_filter_affected(
    affected: list[DataFile], source: DataFrame, key_col: str,
    *, max_keys: int = 100_000,
) -> list[DataFile]:
    """Third scoping layer: drop candidate files whose per-file bloom PROVES
    no source key is present (bounds said "maybe"; the bloom knows the file's
    actual key set). Pure driver-side Python over the already-collected
    DataFile entries, so it applies identically after either scoping variant.
    Skipped when no file carries a bloom or the source key set is too large
    to collect (> ``max_keys`` distinct — then bounds scoping stands alone)."""
    from ..format.bloom import bloom_key, bloom_might_contain

    bkey = bloom_key(key_col)
    if not any(bkey in f.blooms for f in affected):
        return affected
    rows = (source.select(F.col(key_col).alias("_k")).distinct()
            .limit(max_keys + 1).collect())
    if len(rows) > max_keys:
        return affected
    keys = [r["_k"] for r in rows if r["_k"] is not None]
    out = []
    for f in affected:
        enc = f.blooms.get(bkey)
        if enc is None or any(bloom_might_contain(enc, k) for k in keys):
            out.append(f)
    return out


class MergeIntoJob:
    def __init__(
        self,
        table: Table,
        *,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        dedup_order_col: str = "ts",
        when_matched: str = "update",      # update | delete
        when_not_matched: str = "insert",  # insert | ignore
        salt_buckets: int | None = None,
        sort_keys: Sequence[str] | None = None,
        update_set: dict[str, str] | None = None,
        matched_condition: str | None = None,
        not_matched_condition: str | None = None,
    ):
        """``update_set`` maps target columns to Spark SQL expressions over
        the matched pair (qualify ambiguous refs with ``t.``/``s.``); None
        means ``UPDATE SET *`` (source row replaces). ``matched_condition``/
        ``not_matched_condition`` are the Delta ``WHEN [NOT] MATCHED AND``
        predicates (NULL = false, per SQL); unmet matched rows are kept
        verbatim, unmet source rows are not inserted.

        ``salt_buckets``: None (default) auto-derives from the persisted
        ANALYZE frequency stats (``plans.costs.suggest_salt_buckets`` —
        no stats or no skew means no salting); 0 disables salting
        unconditionally; an explicit N pins the hand-tuned plan."""
        if when_matched not in ("update", "delete"):
            raise ValueError(when_matched)
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(when_not_matched)
        if update_set is not None and when_matched != "update":
            raise ValueError("update_set requires when_matched='update'")
        self.table = table
        self.key_cols = list(key_cols)
        self.dedup_order_col = dedup_order_col
        self.when_matched = when_matched
        self.when_not_matched = when_not_matched
        self.salt_buckets = salt_buckets
        self.sort_keys = list(sort_keys or key_cols)
        self.update_set = update_set
        self.matched_condition = matched_condition
        self.not_matched_condition = not_matched_condition

    @property
    def _extended(self) -> bool:
        return (self.update_set is not None
                or self.matched_condition is not None
                or self.not_matched_condition is not None)

    def _dedup_source(self, source: DataFrame) -> DataFrame:
        """Last-writer-wins among duplicate source keys (deterministic)."""
        order = ([F.col(self.dedup_order_col).desc_nulls_last()]
                 if self.dedup_order_col in source.columns else [])
        order += [F.col(c) for c in source.columns
                  if c not in self.key_cols and c != self.dedup_order_col]
        w = Window.partitionBy(*self.key_cols).orderBy(
            *(order or [F.col(self.key_cols[0])]))
        return (
            source.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _write_cdf(self, tgt, source, upd, ins, cols, pre=None) -> str | None:
        """Change-data-feed rows for this MERGE (when enabled): matched
        target rows as preimages (or ``delete`` when matched rows are
        deleted), the update leg as postimages, the insert leg as inserts.
        Reuses the already-built legs — the only extra plan is the preimage
        semi-join, scoped to the affected files. The extended path passes
        its condition-filtered preimage leg explicitly."""
        from .change_feed import CHANGE_TYPE_COL, cdf_enabled, write_change_data

        if not cdf_enabled(self.table):
            return None
        pre_type = ("delete" if self.when_matched == "delete"
                    else "update_preimage")
        if pre is None:
            pre = (tgt.join(source.select(*self.key_cols), self.key_cols,
                            "semi").select(*cols))
        pre = pre.withColumn(CHANGE_TYPE_COL, F.lit(pre_type))
        ch = pre
        if self.when_matched == "update":
            ch = ch.unionByName(
                upd.withColumn(CHANGE_TYPE_COL, F.lit("update_postimage")))
        if self.when_not_matched == "insert":
            ch = ch.unionByName(ins.withColumn(CHANGE_TYPE_COL, F.lit("insert")))
        return write_change_data(self.table, ch)

    def _legs(self, tgt: DataFrame, source: DataFrame, cols: list[str],
              salt: int | None, bcast_keys: bool):
        """(keep, upd, ins, pre) legs of the 3-way merge over the masked
        target read ``tgt`` — exchange-reused shuffles on the same keys.
        ``pre`` is the extended path's condition-filtered preimage leg (None
        on the replace-row paths); ``ins`` is None when nothing inserts."""
        pre = None
        if self._extended:
            # per-column SET / conditional clauses need BOTH sides of each
            # matched pair in scope (t./s. qualified); same single equi-join
            # shape, AQE skew-split covers hot keys (explicit salting stays
            # on the replace-row fast path only)
            dtypes = {f.name: f.dataType for f in self.table.schema.fields}

            def tcol(c):
                return F.col(c) if c in self.key_cols else F.expr(f"t.`{c}`")

            def scol(c):
                return F.col(c) if c in self.key_cols else F.expr(f"s.`{c}`")

            j = tgt.alias("t").join(source.alias("s"), self.key_cols, "inner")
            mcond = (F.coalesce(F.expr(self.matched_condition), F.lit(False))
                     if self.matched_condition else F.lit(True))
            if self.when_matched == "update" and self.update_set is not None:
                sel = [(F.expr(self.update_set[c]).cast(dtypes[c])
                        if c in self.update_set else tcol(c)).alias(c)
                       for c in cols]
            elif self.when_matched == "update":        # UPDATE SET *
                sel = [scol(c).alias(c) for c in cols]
            else:                                      # DELETE: rows removed
                sel = [tcol(c).alias(c) for c in cols]
            upd = j.filter(mcond).select(*sel)
            pre = j.filter(mcond).select(*[tcol(c).alias(c) for c in cols])
            keep = tgt.join(source.select(*self.key_cols),
                            self.key_cols, "left_anti")
            if self.matched_condition:
                # matched pairs failing the condition keep the TARGET row
                keep = keep.unionByName(
                    j.filter(~mcond).select(*[tcol(c).alias(c) for c in cols]))
            ins = None
            if self.when_not_matched == "insert":
                ins = source.alias("s").join(tgt.select(*self.key_cols),
                                             self.key_cols, "left_anti")
                if self.not_matched_condition:
                    ins = ins.filter(F.coalesce(
                        F.expr(self.not_matched_condition), F.lit(False)))
                ins = ins.select(*cols)
        elif salt and self.when_matched == "update":
            upd = salted_join(
                tgt.select(*self.key_cols),
                source, self.key_cols,
                how="inner", salt_buckets=salt,
            ).select(*cols)
            keep = tgt.join(source.select(*self.key_cols), self.key_cols, "left_anti")
            ins = source.join(tgt.select(*self.key_cols), self.key_cols, "left_anti")
        else:
            tkeys = tgt.select(*self.key_cols)
            if bcast_keys:
                tkeys = F.broadcast(tkeys)
            upd = tkeys.join(source, self.key_cols, "inner").select(*cols)
            keep = tgt.join(source.select(*self.key_cols), self.key_cols, "left_anti")
            ins = source.join(tgt.select(*self.key_cols), self.key_cols, "left_anti")

        return keep, upd, ins, pre

    def run(self, source: DataFrame) -> MergeResult:
        t0 = time.time()
        table = self.table
        start_seq = start_sequence(table)
        schema = table.schema
        cols = [f.name for f in schema.fields]
        # a per-column-SET / DELETE merge may take a NARROW source (keys +
        # referenced columns); legs that materialize full rows from the
        # source still demand the whole schema
        avail = [c for c in cols if c in source.columns]
        missing = [c for c in cols if c not in source.columns]
        if missing:
            needs_full = (self.when_not_matched == "insert"
                          or (self.when_matched == "update"
                              and self.update_set is None))
            if needs_full:
                raise ValueError(
                    f"MERGE source is missing table columns {missing} — "
                    "INSERT * and UPDATE SET * need the full row; use "
                    "per-column SET (and drop the INSERT clause) for a "
                    "narrow source")
            missing_keys = [k for k in self.key_cols if k not in avail]
            if missing_keys:
                raise ValueError(f"MERGE source lacks key columns {missing_keys}")
        source = self._dedup_source(source.select(*avail))

        files_all = table.live_data_files()
        # scoping strategy by table size: the driver-side bounds join is
        # cheapest to ~10^5 files; past the threshold the manifest decode and
        # bounds join run executor-side and only the HIT paths (bounded by
        # the merge's blast radius) return to the driver
        scope_threshold = table.property_int(
            "merge.scope.distributed-min-files", 100_000)
        if len(files_all) > scope_threshold:
            hit_paths = scope_paths_distributed(table, source, self.key_cols)
            affected = [f for f in files_all if f.path in hit_paths]
        else:
            affected, _untouched = _scope_files(table, source, self.key_cols)
        affected = _bloom_filter_affected(affected, source, self.key_cols[0])

        # salting auto-derives from persisted ANALYZE frequency stats when
        # not set explicitly (0 disables): the one tuning knob the round-3
        # plan left manual. suggest_salt_buckets returns None unless the
        # hottest key dwarfs an average shuffle partition, so unskewed
        # tables keep the plain exchange-reusing plan.
        salt = self.salt_buckets
        if salt is None:
            from ..plans.costs import suggest_salt_buckets
            salt = suggest_salt_buckets(table, self.key_cols[0])
        self._resolved_salt = salt

        # metadata-driven broadcast: the affected files' LIVE row count
        # (manifest arithmetic, less masked rows) sizes the key projection
        # the update join needs from the target — when those keys fit the
        # session broadcast threshold, hint it so the (possibly huge) source
        # never shuffles for the matched leg. Catalyst's own size estimate
        # can't see this: it prices the full-width file scan, not the
        # projection. The same count gives WHEN MATCHED THEN DELETE its
        # matched rows (live target rows - kept rows).
        from ..plans.costs import parse_size
        n_tgt = live_row_count(table, affected)
        key_width = 32 * len(self.key_cols)
        thr = parse_size(
            table.spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                                 "10MB"))
        bcast_keys = thr > 0 and n_tgt * key_width <= thr
        cdir = None

        def transform(tgt):
            nonlocal cdir
            keep, upd, ins, pre = self._legs(tgt, source, cols, salt,
                                             bcast_keys)
            # each leg carries its tag so one in-write Observation counts
            # kept / updated / inserted rows (the tag is not written)
            merged = keep.withColumn(_LEG, F.lit(0))
            if self.when_matched == "update":
                merged = merged.unionByName(upd.withColumn(_LEG, F.lit(1)))
            if self.when_not_matched == "insert":
                merged = merged.unionByName(ins.withColumn(_LEG, F.lit(2)))
            # Delta CHECK semantics: MERGE output is written data — enforce
            # declared constraints (no-op probe when none are declared)
            table.check_constraints(merged.drop(_LEG))
            cdir = self._write_cdf(tgt, source, upd, ins, cols, pre=pre)
            return merged

        def matched(counts):
            return (counts["updated"] if self.when_matched == "update"
                    else n_tgt - counts["kept"])

        target_size = table.property_int("write.target-file-size-bytes", 128 * 1024 * 1024)
        bytes_affected = sum(f.file_size_bytes for f in affected) or 1
        snap, outs, counts = rewrite_rows(
            table, affected, transform,
            counters={name: F.count_if(F.col(_LEG) == i) for i, name in
                      enumerate(("kept", "updated", "inserted"))},
            n_files=max(1, round(bytes_affected / target_size)),
            job="merge", operation="overwrite",
            summary=lambda n: {
                "job": "merge", "matched": matched(n),
                "inserted": n["inserted"],
                "salt-buckets": str(salt) if salt else None,
                "change-data-dir": cdir,
            },
            sort_keys=self.sort_keys, start_seq=start_seq,
        )
        n_matched = matched(counts)
        return MergeResult(
            snapshot_id=snap.snapshot_id,
            files_scoped=len(affected),
            files_total=len(files_all),
            files_written=len(outs),
            rows_updated=n_matched if self.when_matched == "update" else 0,
            rows_deleted=n_matched if self.when_matched == "delete" else 0,
            rows_inserted=counts["inserted"],
            rows_copied=counts["kept"],
            elapsed_sec=time.time() - t0,
        )

