"""Table: Iceberg-style table object — create / append / scan / rewrite / expire.

The engine-side replacement for the reference's Delta streaming tables
(`@sdp.table`, `bronze_github_audit_logs.py:30-36`) and sinks
(`sdp.create_sink(... mergeSchema ...)`,
`gold_ocsf_iam_event_classes_delta_sinks.py:117-124`):

- ``append`` = write Parquet data files + harvest stats + new Avro manifest +
  snapshot commit (the reference's append flows, `:184-305`, map to sequential
  append snapshots that never block each other).
- schema evolution on append = the ``mergeSchema:"true"`` analogue (`:122`):
  union-by-name, new columns appended, missing columns null-filled.
- ``scan`` = manifest-pruned `spark.read.parquet` over the pinned snapshot's
  file set (snapshot isolation: readers of snapshot S never see S+1's files).
- ``commit_rewrite`` = the commit primitive compaction / clustering / MERGE use
  (copy-on-write file replacement with conflict detection on rebase).
"""

from __future__ import annotations

import dataclasses
import re
import json
import os
import uuid
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import manifest as mf
from . import snapshot as snap
from .bloom import bloom_key, blooms_disjoint
from .manifest import DataFile
from .partition import PartitionSpec
from .stats import harvest_file_stats, layout_bloom_cols, layout_hash_cols
from ..plans.pruning import Predicate, prune_files, prune_manifest_records


def _eq_bounds_may_match(f: DataFile, d: DataFile) -> bool:
    """Conservative overlap test between a data file's column stats and an
    equality delete's key bounds: False only when the stats PROVE no deleted
    key tuple can exist in the file (disjoint range on ANY key column).
    Missing bounds or cross-type comparisons -> True (the anti-join decides).
    Safe under Iceberg-style truncated string bounds: a data file's stored
    lower bound is <= its true min and upper >= its true max, so a proven
    disjointness only gets HARDER, never wrong.

    When both sides carry a bloom bitset for a key column (the eqdel writer
    blooms its deleted keys for 'stats.bloom-columns'), an empty bitset
    intersection also proves disjointness — the test that actually fires on
    curve-layout files, whose lexical bounds are inherently wide.

    Name-identity note: both lookups use the eqdel's DELETE-TIME column
    name without rename-lineage mapping. This is sound because the catalog
    forbids any other column from ever reusing a renamed-away name
    (rename_column and add_columns both reject historical names, and
    renaming back a->b->a keeps a/b bound to the same logical column), so
    equal names always denote the same logical column; a data file from a
    different name era simply misses the lookup and stays conservative."""
    for c in d.eq_columns:
        bk = bloom_key(c)
        fb, db = f.blooms.get(bk), d.blooms.get(bk)
        if fb and db and blooms_disjoint(fb, db):
            return False
    for c in d.eq_columns:
        flo_s, fhi_s = f.lower_bounds.get(c), f.upper_bounds.get(c)
        dlo_s, dhi_s = d.lower_bounds.get(c), d.upper_bounds.get(c)
        if None in (flo_s, fhi_s, dlo_s, dhi_s):
            continue
        try:
            flo, fhi = mf.decode_bound(flo_s), mf.decode_bound(fhi_s)
            dlo, dhi = mf.decode_bound(dlo_s), mf.decode_bound(dhi_s)
            if flo > dhi or fhi < dlo:
                return False
        except TypeError:
            continue
    return True


class CommitConflict(Exception):
    """A concurrent commit invalidated this one (deleted files no longer live)."""


_WIDEN = {("integer", "long"), ("float", "double"), ("int", "bigint"), ("date", "timestamp")}

# (old table type, wider incoming type) promotions that evolve the TABLE
# schema on merge-schema appends (Delta/Iceberg type widening). Restricted to
# promotions Spark's parquet reader applies when reading OLD files with the
# widened schema (int32->int64, float->double — verified; date->timestamp is
# a write-side cast only, the parquet reader will not upcast it).
_WIDEN_TABLE = {
    ("integer", "long"), ("int", "bigint"), ("float", "double"),
    # int32 fits exactly in a double's 53-bit mantissa (lossless); int64
    # does NOT, so bigint->double is deliberately absent
    ("int", "double"), ("integer", "double"),
}


class Table:
    def __init__(self, spark: SparkSession, meta: snap.TableMetadata):
        self.spark = spark
        self.meta = meta

    # ------------------------------------------------------------- lifecycle

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        partition_spec: PartitionSpec = PartitionSpec.unpartitioned(),
        properties: dict[str, str] | None = None,
        cluster_keys: Sequence[str] = (),
    ) -> "Table":
        props = {"write.target-file-size-bytes": str(128 * 1024 * 1024)}
        if any(f.name == "conv_id" for f in schema.fields):
            # derived xxh64 bounds make conv_id point lookups prunable even
            # under hash-dimension Z-ordering (see functions/xxh64.py)
            props["stats.hash-columns"] = "conv_id"
        props.update(properties or {})
        meta = snap.TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=os.path.abspath(location),
            schema_json=schema.jsonValue(),
            partition_spec=partition_spec.to_list(),
            properties=props,
            snapshots=[],
            current_snapshot_id=None,
            version=1,
            cluster_keys=list(cluster_keys),
        )
        os.makedirs(os.path.join(meta.location, "data"), exist_ok=True)
        snap.commit_metadata(meta)
        return Table(spark, meta)

    @staticmethod
    def load(spark: SparkSession, location: str) -> "Table":
        return Table(spark, snap.load_metadata(os.path.abspath(location)))

    def refresh(self) -> "Table":
        self.meta = snap.load_metadata(self.meta.location)
        return self

    # ------------------------------------------------------------ properties

    @property
    def location(self) -> str:
        return self.meta.location

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta.schema_json)

    @property
    def spec(self) -> PartitionSpec:
        return PartitionSpec.from_list(self.meta.partition_spec)

    @property
    def snapshots(self) -> list[snap.Snapshot]:
        return self.meta.snapshots

    def current_snapshot(self) -> snap.Snapshot | None:
        return self.meta.current_snapshot()

    def snapshot_as_of(self, timestamp_ms: int) -> snap.Snapshot:
        """Time travel by timestamp (``FOR TIMESTAMP AS OF``): the latest
        MAIN-ancestry snapshot committed at or before ``timestamp_ms``. Pure
        metadata — resolution walks the parent chain from current (Iceberg's
        snapshot-log semantics), never data files.

        Resolving along ancestry (not the flat snapshot list) keeps staged
        (WAP) appends AND branch-only commits invisible: both live in the
        log without having been main's state, and an abandoned branch would
        otherwise leak into main's history forever."""
        eligible = [s for s in self.meta.ancestry()
                    if s.timestamp_ms <= timestamp_ms]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before {timestamp_ms} "
                f"(earliest is {min((s.timestamp_ms for s in self.snapshots), default=None)})"
            )
        # ancestry timestamps are monotone (commits bump past the parent
        # chain's max), so the newest eligible ancestor is the last one
        return eligible[-1]

    def property_int(self, key: str, default: int) -> int:
        try:
            return int(self.meta.properties.get(key, default))
        except ValueError:
            return default

    def hash_stat_columns(self) -> list[str]:
        raw = self.meta.properties.get("stats.hash-columns", "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def bloom_stat_columns(self) -> list[str]:
        """Columns that get per-file bloom bitsets ('stats.bloom-columns'
        property) — Delta's delta.bloomFilter column-option analogue. Size
        via 'stats.bloom-bits' (power of two, default 8192 = 1 KiB/file)."""
        raw = self.meta.properties.get("stats.bloom-columns", "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def bloom_bits(self) -> int:
        return self.property_int("stats.bloom-bits", 8192)

    def stat_columns(self) -> list[str] | None:
        """Columns to collect min/max bounds for; None = all boundable columns.
        Set 'stats.columns' to the prunable key columns on wide-payload tables
        so the harvest never decompresses the payload column."""
        raw = self.meta.properties.get("stats.columns", "").strip()
        if not raw:
            return None
        return [c.strip() for c in raw.split(",") if c.strip()]

    # --------------------------------------------------------- rename map

    def rename_map(self) -> dict[str, list[str]]:
        """{current column name: [historical names, oldest first]} from the
        ``schema.renames`` property (set by :meth:`rename_column`). Only
        entries for columns still in the schema are returned — a renamed
        column that was later dropped needs no read mapping."""
        raw = self.meta.properties.get("schema.renames", "")
        if not raw:
            return {}
        m = json.loads(raw)
        cur = {f.name for f in self.schema.fields}
        return {k: v for k, v in m.items() if k in cur and v}

    def read_parquet(self, paths: Sequence[str],
                     schema: T.StructType | None = None,
                     *, filepos: tuple[str, str] | None = None) -> DataFrame:
        """Schema-pinned parquet read with RENAME COLUMN mapping applied.

        Files written before a rename carry the old physical column name;
        the pinned read schema is extended with those historical names as
        nullable twins of the current field, and each renamed column is
        projected as ``coalesce(current, old_1, ..., old_n)`` — a file holds
        exactly one of the names, so the coalesce picks the populated era
        (metadata-only rename, zero data movement, same contract as the
        NULL-fill that makes ADD COLUMNS free).

        ``filepos=(path_alias, pos_alias)`` appends the normalized
        ``_metadata.file_path`` / ``row_index`` columns; they are extracted
        BEFORE the rename projection because metadata columns attach to the
        scan relation."""
        schema = schema if schema is not None else self.schema
        by_name = {f.name: f for f in schema.fields}
        ren = {k: v for k, v in self.rename_map().items() if k in by_name}
        reader_schema = schema
        if ren:
            reader_schema = T.StructType(
                list(schema.fields)
                + [T.StructField(o, by_name[cur].dataType, True)
                   for cur, olds in ren.items() for o in olds]
            )
        df = self.spark.read.schema(reader_schema).parquet(*paths)
        extra: list[str] = []
        if filepos is not None:
            pa, po = filepos
            df = (
                df.withColumn(pa, F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""))
                .withColumn(po, F.col("_metadata.row_index"))
            )
            extra = [pa, po]
        if not ren:
            return df
        cols = [
            F.coalesce(F.col(f.name), *[F.col(o) for o in ren[f.name]])
            .alias(f.name) if f.name in ren else F.col(f.name)
            for f in schema.fields
        ]
        return df.select(*cols, *[F.col(c) for c in extra])

    # ---------------------------------------------------------------- files

    def live_data_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        return self._live_files(snapshot_id, "data")

    def live_delete_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        """Positional-delete (deletion-vector) files live in the snapshot."""
        return self._live_files(snapshot_id, "posdel")

    def live_eq_delete_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        """Equality-delete files live in the snapshot (Iceberg v2 eqdels)."""
        return self._live_files(snapshot_id, "eqdel")

    def _live_files(self, snapshot_id: int | None, content: str | None) -> list[DataFile]:
        s = (
            self.meta.snapshot_by_id(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        if s is None:
            return []
        manifests = [m["path"] for m in mf.read_manifest_list(s.manifest_list)]
        return mf.live_files(manifests, content)

    def plan_scan(
        self,
        predicates: Sequence[Predicate] | None = None,
        snapshot_id: int | None = None,
    ) -> list[DataFile]:
        s = (
            self.meta.snapshot_by_id(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        if s is None:
            return []
        # two-level skip: whole manifests first (partition_summaries), then
        # per-entry min/max/bloom bounds — only surviving manifests are read
        records = mf.read_manifest_list(s.manifest_list)
        records = prune_manifest_records(records, predicates, self.spec)
        files = mf.live_files([r["path"] for r in records], "data")
        return prune_files(files, predicates, self.schema, self.spec,
                           aliases=self.rename_map())

    # ----------------------------------------------------------------- scan

    def scan(
        self,
        predicates: Sequence[Predicate] | None = None,
        columns: Sequence[str] | None = None,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        if sum(x is not None for x in (snapshot_id, as_of_timestamp_ms, ref)) > 1:
            raise ValueError(
                "pass at most one of snapshot_id / as_of_timestamp_ms / ref")
        if ref is not None:
            snapshot_id = self.ref_snapshot(ref).snapshot_id
        if as_of_timestamp_ms is not None:
            snapshot_id = self.snapshot_as_of(as_of_timestamp_ms).snapshot_id
        files = self.plan_scan(predicates, snapshot_id)
        df = self.read_data_files(files, snapshot_id=snapshot_id)
        if predicates:
            df = df.filter(self._residual(predicates))  # residual: correctness
        if columns:
            df = df.select(*columns)
        return df

    def read_data_files(
        self,
        files: Sequence[DataFile],
        *,
        snapshot_id: int | None = None,
        delete_files: Sequence[DataFile] | None = None,
        eq_delete_files: Sequence[DataFile] | None = None,
    ) -> DataFrame:
        """Read data files with the snapshot's positional AND equality deletes
        applied.

        Files with no outstanding deletes take the plain parquet scan (the hot
        path costs nothing when the table has no deletion vectors). Covered
        files get `(_metadata.file_path, _metadata.row_index)` and a broadcast
        LEFT ANTI join against the (small, metadata-sized) delete rows — a
        narrow, shuffle-free operator that preserves scan-task partitioning,
        so downstream sortWithinPartitions contracts still hold. Every
        maintenance rewrite reads through here, which is what folds deletion
        vectors into rewritten files."""
        schema = self.schema
        if not files:
            return self.spark.createDataFrame([], schema)
        dels = (list(delete_files) if delete_files is not None
                else self.live_delete_files(snapshot_id))
        eqdels = (list(eq_delete_files) if eq_delete_files is not None
                  else self.live_eq_delete_files(snapshot_id))
        scanned = {f.path for f in files}
        hit = [d for d in dels if scanned.intersection(d.covered_paths)]
        # an eqdel applies to a data file iff the file's rows were committed
        # STRICTLY BEFORE the delete (Iceberg v2 sequence rule); rewrites fold
        # deletes and carry the new sequence, so they pass here untouched.
        # Key-bounds overlap narrows it further: files provably outside the
        # deleted key range skip the anti-join entirely (clean hot path).
        min_seq = min((f.data_sequence for f in files), default=0)
        eq_hit = [d for d in eqdels if d.data_sequence > min_seq]
        if not hit and not eq_hit:
            return self.read_parquet([f.path for f in files], schema)
        covered = set()
        for d in hit:
            covered.update(d.covered_paths)
        # per-file applicable eqdels (sequence rule + bounds/bloom pruning);
        # files sharing the same applicable SET are read and filtered as one
        # group, so no per-row sequence column or non-equi join is needed —
        # every eqdel of a group applies to every row of that group
        eq_of: dict[str, tuple[DataFile, ...]] = {}
        for f in files:
            app = tuple(d for d in eq_hit
                        if d.data_sequence > f.data_sequence
                        and _eq_bounds_may_match(f, d))
            if app:
                eq_of[f.path] = app
        dirty_files = [f for f in files if f.path in covered or f.path in eq_of]
        if not dirty_files:  # bounds pruned every candidate: pure clean path
            return self.read_parquet([f.path for f in files], schema)
        dirty_paths = {x.path for x in dirty_files}
        clean = [f.path for f in files if f.path not in dirty_paths]
        # an eqdel's key columns are recorded under the names at delete
        # time; a later RENAME COLUMN must still match them against the
        # CURRENT data column (the eqdel file itself keeps its old name)
        cur_of = {o: cur for cur, olds in self.rename_map().items()
                  for o in olds}
        eqdel_by_path = {d.path: d for d in eq_hit}
        groups: dict[tuple[tuple[str, ...], bool], list[DataFile]] = {}
        for f in dirty_files:
            key = (tuple(d.path for d in eq_of.get(f.path, ())),
                   f.path in covered)
            groups.setdefault(key, []).append(f)
        ddf = None
        pieces: list[DataFrame] = []
        for (app_paths, posdel), fs in groups.items():
            app = tuple(eqdel_by_path[p] for p in app_paths)
            piece = self.read_parquet(
                [f.path for f in fs], schema,
                filepos=("_fp", "_pos") if posdel else None)
            if posdel:
                if ddf is None:
                    ddf = (
                        self.spark.read.parquet(*[d.path for d in hit])
                        .select(F.col("file_path").alias("_fp"),
                                F.col("pos").alias("_pos"))
                    )
                piece = (piece.join(F.broadcast(ddf), ["_fp", "_pos"],
                                    "left_anti")
                         .drop("_fp", "_pos"))
            by_keys: dict[tuple[str, ...], list[DataFile]] = {}
            for d in app:
                by_keys.setdefault(tuple(d.eq_columns), []).append(d)
            for keys, group in by_keys.items():
                piece = self._apply_eqdel_group(piece, keys, group, cur_of)
            pieces.append(piece)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        if clean:
            out = self.read_parquet(clean, schema).unionByName(out)
        return out

    def _apply_eqdel_group(
        self,
        piece: DataFrame,
        keys: tuple[str, ...],
        group: list[DataFile],
        cur_of: dict[str, str],
    ) -> DataFrame:
        """Drop rows of ``piece`` whose key tuple appears in the eqdel files
        of ``group`` (all of which apply to every row of the piece).

        Small key sets (the common shape between maintenance passes: a few
        corrected conversations) inline as a literal filter expression built
        from one driver-side pyarrow read of the metadata-sized key parquet —
        zero Spark jobs, zero joins, whole-stage-codegen'd alongside the
        scan. Large key sets (bulk streaming upserts) fall back to ONE
        parquet read of the group's key files and a broadcast LEFT ANTI hash
        join on pure key equality. NULL key tuples never match in either
        path (SQL equality), mirroring the join semantics."""
        inline_max = self.property_int("scan.eqdel.inline-max-keys", 1000)
        total = sum(d.record_count for d in group)
        cols = [cur_of.get(k, k) for k in keys]
        # the literal path round-trips key values through pyarrow->Python->
        # F.lit, which is exact only for string/integral/boolean keys;
        # timestamp (session-timezone), decimal, and binary literals can
        # diverge from the join path's parquet-to-parquet comparison and
        # silently resurrect deleted rows — such keys take the join path
        types = {f.name: f.dataType for f in piece.schema.fields}
        inline_safe = all(
            isinstance(types.get(c), (T.StringType, T.IntegerType,
                                      T.LongType, T.ShortType, T.ByteType,
                                      T.BooleanType))
            for c in cols
        )
        if total <= inline_max and inline_safe:
            tuples: set[tuple] = set()
            for d in group:
                tuples.update(self._eqdel_key_tuples(d, keys))
            terms = []
            for tup in sorted(tuples, key=repr):
                if any(v is None for v in tup):
                    continue
                t = F.lit(True)
                for c, v in zip(cols, tup):
                    t = t & (F.col(c) == F.lit(v))
                terms.append(t)
            if not terms:
                return piece
            cond = terms[0]
            for t in terms[1:]:
                cond = cond | t
            return piece.filter(~F.coalesce(cond, F.lit(False)))
        kdf = (
            self.spark.read.parquet(*[d.path for d in group])
            .select(*[F.col(k).alias(f"_ek_{i}") for i, k in enumerate(keys)])
        )
        cond = F.lit(True)
        for i, c in enumerate(cols):
            cond = cond & (piece[c] == F.col(f"_ek_{i}"))
        return piece.join(F.broadcast(kdf), cond, "left_anti")

    def _eqdel_key_tuples(self, d: DataFile, keys: tuple[str, ...]) -> list[tuple]:
        """Driver-side key tuples of one eqdel parquet (pyarrow, no Spark
        job), cached per immutable file path."""
        cache = getattr(self, "_eqdel_tuple_cache", None)
        if cache is None:
            cache = self._eqdel_tuple_cache = {}
        got = cache.get(d.path)
        if got is None:
            import pyarrow.parquet as pq
            tbl = pq.read_table(d.path, columns=list(keys))
            got = list(zip(*(tbl.column(k).to_pylist() for k in keys)))
            cache[d.path] = got
        return got

    def deleted_row_count(
        self,
        files: Sequence[DataFile],
        delete_files: Sequence[DataFile] | None = None,
    ) -> int:
        """Rows of ``files`` masked by positional deletes (reads only the
        metadata-sized delete parquet, never the data files). Lets callers
        correct manifest ``record_count`` sums to LIVE row counts."""
        dels = (list(delete_files) if delete_files is not None
                else self.live_delete_files())
        paths = {f.path for f in files}
        hit = [d for d in dels if paths.intersection(d.covered_paths)]
        if not hit:
            return 0
        return (
            self.spark.read.parquet(*[d.path for d in hit])
            .filter(F.col("file_path").isin(list(paths)))
            .count()
        )

    def changes_between(
        self,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Append-only change feed (``table_changes`` analogue): the rows added
        after ``from_snapshot_id`` (exclusive) up to ``to_snapshot_id``
        (inclusive; default current). Pure metadata planning: the added rows
        live exactly in the data files present in ``to`` but not in ``from``,
        so the scan touches only the delta — never a full-table diff.

        Raises if a non-append snapshot (replace/overwrite/delete) lies in the
        range: a rewrite re-homes OLD rows into NEW files, so a file-set diff
        would replay them; use :class:`IncrementalTableReader` checkpoints
        around maintenance windows instead.
        """
        to_snap = (
            self.meta.snapshot_by_id(to_snapshot_id)
            if to_snapshot_id is not None else self.current_snapshot()
        )
        if to_snap is None:
            return self.spark.createDataFrame([], self.schema)
        lo = from_snapshot_id if from_snapshot_id is not None else -1
        in_range = [
            s for s in self.snapshots
            if lo < s.snapshot_id <= to_snap.snapshot_id
        ]
        # staged-append never changes a live file set (its files only become
        # visible via a later publish APPEND), so the diff stays row-accurate
        bad = [s for s in in_range
               if s.operation not in ("append", "expire", "staged-append")]
        if bad:
            ops = ", ".join(f"{s.snapshot_id}:{s.operation}" for s in bad)
            raise ValueError(
                f"changes_between crosses non-append snapshot(s) [{ops}]; "
                "file-set diff is only row-accurate for appends"
            )
        prev = (
            {f.path for f in self.live_data_files(from_snapshot_id)}
            if from_snapshot_id is not None else set()
        )
        added = [
            f for f in self.live_data_files(to_snap.snapshot_id)
            if f.path not in prev
        ]
        if not added:
            df = self.spark.createDataFrame([], self.schema)
        else:
            df = self.read_parquet([f.path for f in added])
        if columns:
            df = df.select(*columns)
        return df

    @staticmethod
    def _residual(predicates: Sequence[Predicate]):
        cond = F.lit(True)
        for col, op, value in predicates:
            c = F.col(col)
            if op == "=":
                cond = cond & (c == F.lit(value))
            elif op == "<":
                cond = cond & (c < F.lit(value))
            elif op == "<=":
                cond = cond & (c <= F.lit(value))
            elif op == ">":
                cond = cond & (c > F.lit(value))
            elif op == ">=":
                cond = cond & (c >= F.lit(value))
            elif op == "in":
                cond = cond & c.isin(list(value))
            elif op == "isnull":
                cond = cond & c.isNull()
            elif op == "notnull":
                cond = cond & c.isNotNull()
            else:
                raise ValueError(f"unknown predicate op {op}")
        return cond

    # --------------------------------------------------------------- append

    def _align_to_schema(self, df: DataFrame, merge_schema: bool) -> tuple[DataFrame, T.StructType]:
        """unionByName(allowMissingColumns=True) semantics against the table
        schema, plus numeric TYPE WIDENING on merge-schema appends: an
        incoming int64 into an int32 column promotes the table column to
        int64 (existing files stay as written — the parquet reader upcasts
        them under the evolved read schema)."""
        table_schema = self.schema
        existing = {f.name: f for f in table_schema.fields}
        incoming = {f.name: f for f in df.schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in existing]
        if new_fields and not merge_schema:
            raise ValueError(f"schema mismatch, new columns {[f.name for f in new_fields]} "
                             "and merge_schema=False")
        hist = {o: cur for cur, olds in self.rename_map().items() for o in olds}
        bad = [f.name for f in new_fields if f.name in hist]
        if bad:
            raise ValueError(
                f"incoming column(s) {bad} use pre-rename name(s); write the "
                f"current name(s) {[hist[b] for b in bad]} instead")
        base_fields = []
        for f in table_schema.fields:
            inc = incoming.get(f.name)
            if (merge_schema and inc is not None and inc.dataType != f.dataType
                    and (f.dataType.simpleString(),
                         inc.dataType.simpleString()) in _WIDEN_TABLE):
                base_fields.append(T.StructField(f.name, inc.dataType, True))
            else:
                base_fields.append(f)
        merged = T.StructType(
            base_fields
            + [T.StructField(f.name, f.dataType, True) for f in new_fields]
        )
        cols = []
        for f in merged.fields:
            if f.name in incoming:
                src = incoming[f.name]
                if src.dataType != f.dataType:
                    pair = (src.dataType.simpleString(), f.dataType.simpleString())
                    if pair in _WIDEN:
                        cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
                    else:
                        raise ValueError(
                            f"incompatible type for {f.name}: {pair[0]} vs {pair[1]}")
                else:
                    cols.append(F.col(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols), merged

    def constraints(self) -> tuple[list[str], dict[str, str]]:
        """(not-null columns, {name: check expr}) from table properties
        (Delta CHECK-constraint / NOT NULL analogue): properties
        ``constraints.not-null`` (csv) and ``constraints.check.<name>``."""
        props = self.meta.properties
        nn = [c.strip() for c in
              props.get("constraints.not-null", "").split(",") if c.strip()]
        checks = {k[len("constraints.check."):]: v
                  for k, v in props.items()
                  if k.startswith("constraints.check.")}
        return nn, checks

    def check_constraints(self, df: DataFrame) -> None:
        """Reject an ingest batch violating any declared constraint (Delta
        write-path enforcement). One probe job with ``limit(1)`` — the scan
        short-circuits on the first violating row, and a clean batch costs
        one extra pass over the input (cache upstream if it is expensive to
        recompute). A check expr evaluating to NULL counts as a violation,
        like Delta's ``CHECK``."""
        nn, checks = self.constraints()
        conds: list[tuple[str, object]] = []
        for c in nn:
            if c in df.columns:
                conds.append((f"NOT NULL {c}", F.col(c).isNull()))
        for name, expr in sorted(checks.items()):
            conds.append((f"CHECK {name} ({expr})",
                          ~F.coalesce(F.expr(expr), F.lit(False))))
        if not conds:
            return
        flags = [c.cast("boolean").alias(f"_viol_{i}")
                 for i, (_, c) in enumerate(conds)]
        any_viol = None
        for _, c in conds:
            any_viol = c if any_viol is None else (any_viol | c)
        bad = (
            df.select(F.struct(*df.columns).alias("_row"), *flags)
            .filter(any_viol).limit(1).collect()
        )
        if bad:
            row = bad[0]
            names = [conds[i][0] for i in range(len(conds))
                     if row[f"_viol_{i}"]]
            raise ValueError(
                f"constraint violation ({', '.join(names)}): "
                f"{row['_row'].asDict()}")

    def add_check_constraint(self, name: str, expr: str) -> None:
        """``ALTER TABLE ADD CONSTRAINT`` with Delta CHECK semantics: the
        EXISTING rows must already satisfy the expression before the
        constraint persists — one ``limit(1)`` probe over the current
        snapshot (short-circuits on the first violation; manifest pruning
        applies if the expression is prunable)."""
        bad = (
            self.scan()
            .filter(~F.coalesce(F.expr(expr), F.lit(False)))
            .limit(1).collect()
        )
        if bad:
            raise ValueError(
                f"cannot add CHECK {name}: existing row violates "
                f"({expr}): {bad[0].asDict()}")
        self.set_property(f"constraints.check.{name}", expr)

    def _optimized_write_n_files(self, df: DataFrame) -> int | None:
        """Pick an output file count from Catalyst's size estimate of the
        input plan (``optimizeWrite`` analogue, `utilities/utils.py:86`).

        The logical estimate is uncompressed in-memory bytes; parquet with
        snappy lands around 1/4 of that for text-heavy transcript data, so
        the estimate is scaled before dividing by the target file size. A
        nonsense estimate (unknown source -> Long.MAX) falls back to None
        (no pre-write exchange) rather than a million-way shuffle."""
        try:
            est = int(df._jdf.queryExecution().optimizedPlan().stats()
                      .sizeInBytes())
        except Exception:
            return None
        if est <= 0 or est >= (1 << 62):
            return None
        target = self.property_int(
            "write.target-file-size-bytes", 128 * 1024 * 1024)
        ratio = float(self.meta.properties.get(
            "write.optimize-write.compression-ratio", "0.25"))
        return max(1, min(100_000, -(-int(est * ratio) // target)))

    def write_data_files(
        self,
        df: DataFrame,
        *,
        n_files: int | None = None,
        sort_within: Sequence[str] | None = None,
        job_tag: str = "append",
        harvest_key_stats: bool | None = None,
        after_exchange: Callable[[DataFrame], DataFrame] | None = None,
    ) -> list[DataFile]:
        """Write df as data files under this table's location; return stat'd entries.

        The pre-write ``repartition``/``sortWithinPartitions`` mirrors Delta's
        optimized writes (`utilities/utils.py:86`): target-size output files
        instead of one file per input task. With the
        ``write.optimize-write.enabled`` table property and no explicit
        ``n_files``, the count is sized automatically from Catalyst's plan
        size estimate and the target file size.

        ``harvest_key_stats`` overrides the layout-based bloom/hash harvest
        policy (stats.layout_bloom_cols): ``True`` forces the fused key-stats
        scan on the outputs regardless of layout. Copy-on-write rewrites
        (delete/update/merge) pass True when their INPUT files carried
        blooms or hash bounds — a map-only rewrite keeps each file's key
        neighborhood, so skipping the harvest would silently demote every
        point lookup on the rewritten span from bloom-pruned to
        bounds-only (wide lexical bounds on curve files prune nothing)
        until the next clustering pass. Row-delta upserts pass True because
        their batch-sized files sit on every scan's read path until
        MAINTAIN folds them.

        ``after_exchange`` transforms the frame after the pre-write exchange
        (if any) and before the within-partition sort — the one place an
        ``Observation`` sees every written row exactly once, since a range
        exchange's sampling job re-runs everything below it."""
        spec = self.spec
        out = df
        if spec.fields:
            out = spec.with_partition_columns(out)
        if (n_files is None
                and self.meta.properties.get("write.optimize-write.enabled") == "true"):
            n_files = self._optimized_write_n_files(df)
        if n_files:
            if sort_within:
                out = out.repartitionByRange(n_files, *sort_within)
            else:
                out = out.repartition(n_files)
        if after_exchange is not None:
            out = after_exchange(out)
        if sort_within:
            out = out.sortWithinPartitions(*(spec.column_names + list(sort_within)))
        staging = os.path.join(
            self.meta.location, "data", f"{job_tag}-{uuid.uuid4().hex[:12]}"
        )
        writer = out.write.mode("error")
        if spec.fields:
            writer = writer.partitionBy(*spec.column_names)
        writer.parquet(staging)
        # appends are lexicographic layouts — per-file xxh64 ranges are
        # ~full-width and never prune, so the hash harvest is skipped unless
        # blooms already pay for the key scan (stats.layout_hash_cols; curve
        # rewrites pass their sort spec via run_grouped_rewrites instead);
        # stats-preserving rewrites and row-delta batches force it via
        # harvest_key_stats=True
        if harvest_key_stats:
            blooms = self.bloom_stat_columns()
            hashes = self.hash_stat_columns()
        else:
            blooms = layout_bloom_cols(self.bloom_stat_columns(),
                                       self.meta.properties, None)
            hashes = layout_hash_cols(self.hash_stat_columns(), blooms,
                                      self.meta.properties, None)
        return harvest_file_stats(
            self.spark, staging, self.schema,
            [f.name for f in spec.fields],
            hashes,
            self.stat_columns(), blooms, self.bloom_bits(),
        )

    def append(
        self,
        df: DataFrame,
        *,
        n_files: int | None = None,
        sort_within: Sequence[str] | None = None,
        merge_schema: bool = True,
        summary_extra: dict | None = None,
    ) -> snap.Snapshot:
        aligned, merged_schema = self._align_to_schema(df, merge_schema)
        self.check_constraints(aligned)
        schema_changed = merged_schema.jsonValue() != self.meta.schema_json
        if schema_changed:
            self.meta.schema_json = merged_schema.jsonValue()
        files = self.write_data_files(aligned, n_files=n_files, sort_within=sort_within)
        snapshot = self._commit_append(files, schema_json=merged_schema.jsonValue()
                                       if schema_changed else None,
                                       summary_extra=summary_extra)
        self._maybe_auto_compact(files)
        return snapshot

    # ------------------------------------------------- write-audit-publish

    def stage_append(
        self,
        df: DataFrame,
        *,
        n_files: int | None = None,
        sort_within: Sequence[str] | None = None,
    ) -> snap.Snapshot:
        """Write-audit-publish STAGE: commit the append into the snapshot log
        WITHOUT advancing the current pointer (Iceberg WAP / Delta shadow
        branch analogue). Readers of the table see nothing; auditors read the
        staged snapshot explicitly via ``scan(snapshot_id=...)``; a passing
        audit calls :meth:`publish_snapshot`. Staged files are refcounted by
        the snapshot log, so expire/GC protects them while the staged
        snapshot is retained — an abandoned stage ages out with normal
        snapshot retention. Staged appends never evolve the schema (audit
        first, evolve at publish-by-append if needed)."""
        aligned, _ = self._align_to_schema(df, merge_schema=False)
        self.check_constraints(aligned)
        files = self.write_data_files(
            aligned, n_files=n_files, sort_within=sort_within, job_tag="wap")

        def build(meta: snap.TableMetadata):
            sid, parent_id, seq = self._next_ids(meta)
            mpath = self._new_manifest_path()
            record = mf.write_manifest(mpath, files, sid, mf.STATUS_ADDED,
                                        sequence_number=seq)
            parent = meta.current_snapshot()
            records = (
                mf.read_manifest_list(parent.manifest_list) if parent else []
            ) + [record]
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, records)
            summary = {
                "job": "wap-stage",
                "added-data-files": len(files),
                "added-records": sum(f.record_count for f in files),
            }
            s = snap.Snapshot(sid, parent_id, seq, snap.now_ms(),
                              "staged-append", mlist, summary)
            return s, None

        return self._commit(build, advance=False)

    def publish_snapshot(self, snapshot_id: int) -> snap.Snapshot:
        """Write-audit-publish PUBLISH: cherry-pick a staged append onto the
        CURRENT snapshot. Pure metadata — the staged data files are re-homed
        into a fresh manifest attributed to the publish snapshot (so the
        change feed reports the rows as inserted at publish time, when they
        became visible) and appended to the current manifest list. Commits
        that landed between stage and publish are preserved: the rebase is
        just list concatenation, the only-appends-compose property the
        reference's 15 append flows rely on."""
        def build(meta: snap.TableMetadata):
            staged = meta.snapshot_by_id(snapshot_id)
            if staged is None or staged.operation != "staged-append":
                raise ValueError(
                    f"snapshot {snapshot_id} is not a staged append")
            for s in meta.snapshots:
                if s.summary.get("wap.published") == str(snapshot_id):
                    raise ValueError(
                        f"staged snapshot {snapshot_id} already published "
                        f"by snapshot {s.snapshot_id}")
            files = [
                DataFile.from_entry(e)
                for rec in mf.read_manifest_list(staged.manifest_list)
                if rec.get("added_snapshot_id") == staged.snapshot_id
                for e in mf.read_manifest(rec["path"])
                if (e["status"] == mf.STATUS_ADDED
                    and e["snapshot_id"] == staged.snapshot_id)
            ]
            sid, parent_id, seq = self._next_ids(meta)
            mpath = self._new_manifest_path()
            # rows become VISIBLE at publish: re-stamp to the publish sequence
            # so an equality delete committed between stage and publish does
            # not retroactively erase rows that logically appear after it
            for f in files:
                f.data_sequence = 0
            record = mf.write_manifest(mpath, files, sid, mf.STATUS_ADDED,
                                        sequence_number=seq)
            cur = meta.current_snapshot()
            records = (
                mf.read_manifest_list(cur.manifest_list) if cur else []
            ) + [record]
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, records)
            summary = {
                "job": "wap-publish",
                "wap.published": str(snapshot_id),
                "added-data-files": len(files),
                "added-records": sum(f.record_count for f in files),
            }
            s = snap.Snapshot(sid, parent_id, seq, snap.now_ms(),
                              "append", mlist, summary)
            return s, None

        return self._commit(build)

    def _maybe_auto_compact(self, appended: list[DataFile]) -> None:
        """Post-commit auto-compaction (``delta.autoOptimize.autoCompact``
        analogue, `utilities/utils.py:87`): when enabled via the
        ``write.auto-compact.enabled`` table property, a small-file census
        runs over ONLY the partitions this append touched and, where at least
        ``write.auto-compact.min-input-files`` sub-target files exist, a
        scoped bin-packing rewrite commits right behind the append. Cold
        partitions are never re-planned, so the trigger cost is O(metadata of
        the touched partitions) no matter how large the table is."""
        if self.meta.properties.get("write.auto-compact.enabled") != "true":
            return
        from ..operators.compaction import CompactionJob
        from ..operators.ledger import partition_key
        touched = {partition_key(f.partition) for f in appended}
        self.last_auto_compact = CompactionJob(
            self,
            min_input_files=self.property_int(
                "write.auto-compact.min-input-files", 16),
            only_partitions=touched,
        ).run()

    # -------------------------------------------------------------- commits

    def _new_manifest_path(self) -> str:
        mdir = snap.metadata_dir(self.meta.location)
        os.makedirs(mdir, exist_ok=True)
        return os.path.join(mdir, f"manifest-{uuid.uuid4().hex}.avro")

    def _manifest_list_path(self, snapshot_id: int) -> str:
        return os.path.join(
            snap.metadata_dir(self.meta.location),
            f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro",
        )

    def _commit(self, build, advance: bool = True, refs_update=None) -> snap.Snapshot:
        """Optimistic commit loop: build(meta) -> (snapshot, schema_json|None).

        ``advance=False`` records the snapshot in the log WITHOUT moving the
        current pointer — the write-audit-publish staging half.
        ``refs_update(meta, snapshot) -> refs dict`` atomically moves named
        refs in the SAME metadata version (branch appends)."""
        for _ in range(20):
            self.refresh()
            snapshot, schema_json = build(self.meta)
            # Commit timestamps are a total order (snapshot_as_of resolves
            # FOR TIMESTAMP AS OF by it); two commits in one wall-clock ms
            # would otherwise alias, so bump past the parent chain's max.
            prev_max = max((s.timestamp_ms for s in self.meta.snapshots), default=0)
            if snapshot.timestamp_ms <= prev_max:
                snapshot = dataclasses.replace(snapshot, timestamp_ms=prev_max + 1)
            new_meta = dataclasses.replace(
                self.meta,
                schema_json=schema_json or self.meta.schema_json,
                snapshots=self.meta.snapshots + [snapshot],
                current_snapshot_id=(snapshot.snapshot_id if advance
                                     else self.meta.current_snapshot_id),
                version=self.meta.version + 1,
                refs=(refs_update(self.meta, snapshot) if refs_update
                      else self.meta.refs),
            )
            try:
                snap.commit_metadata(new_meta)
                self.meta = new_meta
                return snapshot
            except FileExistsError:
                continue  # lost the race: rebase on fresh metadata and retry
        raise CommitConflict("gave up after 20 optimistic-commit retries")

    def _commit_meta(self, mutate, what: str) -> None:
        """Optimistic retry loop for metadata-only commits (no new snapshot).
        ``mutate(meta) -> TableMetadata`` builds the next version from fresh
        metadata (use ``dataclasses.replace``, bumping ``version``)."""
        for _ in range(20):
            self.refresh()
            new_meta = mutate(self.meta)
            try:
                snap.commit_metadata(new_meta)
                self.meta = new_meta
                return
            except FileExistsError:
                continue
        raise CommitConflict(f"{what}: gave up after 20 retries")

    def _next_ids(self, meta: snap.TableMetadata) -> tuple[int, int | None, int]:
        parent = meta.current_snapshot()
        sid = (max((s.snapshot_id for s in meta.snapshots), default=0)) + 1
        seq = (max((s.sequence_number for s in meta.snapshots), default=0)) + 1
        return sid, (parent.snapshot_id if parent else None), seq

    def _commit_append(self, files: list[DataFile],
                       schema_json: dict | None = None,
                       summary_extra: dict | None = None,
                       operation: str = "append") -> snap.Snapshot:
        def build(meta: snap.TableMetadata):
            sid, parent_id, seq = self._next_ids(meta)
            mpath = self._new_manifest_path()
            record = mf.write_manifest(mpath, files, sid, mf.STATUS_ADDED,
                                        sequence_number=seq)
            parent = meta.current_snapshot()
            records = (
                mf.read_manifest_list(parent.manifest_list) if parent else []
            ) + [record]
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, records)
            summary = {
                "added-data-files": len(files),
                "added-records": sum(f.record_count for f in files),
                "added-bytes": sum(f.file_size_bytes for f in files),
            }
            summary.update(summary_extra or {})
            s = snap.Snapshot(sid, parent_id, seq, snap.now_ms(), operation,
                              mlist, summary)
            return s, schema_json
        return self._commit(build)

    def commit_rewrite(
        self,
        deleted_paths: Sequence[str],
        added_files: list[DataFile],
        operation: str = "replace",
        summary_extra: dict | None = None,
        starting_sequence_number: int | None = None,
        preserve_sequence: bool = False,
    ) -> snap.Snapshot:
        """Copy-on-write file replacement (compaction / clustering / MERGE).

        Manifest rewrite semantics: untouched manifests are reused verbatim in
        the new manifest list; manifests containing deleted files are rewritten
        with surviving entries only (Avro manifest rewrite per BASELINE.json
        north_star). Rebase validation: every deleted path must still be live,
        else CommitConflict.

        Concurrent-delete safety (Iceberg RewriteDataFiles semantics): a
        delete committed between the job's READ and this COMMIT would
        otherwise be silently lost — the rewrite folds the old delete state
        and its outputs get a fresh sequence the new delete no longer applies
        to (row resurrection). Callers pass ``starting_sequence_number`` (the
        table's sequence at plan time) to arm the rebase checks:

        - a live positional delete with sequence > starting that covers any
          replaced file -> CommitConflict always (its row positions refer to
          a file this commit removes);
        - a live equality delete with sequence > starting whose key bounds
          may match a replaced file -> with ``preserve_sequence`` (pure
          reorganizations: compaction, clustering) the outputs are stamped
          with the STARTING sequence, so the newer eqdel still applies to
          them and the commit proceeds; without it (row-changing rewrites:
          MERGE / UPDATE / DELETE) -> CommitConflict.

        The retry loop re-runs these checks against fresh metadata on every
        rebase attempt.
        """
        deleted = set(deleted_paths)
        if preserve_sequence and starting_sequence_number is None:
            raise ValueError("preserve_sequence requires starting_sequence_number")

        def build(meta: snap.TableMetadata):
            sid, parent_id, seq = self._next_ids(meta)
            parent = meta.current_snapshot()
            old_records = (
                mf.read_manifest_list(parent.manifest_list) if parent else []
            )
            # pass 1: read every manifest once; the post-rewrite live DATA
            # set decides which positional-delete files went stale (all their
            # covered files rewritten away -> the delete rows can never match
            # a scanned row again) and ride along in this commit's removals.
            loaded = [(rec, mf.read_manifest(rec["path"])) for rec in old_records]
            live = set()
            live_data_after = set()
            for _, entries in loaded:
                for e in entries:
                    if e["status"] == mf.STATUS_DELETED:
                        continue
                    live.add(e["path"])
                    if (e.get("content", "data") == "data"
                            and e["path"] not in deleted):
                        live_data_after.add(e["path"])
            missing = deleted - live
            if missing:
                raise CommitConflict(
                    f"{len(missing)} files to replace are no longer live "
                    f"(concurrent rewrite): {sorted(missing)[:3]}..."
                )
            adds = added_files
            for f in adds:
                # a positional delete pins row positions in specific files; if
                # a concurrent rewrite retired one of them, committing would
                # silently strand this delete (its rows never match a scan)
                if f.content == "posdel":
                    gone = set(f.covered_paths) - (live - deleted)
                    if gone:
                        raise CommitConflict(
                            "positional delete targets files no longer live "
                            f"(concurrent rewrite): {sorted(gone)[:3]}..."
                        )
            if starting_sequence_number is not None:
                start_seq = starting_sequence_number
                input_entries = [
                    e for _, entries in loaded for e in entries
                    if e["status"] != mf.STATUS_DELETED and e["path"] in deleted
                ]
                for _, entries in loaded:
                    for e in entries:
                        if (e["status"] == mf.STATUS_DELETED
                                or int(e.get("data_sequence") or 0) <= start_seq):
                            continue
                        c = e.get("content", "data")
                        if c == "posdel" and deleted.intersection(
                                e.get("covered_paths") or []):
                            raise CommitConflict(
                                "concurrent DELETE added positional deletes "
                                f"against a replaced file: {e['path']}"
                            )
                        if c == "eqdel" and not preserve_sequence:
                            d = DataFile.from_entry(e)
                            if any(
                                int(ie.get("data_sequence") or 0) < d.data_sequence
                                and _eq_bounds_may_match(DataFile.from_entry(ie), d)
                                for ie in input_entries
                            ):
                                raise CommitConflict(
                                    "concurrent equality delete applies to a "
                                    f"replaced file: {e['path']}"
                                )
                if preserve_sequence:
                    # Iceberg useStartingSequenceNumber: reorganized data is
                    # the SAME rows, so outputs keep the plan-time sequence —
                    # deletes committed since then still apply to them.
                    adds = [
                        dataclasses.replace(f, data_sequence=start_seq)
                        if f.content == "data" and f.data_sequence == 0 else f
                        for f in added_files
                    ]
            stale_posdel = {
                e["path"]
                for _, entries in loaded
                for e in entries
                if e["status"] != mf.STATUS_DELETED
                and e.get("content", "data") == "posdel"
                and e["path"] not in deleted
                and not live_data_after.intersection(e.get("covered_paths") or [])
            }
            # an eqdel is dead once NO live data file predates it: rewrites
            # fold the delete and re-stamp outputs with the new sequence, so
            # after the last pre-delete file is rewritten away the key list
            # can never match a scanned row again
            live_data_seqs = [
                int(e.get("data_sequence") or 0)
                for _, entries in loaded for e in entries
                if e["status"] != mf.STATUS_DELETED
                and e.get("content", "data") == "data"
                and e["path"] not in deleted
            ]
            # post-commit live data includes this commit's outputs (at their
            # effective sequence): an eqdel newer than preserved-sequence
            # outputs still applies to them and must NOT be dropped as stale
            live_data_seqs.extend(
                f.data_sequence if f.data_sequence else seq
                for f in adds if f.content == "data"
            )
            min_live_seq = min(live_data_seqs, default=None)
            stale_eqdel = {
                e["path"]
                for _, entries in loaded
                for e in entries
                if e["status"] != mf.STATUS_DELETED
                and e.get("content", "data") == "eqdel"
                and e["path"] not in deleted
                and (min_live_seq is None
                     or min_live_seq >= int(e.get("data_sequence") or 0))
            }
            drop = deleted | stale_posdel | stale_eqdel
            new_records = []
            for rec, entries in loaded:
                paths = {e["path"] for e in entries if e["status"] != mf.STATUS_DELETED}
                if not (paths & drop):
                    new_records.append(rec)
                    continue
                survivors = [
                    DataFile.from_entry(e)
                    for e in entries
                    if e["status"] != mf.STATUS_DELETED and e["path"] not in drop
                ]
                if survivors:
                    mpath = self._new_manifest_path()
                    new_records.append(
                        mf.write_manifest(mpath, survivors, sid, mf.STATUS_EXISTING)
                    )
            if adds:
                mpath = self._new_manifest_path()
                new_records.append(
                    mf.write_manifest(mpath, adds, sid, mf.STATUS_ADDED,
                                      sequence_number=seq)
                )
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, new_records)
            summary = {
                "deleted-data-files": len(deleted),
                "added-data-files": len(adds),
                "added-records": sum(f.record_count for f in adds),
            }
            summary.update(summary_extra or {})
            s = snap.Snapshot(sid, parent_id, seq, snap.now_ms(), operation, mlist, summary)
            return s, None

        return self._commit(build)

    # --------------------------------------------------------------- restore

    def restore(self, snapshot_id: int) -> snap.Snapshot:
        """Delta ``RESTORE`` / Iceberg rollback analogue: commit a NEW snapshot
        whose live file set is exactly that of ``snapshot_id``. History is
        preserved (the rolled-back commits stay until expiry) and the data
        files are shared — the target's manifest list is copied, so restore is
        a pure metadata commit with zero data movement at any table size."""
        def build(meta: snap.TableMetadata):
            try:
                target = meta.snapshot_by_id(snapshot_id)
            except KeyError:
                raise ValueError(f"unknown snapshot {snapshot_id}") from None
            sid, parent_id, seq = self._next_ids(meta)
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, mf.read_manifest_list(target.manifest_list))
            s = snap.Snapshot(
                sid, parent_id, seq, snap.now_ms(), "restore", mlist,
                {"restored-snapshot-id": snapshot_id},
            )
            return s, None

        return self._commit(build)

    # ----------------------------------------------------- branches / tags

    @property
    def refs(self) -> dict[str, dict]:
        """Named refs: {name: {"snapshot_id", "type": "branch"|"tag"}}.
        "main" is implicit (the current pointer)."""
        return dict(self.meta.refs)

    def ref_snapshot(self, name: str) -> snap.Snapshot:
        if name == "main":
            cur = self.current_snapshot()
            if cur is None:
                raise KeyError("table has no snapshots yet")
            return cur
        r = self.meta.refs.get(name)
        if r is None:
            raise KeyError(f"unknown ref {name!r}")
        return self.meta.snapshot_by_id(int(r["snapshot_id"]))

    def _set_ref(self, name: str, ref_type: str,
                 snapshot_id: int | None, *, replace: bool,
                 max_ref_age_ms: int | None = None) -> None:
        if name == "main":
            raise ValueError("'main' is reserved for the current pointer")

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
            if sid is None:
                raise ValueError("table has no snapshot to reference")
            meta.snapshot_by_id(sid)  # KeyError on dangling target
            existing = meta.refs.get(name)
            if existing is not None and not replace:
                raise ValueError(f"ref {name!r} already exists ({existing['type']})")
            refs = dict(meta.refs)
            rec = {"snapshot_id": int(sid), "type": ref_type,
                   "created_ms": snap.now_ms()}
            if max_ref_age_ms is not None:
                rec["max_ref_age_ms"] = int(max_ref_age_ms)
            refs[name] = rec
            return dataclasses.replace(meta, refs=refs, version=meta.version + 1)

        self._commit_meta(mutate, f"create_{ref_type}")

    def create_tag(self, name: str, snapshot_id: int | None = None,
                   max_ref_age_ms: int | None = None) -> None:
        """Immutable named pointer (Iceberg tag). Pins its snapshot against
        expiration until :meth:`drop_ref` — or, with ``max_ref_age_ms``
        (Iceberg's RETAIN clause), until snapshot expiration finds the ref
        older than its retention and retires it automatically."""
        self._set_ref(name, "tag", snapshot_id, replace=False,
                      max_ref_age_ms=max_ref_age_ms)

    def create_branch(self, name: str, snapshot_id: int | None = None,
                      max_ref_age_ms: int | None = None) -> None:
        """Mutable named pointer (Iceberg branch): advance it with
        :meth:`append_to_branch`, merge with :meth:`fast_forward_main`.
        ``max_ref_age_ms`` ages an abandoned branch out at expiration time."""
        self._set_ref(name, "branch", snapshot_id, replace=False,
                      max_ref_age_ms=max_ref_age_ms)

    def aged_out_refs(self, now_ms: int | None = None) -> list[str]:
        """Refs whose ``max_ref_age_ms`` retention has lapsed. Age is
        measured from the last pointer move (creation, or the latest
        append_to_branch advance), so only ABANDONED refs age out."""
        now = now_ms if now_ms is not None else snap.now_ms()
        out = []
        for name, r in self.meta.refs.items():
            age = r.get("max_ref_age_ms")
            if age is not None and now - int(r.get("created_ms", now)) > int(age):
                out.append(name)
        return sorted(out)

    def drop_ref(self, name: str) -> None:
        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            if name not in meta.refs:
                raise KeyError(f"unknown ref {name!r}")
            refs = {k: v for k, v in meta.refs.items() if k != name}
            return dataclasses.replace(meta, refs=refs, version=meta.version + 1)

        self._commit_meta(mutate, "drop_ref")

    def append_to_branch(
        self,
        name: str,
        df: DataFrame,
        *,
        n_files: int | None = None,
        sort_within: Sequence[str] | None = None,
    ) -> snap.Snapshot:
        """Append committed onto a branch head: the new snapshot's parent is
        the branch head (not main), and the branch ref advances in the SAME
        metadata version — main readers see nothing. Like staged appends,
        branch writes never evolve the table schema (evolve on main, then
        branch). The snapshot log refcounts the branch's files, so GC
        protects them while the branch exists."""
        aligned, _ = self._align_to_schema(df, merge_schema=False)
        self.check_constraints(aligned)
        files = self.write_data_files(
            aligned, n_files=n_files, sort_within=sort_within,
            job_tag=f"branch-{name}")

        def build(meta: snap.TableMetadata):
            r = meta.refs.get(name)
            if r is None or r["type"] != "branch":
                raise ValueError(f"{name!r} is not a branch")
            head = meta.snapshot_by_id(int(r["snapshot_id"]))
            sid = max((s.snapshot_id for s in meta.snapshots), default=0) + 1
            seq = max((s.sequence_number for s in meta.snapshots), default=0) + 1
            mpath = self._new_manifest_path()
            record = mf.write_manifest(mpath, files, sid, mf.STATUS_ADDED,
                                        sequence_number=seq)
            records = mf.read_manifest_list(head.manifest_list) + [record]
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, records)
            summary = {
                "job": "branch-append",
                "branch": name,
                "added-data-files": len(files),
                "added-records": sum(f.record_count for f in files),
            }
            s = snap.Snapshot(sid, head.snapshot_id, seq, snap.now_ms(),
                              "append", mlist, summary)
            return s, None

        def refs_update(meta: snap.TableMetadata, snapshot: snap.Snapshot):
            refs = dict(meta.refs)
            # advance the pointer, preserve retention fields; an actively
            # written branch renews its age clock (created_ms) — only an
            # ABANDONED branch ages out
            refs[name] = dict(refs.get(name, {"type": "branch"}),
                              snapshot_id=snapshot.snapshot_id,
                              created_ms=snap.now_ms())
            return refs

        return self._commit(build, advance=False, refs_update=refs_update)

    def fast_forward_main(self, name: str) -> snap.Snapshot:
        """Move main to the branch head, iff main's snapshot is an ancestor
        of the head (pure pointer move, Iceberg ``fast_forward``). If main
        advanced since the branch was cut, the merge is not a fast-forward —
        raise, and let the caller replay the branch (e.g. re-append its
        added files) instead of silently dropping main's commits."""
        head_holder: list[snap.Snapshot] = []

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            r = meta.refs.get(name)
            if r is None or r["type"] != "branch":
                raise ValueError(f"{name!r} is not a branch")
            head = meta.snapshot_by_id(int(r["snapshot_id"]))
            cur = meta.current_snapshot()
            node, ok = head, cur is None
            while node is not None and not ok:
                if node.snapshot_id == cur.snapshot_id:
                    ok = True
                    break
                if node.parent_snapshot_id is None:
                    break
                try:
                    node = meta.snapshot_by_id(node.parent_snapshot_id)
                except KeyError:  # ancestry truncated by expiration
                    break
            if not ok:
                raise ValueError(
                    f"cannot fast-forward: main ({cur.snapshot_id}) is not an "
                    f"ancestor of branch {name!r} head ({head.snapshot_id})")
            head_holder.append(head)
            return dataclasses.replace(
                meta, current_snapshot_id=head.snapshot_id,
                version=meta.version + 1)

        self._commit_meta(mutate, "fast_forward")
        return head_holder[-1]

    # ----------------------------------------------------- snapshot expiry

    def expire_snapshots(self, keep_last: int = 3,
                         older_than_ms: int | None = None,
                         ) -> tuple[list[int], list[str]]:
        """Drop all but the newest ``keep_last`` snapshots (current always
        kept). With ``older_than_ms`` (Iceberg ``expire_snapshots(older_than,
        retain_last)``), only snapshots COMMITTED BEFORE that timestamp are
        eligible — ``keep_last`` then acts as a minimum to retain, so a quiet
        table never expires below it and a busy one keeps its recent history.

        Refs carrying ``max_ref_age_ms`` whose retention lapsed are retired
        in the same commit (Iceberg's ref-aging), so an abandoned branch or
        expired tag stops pinning its snapshots exactly when expiration runs.

        Returns (expired snapshot ids, data-file paths whose refcount dropped
        to zero) — the GC candidates. Physical deletion is the orphan-GC job's
        responsibility (`operators/expire.py`), keeping metadata and filesystem
        mutation separated.
        """
        ordered = sorted(self.meta.snapshots, key=lambda s: s.sequence_number)
        dead_ref_names = set(self.aged_out_refs())
        if len(ordered) <= keep_last and not dead_ref_names:
            return [], []
        keep = list(ordered[-keep_last:])
        if older_than_ms is not None:
            # age gate: anything committed at/after the cutoff survives
            keep += [s for s in ordered if s.timestamp_ms >= older_than_ms
                     and s not in keep]
        cur = self.current_snapshot()
        if cur and cur not in keep:
            keep.append(cur)
        # surviving named refs (branches/tags) pin their target snapshot for
        # as long as the ref exists — aged-out refs no longer pin
        ref_ids = {int(r["snapshot_id"])
                   for name, r in self.meta.refs.items()
                   if name not in dead_ref_names}
        keep += [s for s in ordered
                 if s.snapshot_id in ref_ids
                 and s.snapshot_id not in {k.snapshot_id for k in keep}]
        keep_ids = {s.snapshot_id for s in keep}
        expired = [s for s in ordered if s.snapshot_id not in keep_ids]
        if not expired and not dead_ref_names:
            return [], []

        def refs(snapshots: list[snap.Snapshot]) -> set[str]:
            out: set[str] = set()
            for s in snapshots:
                for rec in mf.read_manifest_list(s.manifest_list):
                    for e in mf.read_manifest(rec["path"]):
                        if e["status"] != mf.STATUS_DELETED:
                            out.add(e["path"])
            return out

        live_refs = refs(keep)
        dead_refs = refs(expired) - live_refs

        # rewrite snapshot list: retained + the new expire snapshot
        for _ in range(20):
            self.refresh()
            meta = self.meta
            retained = [s for s in meta.snapshots if s.snapshot_id in keep_ids]
            sid, parent_id, seq = self._next_ids(meta)
            cur2 = meta.current_snapshot()
            mlist = self._manifest_list_path(sid)
            mf.write_manifest_list(mlist, mf.read_manifest_list(cur2.manifest_list))
            new_snap = snap.Snapshot(
                sid, parent_id, seq, snap.now_ms(), "expire", mlist,
                {"expired-snapshots": len(expired),
                 **({"aged-out-refs": ",".join(sorted(dead_ref_names))}
                    if dead_ref_names else {})},
            )
            # same strict total order on commit timestamps as _commit enforces
            prev_max = max((s.timestamp_ms for s in meta.snapshots), default=0)
            if new_snap.timestamp_ms <= prev_max:
                new_snap = dataclasses.replace(new_snap, timestamp_ms=prev_max + 1)
            new_meta = dataclasses.replace(
                meta,
                snapshots=retained + [new_snap],
                current_snapshot_id=new_snap.snapshot_id,
                refs={k: v for k, v in meta.refs.items()
                      if k not in dead_ref_names},
                version=meta.version + 1,
            )
            try:
                snap.commit_metadata(new_meta)
                self.meta = new_meta
                break
            except FileExistsError:
                continue
        else:
            raise CommitConflict("expire: gave up after 20 retries")
        return [s.snapshot_id for s in expired], sorted(dead_refs)

    # ----------------------------------------------------------------- DDL

    def set_cluster_keys(self, keys: Sequence[str]) -> None:
        """ALTER TABLE ... CLUSTER BY analogue (`post_setup_ocsf_tables.py:44`):
        records the clustering intent in metadata; the clustering job applies it."""
        for k in keys:
            if k not in {f.name for f in self.schema.fields}:
                raise ValueError(f"unknown cluster column {k!r}")
        self._commit_meta(
            lambda meta: dataclasses.replace(
                meta, cluster_keys=list(keys), version=meta.version + 1),
            "set_cluster_keys",
        )

    def add_columns(self, fields: Sequence[T.StructField]) -> None:
        """ALTER TABLE ... ADD COLUMNS analogue — METADATA-ONLY schema
        evolution, zero data movement at any table size.

        Every scan reads with the table schema pinned
        (``spark.read.schema(...)``), so files written before the evolution
        surface the new columns as NULL — the same name-based fill Delta
        gives ``mergeSchema`` appends (which this engine already performs;
        an explicit ADD COLUMNS just declares the column before any data
        arrives). New columns are forced nullable for exactly that reason."""
        existing = {f.name for f in self.schema.fields}
        pnames = {f.name for f in self.spec.fields}
        hist = {o: cur for cur, olds in self.rename_map().items() for o in olds}
        dropped = set(json.loads(
            self.meta.properties.get("schema.dropped-names", "[]")))
        seen: set[str] = set()
        for f in fields:
            if f.name in existing:
                raise ValueError(f"column {f.name!r} already exists")
            if f.name in pnames:
                raise ValueError(
                    f"column {f.name!r} collides with a partition field")
            if f.name in hist:
                raise ValueError(
                    f"{f.name!r} is a historical name of column "
                    f"{hist[f.name]!r}; files still carry it under that column")
            if f.name in dropped:
                raise ValueError(
                    f"{f.name!r} was DROPPED: existing files still carry its "
                    "bytes, which a pinned-schema read would resurrect in "
                    "place of NULLs — pick a fresh name")
            if f.name in seen:
                raise ValueError(f"duplicate column {f.name!r} in ADD COLUMNS")
            seen.add(f.name)
        new_schema = T.StructType(
            list(self.schema.fields)
            + [T.StructField(f.name, f.dataType, nullable=True) for f in fields]
        )

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            return dataclasses.replace(
                meta, schema_json=new_schema.jsonValue(),
                version=meta.version + 1)

        self._commit_meta(mutate, "add_columns")

    def widen_column(self, name: str, new_type: T.DataType) -> None:
        """ALTER TABLE ... ALTER COLUMN <c> TYPE <t> — METADATA-ONLY lossless
        type widening (Delta type-widening / Iceberg type-promotion analogue;
        the implicit merge-schema append path shares the same ``_WIDEN_TABLE``).

        Every scan pins the table schema, and Spark 4's parquet reader
        upcasts narrower physical types under a pinned wider read schema
        (int32->int64/double, float->double — verified), so files written
        before the widening surface at the new type with zero data movement.
        Min/max bounds decode numerically and keep pruning; equality-delete
        key files written at the old type compare under Spark's implicit
        numeric casts.

        Rejected (would silently corrupt derived artifacts, not the data):
        partition-source columns (transform output depends on the stored
        type) and hash/bloom stat columns (xxhash64(int) != xxhash64(bigint),
        so existing per-file bitsets/bounds would mis-prune probes)."""
        field = next((f for f in self.schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"unknown column {name!r}")
        old_s, new_s = field.dataType.simpleString(), new_type.simpleString()
        if old_s == new_s:
            raise ValueError(f"column {name!r} is already {new_s}")
        if (old_s, new_s) not in _WIDEN_TABLE:
            raise ValueError(
                f"cannot widen {name!r} from {old_s} to {new_s} losslessly; "
                f"allowed: {sorted(_WIDEN_TABLE)}")
        sources = {d.get("source") for d in self.meta.partition_spec}
        if name in sources:
            raise ValueError(
                f"column {name!r} is a partition-spec source; its transform "
                "values depend on the stored type — evolve the partition "
                "spec away from it first")
        if name in self.hash_stat_columns() or name in self.bloom_stat_columns():
            raise ValueError(
                f"column {name!r} has per-file hash/bloom stats, which are "
                "type-dependent (xxhash64 of int != bigint); remove it from "
                "stats.hash-columns / stats.bloom-columns first")
        new_schema = T.StructType([
            T.StructField(f.name, new_type, f.nullable, f.metadata)
            if f.name == name else f
            for f in self.schema.fields
        ])

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            return dataclasses.replace(
                meta, schema_json=new_schema.jsonValue(),
                version=meta.version + 1)

        self._commit_meta(mutate, "widen_column")

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN analogue — METADATA-ONLY rename,
        zero data movement at any table size (Iceberg renames via field ids;
        this engine records the name history instead).

        Mechanics: the schema field is renamed and the old name is appended
        to the column's history in the ``schema.renames`` property. Scans
        extend the pinned read schema with the historical names and project
        ``coalesce(current, old...)`` (:meth:`read_parquet`) — a file holds
        exactly one era's name, so values surface unchanged. File-level
        pruning consults min/max/bloom stats under every historical name
        (plans/pruning.py aliases), and equality deletes keyed on a prior
        name keep applying (read_data_files maps stored key names forward).
        Rewrites read mapped and write the CURRENT name, so maintenance
        migrates files to the new name as it touches them.

        References that travel with the rename: partition-spec sources,
        cluster keys, ``stats.columns`` / ``stats.bloom-columns`` /
        ``stats.hash-columns``, and NOT NULL constraint lists. A CHECK
        constraint referencing the column is rejected (its expression text
        cannot be rewritten safely) — drop it first, like DROP COLUMN."""
        fields = {f.name for f in self.schema.fields}
        if old not in fields:
            raise ValueError(f"unknown column {old!r}")
        if new in fields:
            raise ValueError(f"column {new!r} already exists")
        if new in {f.name for f in self.spec.fields}:
            raise ValueError(
                f"column {new!r} collides with a partition field")
        raw = self.meta.properties.get("schema.renames", "")
        history: dict[str, list[str]] = json.loads(raw) if raw else {}
        for cur, olds in history.items():
            if cur != old and new in olds:
                raise ValueError(
                    f"{new!r} is a historical name of column {cur!r}; "
                    "files still carry it under that column")
        if new in set(json.loads(
                self.meta.properties.get("schema.dropped-names", "[]"))):
            raise ValueError(
                f"{new!r} names a DROPPED column whose bytes remain in "
                "existing files; renaming onto it would coalesce those stale "
                "values into the scan — pick a fresh name")
        _, checks = self.constraints()
        pat = re.compile(rf"\b{re.escape(old)}\b")
        hits = [cn for cn, expr in checks.items() if pat.search(expr)]
        if hits:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) "
                f"{hits}; drop them first")

        olds = history.pop(old, [])
        # renaming back to a historical name (a->b->a): files from the 'a'
        # era match the current name natively again, so 'a' leaves history
        if new in olds:
            olds.remove(new)
        history[new] = olds + [old]
        new_schema = T.StructType([
            T.StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f
            for f in self.schema.fields
        ])
        new_spec = [
            dict(d, source=new) if d.get("source") == old else d
            for d in self.meta.partition_spec
        ]

        def _sub_list(csv: str) -> str:
            return ",".join(new if c.strip() == old else c.strip()
                            for c in csv.split(",") if c.strip())

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            props = dict(meta.properties)
            props["schema.renames"] = json.dumps(
                {k: v for k, v in history.items() if v}, sort_keys=True)
            for key in ("stats.columns", "stats.bloom-columns",
                        "stats.hash-columns", "constraints.not-null"):
                if props.get(key):
                    props[key] = _sub_list(props[key])
            keys = [new if k == old else k for k in (meta.cluster_keys or [])]
            return dataclasses.replace(
                meta, schema_json=new_schema.jsonValue(),
                partition_spec=new_spec,
                cluster_keys=keys or meta.cluster_keys,
                properties=props,
                version=meta.version + 1)

        self._commit_meta(mutate, "rename_column")

    def drop_column(self, name: str) -> None:
        """ALTER TABLE ... DROP COLUMN analogue — metadata-only projection
        removal: files keep the bytes (reclaimed as rewrites touch them),
        scans stop selecting the column immediately.

        Rejected while anything live still depends on the column: a
        partition-spec source (pruning and rewrite writers recompute from
        it), a cluster key, a declared constraint, or a live equality-delete
        file keyed on it (the sequence-rule anti-join must read the column
        from every data file it covers)."""
        if name not in {f.name for f in self.schema.fields}:
            raise ValueError(f"unknown column {name!r}")
        srcs = {f.source for f in self.spec.fields}
        if name in srcs:
            raise ValueError(
                f"column {name!r} is a partition source; evolve the spec first")
        if name in (self.meta.cluster_keys or []):
            raise ValueError(
                f"column {name!r} is a cluster key; ALTER ... CLUSTER BY first")
        nn, checks = self.constraints()
        if name in nn:
            raise ValueError(
                f"column {name!r} has a NOT NULL constraint; drop it first")
        pat = re.compile(rf"\b{re.escape(name)}\b")
        hits = [cn for cn, expr in checks.items() if pat.search(expr)]
        if hits:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) "
                f"{hits}; drop them first")
        if self.current_snapshot() is not None:
            eq_hits = [d.path for d in self.live_eq_delete_files()
                       if name in (d.eq_columns or [])]
            if eq_hits:
                raise ValueError(
                    f"column {name!r} keys {len(eq_hits)} live equality-delete "
                    "file(s); run REWRITE DELETES (eqdel->posdel) first")
        new_schema = T.StructType(
            [f for f in self.schema.fields if f.name != name])
        # the dropped column's bytes stay in existing files (and, if it was
        # ever renamed, under its historical names too). Record every such
        # physical name as a ghost: re-introducing one via ADD COLUMNS or
        # RENAME would make pinned-schema reads resurrect the stale bytes
        # instead of NULLs — silent corruption, so reuse is rejected forever
        # (Iceberg sidesteps this with field ids; Delta needs column mapping).
        # Computed INSIDE mutate from the fresh metadata of each retry
        # attempt, so a concurrent rename committed between attempts is not
        # clobbered by a stale precomputed history.
        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            props = dict(meta.properties)
            raw = props.get("schema.renames", "")
            history: dict[str, list[str]] = json.loads(raw) if raw else {}
            ghosts = [name] + history.pop(name, [])
            props["schema.renames"] = json.dumps(
                {k: v for k, v in history.items() if v}, sort_keys=True)
            dropped = set(json.loads(props.get("schema.dropped-names", "[]")))
            props["schema.dropped-names"] = json.dumps(
                sorted(dropped | set(ghosts)))
            return dataclasses.replace(
                meta, schema_json=new_schema.jsonValue(),
                properties=props,
                version=meta.version + 1)

        self._commit_meta(mutate, "drop_column")

    def set_partition_spec(self, spec: PartitionSpec) -> None:
        """ALTER TABLE ... PARTITIONED BY analogue (Iceberg partition-spec
        evolution): future writes and maintenance rewrites use the new spec;
        existing files keep the partition values they were written with — no
        rewrite of history at any table size.

        Correct because pruning is per-file and conservative: a file missing
        a current-spec field simply is not partition-pruned on that field
        (its min/max bounds still skip), and both rewrite writers recompute
        partition columns from the CURRENT spec, so compaction/clustering
        migrate files to the new layout as they touch them.

        A partition field NAME is forever bound to one definition: reusing a
        current or retired name with a different (source, transform) would
        make old stored partition values incomparable with the new
        transform's, so it is rejected (rename instead). Retired definitions
        live in the ``partition.retired-fields`` table property."""
        data_cols = {f.name for f in self.schema.fields}
        retired = json.loads(
            self.meta.properties.get("partition.retired-fields", "{}")
        )
        current = {f.name: f.to_dict() for f in self.spec.fields}
        for field in spec.fields:
            if field.source not in data_cols:
                raise ValueError(f"unknown source column {field.source!r}")
            if field.name in data_cols:
                raise ValueError(
                    f"partition field {field.name!r} collides with a data column"
                )
            prior = current.get(field.name) or retired.get(field.name)
            if prior is not None and prior != field.to_dict():
                raise ValueError(
                    f"partition field name {field.name!r} was already defined as "
                    f"{prior}; reusing it as {field.to_dict()} would make stored "
                    "partition values incomparable — pick a fresh name"
                )
        new_names = {f.name for f in spec.fields}
        retired.update({n: d for n, d in current.items() if n not in new_names})

        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            props = dict(meta.properties)
            props["partition.retired-fields"] = json.dumps(retired, sort_keys=True)
            return dataclasses.replace(
                meta, partition_spec=spec.to_list(), properties=props,
                version=meta.version + 1)

        self._commit_meta(mutate, "set_partition_spec")

    def set_property(self, key: str, value: str) -> None:
        """ALTER TABLE SET TBLPROPERTIES analogue (table_properties,
        `utilities/utils.py:85-96`)."""
        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            props = dict(meta.properties)
            props[key] = value
            return dataclasses.replace(
                meta, properties=props, version=meta.version + 1)

        self._commit_meta(mutate, "set_property")

    def unset_property(self, key: str) -> None:
        def mutate(meta: snap.TableMetadata) -> snap.TableMetadata:
            props = {k: v for k, v in meta.properties.items() if k != key}
            return dataclasses.replace(
                meta, properties=props, version=meta.version + 1)

        self._commit_meta(mutate, "unset_property")

    # ------------------------------------------------------------- utility

    def all_data_files_on_disk(self) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(os.path.join(self.meta.location, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(os.path.join(root, n))
        return sorted(out)

    def describe(self) -> dict[str, Any]:
        cur = self.current_snapshot()
        files = self.live_data_files() if cur else []
        return {
            "location": self.meta.location,
            "schema": self.schema.simpleString(),
            "partition_spec": self.meta.partition_spec,
            "cluster_keys": self.meta.cluster_keys,
            "current_snapshot_id": cur.snapshot_id if cur else None,
            "snapshot_count": len(self.meta.snapshots),
            "file_count": len(files),
            "record_count": sum(f.record_count for f in files),
            "total_bytes": sum(f.file_size_bytes for f in files),
        }
