"""The workloads. Each is a seeded cycle of operations on a fresh table,
repeated until ``--seconds`` have passed (at least ``MIN_CYCLES`` times),
and each cycle issues every kind of operation the end-to-end metrics name,
in its own proportions:

- ``maintain``: a Zipf-skewed table loaded by one fragmented append, then
  compaction -> Z-order clustering, reads and appends on the maintained
  table, expire.
- ``trickle``: micro-batch append commits with point and range reads
  against the growing, fragmented table, then one managed
  ``run_maintenance`` pass (Hilbert clustering, expire + GC, manifest
  rewrite).

A traced run adds one round of row-level writes on the last cycle's table.
"""

from __future__ import annotations

import datetime
import functools
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format import manifest as mf
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.catalog import Catalog
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import PartitionSpec, days
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.functions.checksum import table_fingerprint
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import ClusteringJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import ExpireSnapshotsJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.maintain import run_maintenance
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.upsert import upsert
from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans.agg_pushdown import AggItem, metadata_agg
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sql import run_sql

from harness import CPUS, ByteLedger, Recorder, space_amp

SPEC = PartitionSpec.of(days("ts_day", "ts"))
BASE = datetime.datetime(2025, 1, 1)
DB = "bench"

# bench.py's maintained-table layout, with file sizes scaled to the data
MAINTAINED_PROPS = {
    "write.target-file-size-bytes": str(1024 * 1024),
    "stats.columns": "conv_id,turn_idx,role,tool,ts",
    "stats.bloom-columns": "conv_id",
    "stats.bloom-bits": str(1 << 16),
    "stats.bloom.layouts": "curve",
}
TRICKLE_PROPS = {
    "write.target-file-size-bytes": str(1024 * 1024),
    "stats.columns": "conv_id,turn_idx,role,tool,ts",
    "maintenance.cluster.curve": "hilbert",
    "maintenance.expire.keep-last": "1",
    "maintenance.expire.grace-sec": "0",
}

HOT_TURNS = 4000       # turns of each hot conversation (the Zipf head)
MAINTAIN_CONVS = 400   # conversations of a maintain table: ~12k turns
MAINTAIN_HOT = 2
TRICKLE_CONVS = 60     # conversations per micro-batch: ~600 turns
TRICKLE_COMMITS = 6    # micro-batch commits of a measured trickle cycle
KEYS_PER_WRITE = 4     # conversations each row-level write touches
MIN_CYCLES = 2         # measured cycles of a run, however short --seconds is


def schema() -> T.StructType:
    return T.StructType.fromDDL(SCHEMA_DDL)  # parsing needs a live session


@dataclass
class Ctx:
    spark: object
    catalog: Catalog
    rec: Recorder
    seed: int
    seconds: int
    rng: random.Random
    acct: ByteLedger = field(default_factory=ByteLedger)
    builds: list[float] = field(default_factory=list)
    miscounts: list[str] = field(default_factory=list)
    last_table: Table | None = None
    pool: list[str] = field(default_factory=list)  # last_table's unwritten keys
    space_amp: float = 0.0  # of last_table after the last cycle
    n_tables: int = 0
    verify: bool = True  # off in the warm-up: it runs the operations only

    def new_name(self) -> str:
        self.n_tables += 1
        return f"{DB}.t{self.n_tables}"

    @staticmethod
    def name_of(table: Table) -> str:
        return f"{DB}.{os.path.basename(table.location)}"

    def check(self, ok, what: str) -> None:
        """``ok`` is a thunk, so a warm-up pays nothing for checks."""
        if self.verify:
            self.rec.check(ok(), what)


# ------------------------------------------------------------------ checks

def fingerprint(df: DataFrame) -> tuple:
    r = table_fingerprint(df).collect()[0]
    return (r["n_convs"], r["n_turns"], str(r["digest_sum"]))


def reachable_files_exist(table: Table) -> bool:
    """No file reachable from a retained snapshot was removed by GC."""
    table.refresh()
    for s in table.meta.snapshots:
        for rec in mf.read_manifest_list(s.manifest_list):
            for e in mf.read_manifest(rec["path"]):
                if e["status"] != mf.STATUS_DELETED and not os.path.exists(e["path"]):
                    return False
    return True


def live_turns(table: Table) -> int:
    return sum(f.record_count for f in table.live_data_files())


@contextmanager
def clocked(cls, method: str, sink: list[float]):
    """Time every call of ``cls.method`` into ``sink`` (a job run inside a
    managed pass that the benchmark cannot time from outside)."""
    orig = cls.__dict__[method]

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            sink.append(time.perf_counter() - t0)

    setattr(cls, method, wrapper)
    try:
        yield
    finally:
        setattr(cls, method, orig)


# ------------------------------------------------------------- operations

def point_read(ctx: Ctx, table: Table, conv: str, *, snapshot_id: int | None = None,
               verify: bool = False) -> None:
    with ctx.rec.op("point_read"):
        n = table.scan([("conv_id", "=", conv)], snapshot_id=snapshot_id).count()
    if verify:  # pruning must not lose rows: compare with an unpruned read
        ctx.check(lambda: n == table.read_data_files(table.live_data_files(snapshot_id))
                  .filter(F.col("conv_id") == conv).count(),
                  f"point read of {conv} differs from an unpruned read")


def range_read(ctx: Ctx, table: Table, since: datetime.datetime, *,
               snapshot_id: int | None = None) -> None:
    with ctx.rec.op("range_read"):
        table.scan([("ts", ">=", since)], snapshot_id=snapshot_id).count()


def append(ctx: Ctx, table: Table, df: DataFrame, n_files: int) -> None:
    with ctx.rec.op("append"):
        table.append(df, n_files=n_files)
    ctx.acct.ingest(table)


def expire(ctx: Ctx, table: Table) -> None:
    with ctx.rec.op("expire_gc"):
        ExpireSnapshotsJob(table, keep_last=1).run()
    ctx.check(lambda: reachable_files_exist(table), "GC removed a reachable file")


def compact_cluster(ctx: Ctx, table: Table) -> None:
    """Compaction then Z-order clustering: one maint_turns_per_s sample.
    The rewrite must not change what the table scans to."""
    before = fingerprint(table.scan()) if ctx.verify else None
    turns = live_turns(table)
    with ctx.rec.op("compact"):
        CompactionJob(table, max_concurrency=CPUS).run()
    with ctx.rec.op("cluster"):
        ClusteringJob(table, curve="zorder", max_concurrency=CPUS).run()
    ctx.rec.add("maint_turns_per_s", turns / (ctx.rec.samples["compact"][-1]
                                              + ctx.rec.samples["cluster"][-1]))
    ctx.acct.rewrite(table)
    ctx.check(lambda: fingerprint(table.scan()) == before,
              "fingerprint changed across compact+cluster")

    def agg_count():
        meta = metadata_agg(table, [AggItem("count_star", None, "n")])
        return meta is not None and meta.collect()[0]["n"] == turns

    ctx.check(agg_count, "metadata_agg row count != live turns")


def _in_list(keys: list[str]) -> str:
    return ", ".join(f"'{k}'" for k in keys)


def dml_round(ctx: Ctx, name: str, pool: list[str]) -> None:
    """MERGE, UPSERT, UPDATE, DELETE merge-on-read, DELETE copy-on-write,
    each on a fresh seeded set of conversations; the five latencies' sum is
    one ``rowwrite`` sample. MERGE, UPSERT and UPDATE check their reported
    row counts against an untimed count of their predicate's rows taken just
    before; the DELETEs check that exactly those rows are gone (their
    reported counts are tallied in ``ctx.miscounts``, see README)."""
    spark, rec, cat = ctx.spark, ctx.rec, ctx.catalog
    table = cat.load_table(name)

    def keys() -> list[str]:
        ks = ctx.rng.sample(pool, KEYS_PER_WRITE)
        for key in ks:
            pool.remove(key)
        return ks

    def after_write(rows: int) -> None:
        ctx.acct.change(table.refresh(), rows)

    kinds = ("merge", "upsert", "update", "delete_mor", "delete_cow")
    done = {k: len(rec.samples.get(k, [])) for k in kinds}

    # MERGE INTO: corrections for the matched turns plus one new turn each
    ks = keys()
    rows = table.scan([("conv_id", "in", ks)]).collect()
    src = [r.asDict() | {"text": "merged:" + r["text"]} for r in rows]
    new = [{"conv_id": f"{key}-m", "turn_idx": 0, "role": "user", "text": "new",
            "tool": None, "ts": BASE} for key in ks]
    spark.createDataFrame(src + new, schema()).createOrReplaceTempView("perfbench_src")
    with rec.op("merge"):
        res = run_sql(cat, f"MERGE INTO {name} AS t USING perfbench_src AS s "
                           "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
                           "WHEN MATCHED THEN UPDATE SET * "
                           "WHEN NOT MATCHED THEN INSERT *")
    ctx.check(lambda: (res.rows_updated, res.rows_inserted) == (len(rows), len(new)),
              f"merge counts {res.rows_updated}/{res.rows_inserted} "
              f"!= {len(rows)}/{len(new)}")
    after_write(len(src) + len(new))

    # UPSERT (row delta): the batch lands as new files + an equality delete
    ks = keys()
    rows = table.scan([("conv_id", "in", ks)]).collect()
    batch = spark.createDataFrame(
        [r.asDict() | {"text": "upserted:" + r["text"]} for r in rows], schema())
    with rec.op("upsert"):
        res = upsert(table, batch, ["conv_id", "turn_idx"], n_files=1)
    ctx.check(lambda: res.rows_appended == res.keys_deleted == len(rows),
              f"upsert counts {res.rows_appended}/{res.keys_deleted} != {len(rows)}")
    after_write(len(rows))

    ks = keys()
    n = table.scan([("conv_id", "in", ks)]).count()
    with rec.op("update"):
        res = run_sql(cat, f"UPDATE {name} SET tool = 'edited' "
                           f"WHERE conv_id IN ({_in_list(ks)})")
    ctx.check(lambda: res.rows_updated == n, f"update count {res.rows_updated} != {n}")
    after_write(n)

    total = table.scan().count() if ctx.verify else 0
    gone = []  # (predicate, rows it matched) of each DELETE
    for kind, mode in (("delete_mor", "merge-on-read"),
                       ("delete_cow", "copy-on-write")):
        table.set_property("write.delete.mode", mode)
        ks = keys()
        pred = [("conv_id", "in", ks)]
        n = table.scan(pred).count()
        with rec.op(kind):
            res = run_sql(cat, f"DELETE FROM {name} WHERE conv_id IN ({_in_list(ks)})")
        gone.append((pred, n))
        if res.rows_deleted != n:
            ctx.miscounts.append(f"{kind} reported {res.rows_deleted} of {n} rows")
        after_write(n)
    ctx.check(lambda: all(table.scan(p).count() == 0 for p, _ in gone)
              and table.scan().count() == total - sum(n for _, n in gone),
              "the DELETEs did not remove exactly the rows they matched")
    rec.add("rowwrite", sum(rec.samples[k][done[k]] for k in kinds))


# ------------------------------------------------------------- workloads
# Each workload is a cycle run at two sizes. The warm-up runs one small
# cycle, untimed and unchecked, so that every code path the measured cycles
# take (the first parquet write, the clustering rewrite, the Hilbert UDF's
# Python workers, reads, expiry) has been through the JIT before timing
# starts; its wall time is part of setup_s. Measured cycles then repeat
# until the run's seconds have passed, and every metric is a median over
# all of them. A traced run then adds one round of row-level writes on the
# last cycle's table, for their per-layer numbers and output checks: a
# round costs a cycle's time, and one sample a run is too few to gate on.

def _retire(ctx: Ctx, table: Table, pool: list[str]) -> None:
    """Keep only the newest table on disk, with the keys that the row-level
    writes may pick from; it is the one space_amp measures."""
    if ctx.last_table is not None:
        shutil.rmtree(ctx.last_table.location, ignore_errors=True)
    ctx.last_table = table.refresh()
    ctx.pool = pool


def _tail_batch(ctx: Ctx, tag: str, seed: int) -> DataFrame:
    return (generate_transcripts(ctx.spark, 40, seed=seed, hot_convs=0, span_days=2)
            .withColumn("conv_id", F.concat("conv_id", F.lit(f"-{tag}"))))


def _maintain(ctx: Ctx, n_convs: int, hot_convs: int, reads: int = 4,
              appends: int = 4) -> None:
    seed = ctx.seed * 1000 + ctx.n_tables
    t0 = time.perf_counter()
    table = ctx.catalog.create_table(ctx.new_name(), schema(), SPEC,
                                     properties=MAINTAINED_PROPS)
    table.append(generate_transcripts(ctx.spark, n_convs, seed=seed,
                                      hot_convs=hot_convs, hot_turns=HOT_TURNS,
                                      span_days=4), n_files=8)
    ctx.builds.append(time.perf_counter() - t0)
    ctx.acct.ingest(table)
    compact_cluster(ctx, table)
    # row-level writes touch tail conversations: a hot one is a table rewrite
    pool = [f"conv-{i:010d}" for i in range(hot_convs, n_convs)]
    # reads run on the maintained snapshot, pinned, in two bursts, before
    # and after the appends
    snap = table.refresh().meta.current_snapshot_id
    point_read(ctx, table, ctx.rng.choice(pool), snapshot_id=snap, verify=True)
    # the range bound is the table's median ts, so each read counts half the
    # rows whatever the seed put in the hot conversations
    since = table.scan().agg(F.percentile_approx("ts", 0.5)).first()[0]

    def reads_burst() -> None:
        for _ in range(reads):
            point_read(ctx, table, ctx.rng.choice(pool), snapshot_id=snap)
        for _ in range(reads // 2):
            range_read(ctx, table, since, snapshot_id=snap)

    reads_burst()
    for i in range(appends):
        append(ctx, table, _tail_batch(ctx, f"a{i}", seed + i), n_files=4)
    reads_burst()
    expire(ctx, table.refresh())
    _retire(ctx, table, pool)


def maintain_warmup(ctx: Ctx) -> None:
    _maintain(ctx, n_convs=200, hot_convs=1, reads=2, appends=1)


def maintain_cycle(ctx: Ctx) -> None:
    _maintain(ctx, MAINTAIN_CONVS, MAINTAIN_HOT)


def _trickle_batch(ctx: Ctx, i: int) -> DataFrame:
    """Micro-batch i of the current table: new conversations, two hours
    after batch i-1."""
    seed = ctx.seed * 100003 + ctx.n_tables * 1000 + i
    return (generate_transcripts(ctx.spark, TRICKLE_CONVS, seed=seed,
                                 hot_convs=0, span_days=1)
            .withColumn("conv_id", F.concat("conv_id", F.lit(f"-b{i:04d}")))
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {2 * i} HOURS")))


def _trickle_table(ctx: Ctx) -> Table:
    t0 = time.perf_counter()
    table = ctx.catalog.create_table(ctx.new_name(), schema(), SPEC,
                                     properties=TRICKLE_PROPS,
                                     cluster_keys=["conv_id", "ts"])
    ctx.builds.append(time.perf_counter() - t0)
    return table


def _trickle(ctx: Ctx, commits: int) -> None:
    table = _trickle_table(ctx)
    batches, pool = [], []
    for i in range(commits):
        batches.append(_trickle_batch(ctx, i))
        append(ctx, table, batches[-1], n_files=4)
        pool += [f"conv-{c:010d}-b{i:04d}" for c in range(TRICKLE_CONVS)]
        point_read(ctx, table, ctx.rng.choice(pool))
        range_read(ctx, table, BASE + datetime.timedelta(hours=2 * i - 6))
    point_read(ctx, table, ctx.rng.choice(pool), verify=True)
    turns = live_turns(table)
    # bin-pack the micro-batch files, then the managed pass: with cluster
    # keys declared it clusters (Hilbert) instead of compacting
    expire_s: list[float] = []
    with clocked(ExpireSnapshotsJob, "run", expire_s):
        with ctx.rec.op("maintain"):
            packed = CompactionJob(table, max_concurrency=CPUS).run()
            res = run_maintenance(table, max_concurrency=CPUS)
    ctx.rec.add("maint_turns_per_s",
                turns / (packed.elapsed_sec + res.clustering.elapsed_sec))
    ctx.rec.add("expire_gc", expire_s[0])
    ctx.acct.rewrite(table)
    ctx.check(lambda: fingerprint(table.scan()) == fingerprint(
        functools.reduce(DataFrame.unionByName, batches)),
        "fingerprint of appended batches != fingerprint after MAINTAIN")
    ctx.check(lambda: reachable_files_exist(table), "GC removed a reachable file")
    _retire(ctx, table, pool)


def trickle_warmup(ctx: Ctx) -> None:
    _trickle(ctx, commits=4)


def trickle_cycle(ctx: Ctx) -> None:
    _trickle(ctx, TRICKLE_COMMITS)


WORKLOADS = {
    "maintain": (maintain_warmup, maintain_cycle),
    "trickle": (trickle_warmup, trickle_cycle),
}


def measure(ctx: Ctx, cycle, rowwrites: bool) -> None:
    """Run ``cycle`` until ``ctx.seconds`` have passed, at least
    ``MIN_CYCLES`` times, then, if ``rowwrites``, one round of row-level
    writes."""
    t0 = time.perf_counter()
    n = 0
    while n < MIN_CYCLES or time.perf_counter() - t0 < ctx.seconds:
        cycle(ctx)
        n += 1
    ctx.space_amp = space_amp(ctx.last_table)
    if rowwrites:
        dml_round(ctx, ctx.name_of(ctx.last_table), ctx.pool)
        ctx.last_table.refresh()


def run_workload(spark, warehouse: str, workload: str, seed: int, seconds: int,
                 tracer=None, rowwrites: bool | None = None) -> tuple[Ctx, float]:
    """Warm-up, then the measured cycles, traced when ``tracer`` is given,
    then the row-level round if ``rowwrites`` (default: when traced).
    Returns the context (samples, checks, tables) and the warm-up seconds."""
    if rowwrites is None:
        rowwrites = tracer is not None
    catalog = Catalog(spark, warehouse)
    catalog.create_database(DB)
    ctx = Ctx(spark, catalog, Recorder(), seed, seconds, random.Random(seed))
    warmup, cycle = WORKLOADS[workload]
    ctx.verify = False
    t0 = time.perf_counter()
    warmup(ctx)
    warm_s = time.perf_counter() - t0
    ctx.verify = True
    ctx.builds.clear()
    ctx.rec = Recorder()
    ctx.acct = ByteLedger()
    if tracer is None:
        measure(ctx, cycle, rowwrites)
        return ctx, warm_s
    tracer.install()
    ctx.rec.tracer = tracer
    try:
        measure(ctx, cycle, rowwrites)
    finally:
        tracer.uninstall()
    return ctx, warm_s
