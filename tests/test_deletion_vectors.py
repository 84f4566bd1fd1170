"""Merge-on-read DELETE (positional deletion vectors): marking instead of
rewriting, scan application, CoW/MoR parity, DV folding + retirement through
maintenance rewrites, snapshot isolation, GC lifecycle."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, bucket, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import ClusteringJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import DeleteJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import ExpireSnapshotsJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.merge import MergeIntoJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.update import UpdateJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.upsert import upsert
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)


def make_table(spark, loc, df, **props):
    t = Table.create(
        spark, loc, T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts"), bucket("cb", "conv_id", 2)),
        properties={
            "write.target-file-size-bytes": str(512 * 1024),
            "stats.columns": "conv_id,turn_idx,role,tool,ts",
            **props,
        },
    )
    t.append(df, n_files=2, sort_within=("conv_id", "turn_idx"))
    return t


@pytest.fixture()
def dv_table(spark, tmp_table_dir):
    df = generate_transcripts(spark, n_convs=60, hot_convs=1, hot_turns=100,
                              span_days=5)
    return make_table(spark, tmp_table_dir, df), df.cache()


def turns(df):
    return sorted(tuple(r) for r in df.select("conv_id", "turn_idx").collect())


def test_mor_delete_marks_without_rewriting(spark, dv_table):
    t, df = dv_table
    files_before = {f.path for f in t.live_data_files()}
    res = DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    assert res.mode == "merge-on-read"
    assert res.rows_deleted == df.filter(F.col("role") == "user").count()
    assert res.files_rewritten == 0 and res.delete_files_written >= 1
    # data files untouched on disk AND in the manifest
    assert {f.path for f in t.live_data_files()} == files_before
    assert len(t.live_delete_files()) == res.delete_files_written
    after = t.scan()
    assert after.filter(F.col("role") == "user").count() == 0
    assert turns(after) == turns(df.filter(F.col("role") != "user"))


def test_mor_matches_cow_results(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=40, hot_convs=1, hot_turns=60,
                              span_days=4).cache()
    preds = [("role", "=", "tool"), ("turn_idx", ">=", 2)]
    t_cow = make_table(spark, str(tmp_path / "cow"), df)
    t_mor = make_table(spark, str(tmp_path / "mor"), df)
    r_cow = DeleteJob(t_cow, preds, mode="copy-on-write").run()
    r_mor = DeleteJob(t_mor, preds, mode="merge-on-read").run()
    assert r_cow.rows_deleted == r_mor.rows_deleted
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert sorted(map(tuple, t_cow.scan(columns=cols).collect())) == \
           sorted(map(tuple, t_mor.scan(columns=cols).collect()))


def test_mor_deletes_stack_disjointly(spark, dv_table):
    """A second MoR delete never re-marks rows an earlier DV already
    deleted — rows_deleted stays additive and exact."""
    t, df = dv_table
    r1 = DeleteJob(t, [("turn_idx", "<", 5)], mode="merge-on-read").run()
    # overlapping predicate: turn_idx < 5 AND role=user rows already gone
    r2 = DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    gone1 = df.filter(F.col("turn_idx") < 5).count()
    gone2 = df.filter((F.col("role") == "user") & ~(F.col("turn_idx") < 5)).count()
    assert r1.rows_deleted == gone1
    assert r2.rows_deleted == gone2
    assert t.scan().count() == df.count() - gone1 - gone2


def test_mor_day_drop_still_metadata_only(spark, dv_table):
    t, df = dv_table
    import datetime
    cutoff = "2025-01-03 00:00:00"
    res = DeleteJob(t, [("ts", "<", cutoff)], mode="merge-on-read").run()
    assert res.files_dropped > 0 and res.delete_files_written == 0
    expected = df.filter(~(F.col("ts") < F.lit(datetime.datetime(2025, 1, 3))))
    assert res.rows_deleted == df.count() - expected.count()
    assert turns(t.scan()) == turns(expected)


def test_compaction_folds_and_retires_dvs(spark, dv_table):
    t, df = dv_table
    DeleteJob(t, [("role", "=", "system")], mode="merge-on-read").run()
    assert len(t.live_delete_files()) >= 1
    dv_paths = [d.path for d in t.live_delete_files()]
    CompactionJob(t, max_concurrency=4).run()
    # every DV was folded into the rewrite and retired from the manifest
    assert t.live_delete_files() == []
    after = t.scan()
    assert turns(after) == turns(df.filter(F.col("role") != "system"))
    # after expire+GC the DV parquet files are physically gone
    ExpireSnapshotsJob(t, keep_last=1).run()
    assert all(not os.path.exists(p) for p in dv_paths)


def test_clustering_folds_dvs(spark, dv_table):
    t, df = dv_table
    DeleteJob(t, [("turn_idx", "=", 1)], mode="merge-on-read").run()
    ClusteringJob(t, curve="zorder", max_concurrency=4).run()
    assert t.live_delete_files() == []
    assert turns(t.scan()) == turns(df.filter(F.col("turn_idx") != 1))


def test_merge_applies_outstanding_dvs(spark, dv_table):
    """MERGE over files with outstanding DVs must not resurrect deleted rows,
    and its metrics must count live rows only."""
    t, df = dv_table
    DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    conv = df.select("conv_id").distinct().orderBy("conv_id").collect()[3][0]
    src = (df.filter((F.col("conv_id") == conv) & (F.col("role") == "assistant"))
             .withColumn("text", F.concat(F.lit("fix:"), "text")).cache())
    res = MergeIntoJob(t).run(src)
    assert res.rows_updated == src.count()
    after = t.scan()
    assert after.filter(F.col("role") == "user").count() == 0
    assert after.count() == df.filter(F.col("role") != "user").count()
    assert after.filter(F.col("text").startswith("fix:")).count() == src.count()


def test_update_applies_outstanding_dvs(spark, dv_table):
    t, df = dv_table
    DeleteJob(t, [("role", "=", "tool")], mode="merge-on-read").run()
    res = UpdateJob(t, [("role", "=", "tool")], {"text": "'zombie'"}).run()
    # every role=tool row is already deleted: nothing to update, nothing back
    assert res.rows_updated == 0
    assert t.scan().filter(F.col("text") == "zombie").count() == 0
    assert t.scan().filter(F.col("role") == "tool").count() == 0


def test_mor_snapshot_isolation_and_time_travel(spark, dv_table):
    t, df = dv_table
    pinned = t.current_snapshot().snapshot_id
    DeleteJob(t, [("role", "=", "assistant")], mode="merge-on-read").run()
    assert t.scan(snapshot_id=pinned).count() == df.count()
    assert t.scan().count() == df.filter(F.col("role") != "assistant").count()


def test_delete_mode_table_property(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=20, hot_convs=0, span_days=3)
    t = make_table(spark, str(tmp_path / "p"), df,
                   **{"write.delete.mode": "merge-on-read"})
    res = DeleteJob(t, [("role", "=", "user")]).run()
    assert res.mode == "merge-on-read"
    assert res.files_rewritten == 0


def test_gc_never_deletes_live_dv_files(spark, dv_table):
    t, df = dv_table
    DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    dv_paths = [d.path for d in t.live_delete_files()]
    assert dv_paths
    ExpireSnapshotsJob(t, keep_last=1).run()
    assert all(os.path.exists(p) for p in dv_paths)
    assert turns(t.scan()) == turns(df.filter(F.col("role") != "user"))


def test_compaction_rewrites_delete_dirty_large_files(spark, tmp_table_dir):
    """Iceberg rewrite_data_files delete-file-threshold analogue: a file of
    ANY size whose DV mask covers >= delete_ratio_threshold of its rows is
    rewritten (even alone), which folds the deletes in and lets the commit
    retire the stale DV files. Light debt stays merge-on-read."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import (
        plan_compaction,
    )

    df = generate_transcripts(spark, n_convs=200, hot_convs=1, hot_turns=100,
                              span_days=2)
    # clip the spillover day so every partition's files land "large"
    df = df.filter(F.col("ts") < F.lit("2025-01-03").cast("timestamp")).cache()
    target = 8 * 1024  # every data file lands well above 0.75*8KB -> "large"
    t = Table.create(
        spark, tmp_table_dir, T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts")),
        properties={"write.target-file-size-bytes": str(target),
                    "stats.columns": "conv_id,turn_idx,role,ts"},
    )
    t.append(df, n_files=2, sort_within=("conv_id", "turn_idx"))
    assert all(f.file_size_bytes >= int(target * 0.75)
               for f in t.live_data_files())
    # no DVs yet: nothing small, nothing dirty -> no plans
    assert plan_compaction(t, target_file_size=target) == []

    # role='user' is exactly every 4th turn -> ~25% of EVERY file
    DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    assert t.live_delete_files()

    # light-debt guard: 25% masked < 50% threshold -> still no rewrite
    assert plan_compaction(t, target_file_size=target,
                           delete_ratio_threshold=0.5) == []
    # heavy-debt: 25% masked >= 10% threshold -> every file is a candidate
    plans = plan_compaction(t, target_file_size=target,
                            delete_ratio_threshold=0.1)
    assert {f.path for p in plans for f in p.input_files} == {
        f.path for f in t.live_data_files()}

    want = turns(df.filter(F.col("role") != "user"))
    res = CompactionJob(t, target_file_size=target,
                        delete_ratio_threshold=0.1).run()
    assert res.files_in > 0
    t.refresh()
    # DVs folded into the rewritten files and retired from the manifest
    assert t.live_delete_files() == []
    assert turns(t.scan()) == want


def test_rewrite_deletes_coalesces_and_prunes(spark, tmp_table_dir):
    """REWRITE DELETES: many small DV files -> few; delete rows pointing at
    since-removed data files are dropped; scans unchanged throughout."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.rewrite_deletes import (
        RewriteDeletesJob,
    )

    df = generate_transcripts(spark, n_convs=60, hot_convs=1, hot_turns=100,
                              span_days=5)
    t = make_table(spark, tmp_table_dir, df)
    # three separate MOR deletes -> three DV batches
    DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    DeleteJob(t, [("role", "=", "system")], mode="merge-on-read").run()
    DeleteJob(t, [("turn_idx", "=", 3)], mode="merge-on-read").run()
    dels0 = t.live_delete_files()
    assert len(dels0) >= 3
    rows0 = sum(d.record_count for d in dels0)
    want = turns(t.scan())

    res = RewriteDeletesJob(t).run()
    t.refresh()
    assert res.dv_files_in == len(dels0)
    assert res.dv_files_out < res.dv_files_in
    assert res.rows_out == rows0  # nothing dangling yet
    assert turns(t.scan()) == want

    # drop a whole day's files metadata-only: DV rows covering them dangle
    cutoff = "2025-01-02 00:00:00"
    DeleteJob(t, [("ts", "<", cutoff)], mode="copy-on-write").run()
    t.refresh()
    if not t.live_delete_files():
        return  # every DV happened to be fully retired by the drop
    want2 = turns(t.scan())
    res2 = RewriteDeletesJob(t, min_input_files=1).run()
    t.refresh()
    assert res2.rows_out < res2.rows_in  # dangling rows pruned
    assert turns(t.scan()) == want2


def test_maintain_triggers_rewrite_deletes(spark, tmp_table_dir):
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.maintain import (
        run_maintenance,
    )

    df = generate_transcripts(spark, n_convs=40, hot_convs=0, span_days=3)
    t = make_table(spark, tmp_table_dir, df,
                   **{"maintenance.rewrite-deletes.max-count": "2",
                      "maintenance.expire.keep-last": "0"})
    for role in ("user", "system", "tool"):
        DeleteJob(t, [("role", "=", role)], mode="merge-on-read").run()
    assert len(t.live_delete_files()) > 2
    want = turns(t.scan())
    res = run_maintenance(t)
    t.refresh()
    assert res.rewrite_deletes is not None
    assert len(t.live_delete_files()) <= 2
    assert turns(t.scan()) == want


def test_cluster_after_mor_delete_masks_entire_partition(spark, tmp_path):
    """A MOR delete that masks EVERY row of a partition must let a later
    full rewrite commit zero output files for it (regression: the rewrite
    harvest used to raise 'produced no files')."""
    df = generate_transcripts(spark, n_convs=12, hot_convs=1, hot_turns=60,
                              span_days=3, seed=91).cache()
    t = make_table(spark, str(tmp_path / "t"), df)
    hot = df.select("conv_id").first()["conv_id"]
    DeleteJob(t, [("conv_id", "=", hot)], mode="merge-on-read").run()
    before = sorted(tuple(r) for r in t.scan().collect())
    ClusteringJob(t, curve="zorder", max_concurrency=4).run()
    assert sorted(tuple(r) for r in t.scan().collect()) == before
    assert t.scan().filter(F.col("conv_id") == hot).count() == 0


def mask_rows(t, prior, convs):
    """Hide rows of ``convs`` from scans without rewriting their files: a
    merge-on-read DELETE of the first three conversations (positional
    deletes), or an UPSERT of five turns of the second (an equality delete
    over the old rows; the new rows land in a new file)."""
    if prior == "mor-delete":
        DeleteJob(t, [("conv_id", "in", convs[:3])], mode="merge-on-read").run()
    else:
        batch = (t.scan([("conv_id", "=", convs[1])])
                 .orderBy("turn_idx").limit(5)
                 .withColumn("text", F.lit("upserted")))
        upsert(t, batch, ["conv_id", "turn_idx"], n_files=1)


def first_convs(df, n=6):
    return [r[0] for r in df.select("conv_id").distinct()
            .orderBy("conv_id").limit(n).collect()]


@pytest.mark.parametrize("scope", ["straddling", "dropped-whole"])
@pytest.mark.parametrize("prior", ["mor-delete", "upsert"])
def test_cow_delete_counts_only_rows_it_removes(spark, dv_table, prior, scope):
    """Copy-on-write ``rows_deleted`` equals the rows that leave the scan,
    also when earlier delete files already mask some matched rows — in the
    files the DELETE rewrites and in the files it drops whole."""
    t, df = dv_table
    convs = first_convs(df)
    mask_rows(t, prior, convs)
    # day 1 holds all of the second conversation, so both kinds of masks
    # fall in files this predicate drops whole
    preds = ([("conv_id", "in", convs)] if scope == "straddling"
             else [("ts", "<", datetime.datetime(2025, 1, 2))])
    before = t.scan().count()
    res = DeleteJob(t, preds, mode="copy-on-write").run()
    if scope == "straddling":
        assert res.files_rewritten > 0
    else:
        assert res.files_dropped > 0 and res.files_rewritten == 0
    assert res.rows_deleted == before - t.scan().count()


@pytest.mark.parametrize("prior", ["mor-delete", "upsert"])
def test_update_counts_exclude_masked_rows(spark, dv_table, prior):
    """UPDATE counts only live rows: updated = the matches a scan sees,
    copied = the rest of what it rewrote; rows masked by positional or
    equality deletes count in neither."""
    t, df = dv_table
    convs = first_convs(df)
    mask_rows(t, prior, convs)
    n = t.scan([("conv_id", "in", convs)]).count()
    before = {f.path for f in t.live_data_files()}
    res = UpdateJob(t, [("conv_id", "in", convs)], {"tool": "'edited'"}).run()
    written = sum(f.record_count for f in t.live_data_files()
                  if f.path not in before)
    assert res.rows_updated == n
    assert res.rows_copied == written - n
