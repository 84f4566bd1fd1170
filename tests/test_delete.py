"""DELETE FROM ... WHERE: three-way file classification (untouched /
metadata-only whole-file drop / partial rewrite), SQL NULL semantics,
snapshot isolation, ledger lineage."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, bucket, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import DeleteJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)


@pytest.fixture()
def delete_table(spark, tmp_table_dir):
    df = generate_transcripts(spark, n_convs=80, hot_convs=1, hot_turns=150,
                              span_days=8)
    t = Table.create(
        spark, tmp_table_dir, T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts"), bucket("conv_bucket", "conv_id", 2)),
        properties={
            "write.target-file-size-bytes": str(512 * 1024),
            "stats.columns": "conv_id,turn_idx,role,tool,ts",
        },
    )
    t.append(df, n_files=2, sort_within=("conv_id", "turn_idx"))
    return t, df.cache()


def turns(df):
    return sorted(tuple(r) for r in df.select("conv_id", "turn_idx").collect())


def test_delete_old_days_is_metadata_only(spark, delete_table):
    """A day-aligned retention delete drops whole files from the manifest
    without reading or rewriting any data (case 2 of the classifier)."""
    t, df = delete_table
    cutoff = datetime.datetime(2025, 1, 4)
    res = DeleteJob(t, [("ts", "<", cutoff)]).run()
    assert res.files_dropped > 0
    assert res.files_rewritten == 0 and res.files_written == 0
    expected = df.filter(~(F.col("ts") < F.lit(cutoff)))
    assert res.rows_deleted == df.count() - expected.count()
    assert turns(t.scan()) == turns(expected)


@pytest.mark.parametrize("optimize_write", [None, "true"],
                         ids=["unset", "optimize-write"])
def test_delete_predicate_straddling_files_rewrites_only_those(
        spark, delete_table, optimize_write):
    """The in-write row count stays exact when an optimized write puts a
    range exchange (and its sampling job) in front of the write."""
    t, df = delete_table
    if optimize_write:
        t.set_property("write.optimize-write.enabled", optimize_write)
    res = DeleteJob(t, [("role", "=", "tool")]).run()
    assert res.rows_deleted == df.filter(F.col("role") == "tool").count()
    assert turns(t.scan()) == turns(df.filter(F.col("role") != "tool"))
    # every surviving row really lost its role='tool' turns
    assert t.scan().filter(F.col("role") == "tool").count() == 0


def test_delete_single_conv_leaves_most_files_untouched(spark, delete_table):
    """Equality on the clustered key prunes write-side: the blast radius is
    the key's file neighborhood, not the table."""
    t, df = delete_table
    conv = df.select("conv_id").distinct().orderBy("conv_id").collect()[5][0]
    res = DeleteJob(t, [("conv_id", "=", conv)]).run()
    assert res.files_untouched > 0
    assert res.files_rewritten + res.files_dropped < res.files_total
    assert t.scan().filter(F.col("conv_id") == conv).count() == 0
    assert t.scan().count() == df.filter(F.col("conv_id") != conv).count()


def test_delete_null_semantics_keeps_unknown_rows(spark, delete_table):
    """DELETE WHERE tool = 'x' must keep rows where tool IS NULL (predicate
    UNKNOWN), exactly like Spark/Delta DELETE."""
    t, df = delete_table
    target = df.select("tool").filter(F.col("tool").isNotNull()) \
               .distinct().orderBy("tool").collect()[0][0]
    null_rows = df.filter(F.col("tool").isNull()).count()
    assert null_rows > 0
    res = DeleteJob(t, [("tool", "=", target)]).run()
    assert res.rows_deleted == df.filter(F.col("tool") == target).count()
    after = t.scan()
    assert after.filter(F.col("tool").isNull()).count() == null_rows
    assert after.filter(F.col("tool") == target).count() == 0


def test_delete_isnull_predicate(spark, delete_table):
    t, df = delete_table
    res = DeleteJob(t, [("tool", "isnull", None)]).run()
    assert res.rows_deleted == df.filter(F.col("tool").isNull()).count()
    assert t.scan().filter(F.col("tool").isNull()).count() == 0


def test_delete_no_match_is_a_noop(spark, delete_table):
    t, _ = delete_table
    before = t.current_snapshot().snapshot_id
    res = DeleteJob(t, [("conv_id", "=", "conv-zzz-missing")]).run()
    assert res.snapshot_id is None and res.rows_deleted == 0
    t.refresh()
    assert t.current_snapshot().snapshot_id == before


def test_delete_snapshot_isolation(spark, delete_table):
    """A reader pinned to the pre-delete snapshot still sees every row."""
    t, df = delete_table
    pinned = t.current_snapshot().snapshot_id
    DeleteJob(t, [("role", "=", "user")]).run()
    assert t.scan(snapshot_id=pinned).count() == df.count()
    assert t.scan().count() == df.filter(F.col("role") != "user").count()


def test_delete_conjunction(spark, delete_table):
    t, df = delete_table
    cutoff = datetime.datetime(2025, 1, 5)
    res = DeleteJob(t, [("role", "=", "assistant"), ("ts", ">=", cutoff)]).run()
    gone = df.filter((F.col("role") == "assistant") & (F.col("ts") >= F.lit(cutoff)))
    assert res.rows_deleted == gone.count()
    assert t.scan().count() == df.count() - gone.count()


def test_cow_rewrite_plan_is_map_only(spark, delete_table):
    """The copy-on-write rewrite must not exchange surviving rows: scan ->
    filter -> local sort -> write, no ShuffleExchange in the physical plan.
    (The old shape repartitioned every surviving row to hit an output count;
    at 100 TB that shuffled whole partitions just to re-pack files.)"""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.ledger import (
        split_size_for_rewrites,
    )

    t, df = delete_table
    job = DeleteJob(t, [("role", "=", "tool"), ("turn_idx", "<", 6)])
    _untouched, _dropped, rewrite = job.classify()
    assert rewrite, "fixture must produce straddling files"
    hit = F.coalesce(t._residual(job.predicates), F.lit(False))
    with split_size_for_rewrites(spark, 512 * 1024):
        tagged = t.read_data_files(rewrite).withColumn("_hit", hit)
        # the frame the rewrite builds for n_files=None: tag, count the
        # matches in the write pass, drop them, sort locally
        staged = (t.spec.with_partition_columns(tagged)
                  .observe(Observation(), F.count_if("_hit").alias("n"))
                  .filter(~F.col("_hit")).drop("_hit")
                  .sortWithinPartitions(*(t.spec.column_names + job.sort_keys)))
        plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # and the executed job produces the same survivors as a full-table filter
    before = turns(df.filter(~((F.col("role") == "tool") & (F.col("turn_idx") < 6))))
    res = job.run()
    assert res.rows_deleted > 0
    assert turns(t.scan()) == before
