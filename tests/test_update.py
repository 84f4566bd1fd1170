"""UPDATE ... SET ... WHERE: write-side pruning, old-row RHS semantics,
type preservation, NULL-predicate rows untouched, snapshot isolation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, bucket, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.update import UpdateJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)


def make_table(spark, loc, df):
    t = Table.create(
        spark, loc, T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts"), bucket("conv_bucket", "conv_id", 2)),
        properties={
            "write.target-file-size-bytes": str(512 * 1024),
            "stats.columns": "conv_id,turn_idx,role,tool,ts",
        },
    )
    t.append(df, n_files=2, sort_within=("conv_id", "turn_idx"))
    return t


def transcripts(spark):
    return generate_transcripts(spark, n_convs=60, hot_convs=1, hot_turns=100,
                                span_days=6)


@pytest.fixture()
def upd_table(spark, tmp_table_dir):
    df = transcripts(spark)
    return make_table(spark, tmp_table_dir, df), df.cache()


@pytest.mark.parametrize("optimize_write", [None, "true"],
                         ids=["unset", "optimize-write"])
def test_update_matched_rows_only(spark, upd_table, optimize_write):
    """The in-write counters stay exact when an optimized write puts a
    range exchange (and its sampling job) in front of the write."""
    t, df = upd_table
    if optimize_write:
        t.set_property("write.optimize-write.enabled", optimize_write)
    before = {f.path for f in t.live_data_files()}
    res = UpdateJob(t, [("role", "=", "tool")],
                    {"text": "concat('redacted:', text)"}).run()
    n_tool = df.filter(F.col("role") == "tool").count()
    assert res.rows_updated == n_tool
    assert res.rows_copied == sum(
        f.record_count for f in t.live_data_files()
        if f.path not in before) - n_tool
    after = t.scan()
    assert after.count() == df.count()
    assert after.filter(F.col("text").startswith("redacted:")).count() == n_tool
    assert after.filter(
        (F.col("role") == "tool") & ~F.col("text").startswith("redacted:")
    ).count() == 0


def test_update_rhs_sees_old_values_swap(spark, upd_table):
    """SET a = b, b = a swaps (every RHS evaluates against the OLD row)."""
    t, df = upd_table
    UpdateJob(t, [], {"role": "tool", "tool": "role"}).run()
    after = t.scan()
    # old role values are now in tool, and vice versa
    exp = sorted(tuple(r) for r in df.select(
        "conv_id", "turn_idx", F.col("tool").alias("role"),
        F.col("role").alias("tool")).collect())
    got = sorted(tuple(r) for r in after.select(
        "conv_id", "turn_idx", "role", "tool").collect())
    assert got == exp


def test_update_single_conv_prunes_write_side(spark, upd_table):
    t, df = upd_table
    conv = df.select("conv_id").distinct().orderBy("conv_id").collect()[7][0]
    res = UpdateJob(t, [("conv_id", "=", conv)], {"tool": "'patched'"}).run()
    assert res.files_untouched > 0
    assert res.rows_updated == df.filter(F.col("conv_id") == conv).count()
    after = t.scan()
    assert after.filter(F.col("tool") == "patched").count() == res.rows_updated


def test_update_null_predicate_rows_untouched(spark, upd_table):
    """tool = 'search' is UNKNOWN for tool IS NULL rows: they must not be
    updated even though their files are rewritten."""
    t, df = upd_table
    target = df.select("tool").filter(F.col("tool").isNotNull()) \
               .distinct().orderBy("tool").collect()[0][0]
    n_null = df.filter(F.col("tool").isNull()).count()
    res = UpdateJob(t, [("tool", "=", target)], {"role": "'patched'"}).run()
    assert res.rows_updated == df.filter(F.col("tool") == target).count()
    after = t.scan()
    assert after.filter(F.col("tool").isNull()).count() == n_null
    assert after.filter(
        F.col("tool").isNull() & (F.col("role") == "patched")).count() == 0


def test_update_cast_preserves_schema(spark, upd_table):
    t, _ = upd_table
    UpdateJob(t, [("role", "=", "user")], {"turn_idx": "turn_idx + 1000000"}).run()
    assert t.scan().schema["turn_idx"].dataType == T.IntegerType()
    assert t.scan().filter(F.col("turn_idx") >= 1000000).count() > 0


def test_update_unknown_column_rejected(spark, upd_table):
    t, _ = upd_table
    with pytest.raises(ValueError, match="unknown column"):
        UpdateJob(t, [], {"nope": "'x'"})


def test_update_no_match_is_noop(spark, upd_table):
    t, _ = upd_table
    before = t.current_snapshot().snapshot_id
    res = UpdateJob(t, [("conv_id", "=", "conv-none")], {"role": "'x'"}).run()
    assert res.snapshot_id is None and res.rows_updated == 0
    t.refresh()
    assert t.current_snapshot().snapshot_id == before


def test_update_snapshot_isolation(spark, upd_table):
    t, df = upd_table
    pinned = t.current_snapshot().snapshot_id
    UpdateJob(t, [("role", "=", "system")], {"text": "'gone'"}).run()
    old = t.scan(snapshot_id=pinned)
    assert old.filter(F.col("text") == "gone").count() == 0
    assert old.count() == df.count()


def test_update_and_delete_launch_the_same_spark_jobs(spark, tmp_path):
    """UPDATE takes its counters inside the write's own Spark job, like a
    copy-on-write DELETE: with the same straddling predicate on identical
    tables (no change feed, no constraints) both launch the same number of
    jobs."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import DeleteJob

    df = transcripts(spark).cache()
    pred = [("role", "=", "tool")]
    sc = spark.sparkContext
    jobs = {}
    for name, job in (
        ("delete", lambda t: DeleteJob(t, pred, mode="copy-on-write")),
        ("update", lambda t: UpdateJob(t, pred, {"tool": "'x'"})),
    ):
        t = make_table(spark, str(tmp_path / name), df)
        group = f"job-parity-{name}-{tmp_path.name}"
        sc.setJobGroup(group, name)
        try:
            res = job(t).run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.files_rewritten > 0
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["update"] == jobs["delete"] > 0
