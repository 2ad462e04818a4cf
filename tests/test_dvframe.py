"""Strategy equivalence for the DV positions frame (r15 optimization):
the driver-decode+broadcast path and the executor-decode path must
subtract exactly the same rows — the threshold only changes the plan,
never the result."""

import pytest
from pyspark.sql import functions as F

from pipeline_spark.functions.dvframe import positions_frame, total_rows_of
from pipeline_spark.sinks.delta_native import (
    delete_delta_native,
    write_delta_native,
)
from pipeline_spark.sinks.iceberg_native import (
    delete_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import read_iceberg_native


def test_total_rows_of():
    assert total_rows_of([3, 4]) == 7
    assert total_rows_of([]) == 0
    assert total_rows_of([3, None]) is None


def test_positions_frame_both_strategies_agree(spark):
    entries = [("f1", "[0, 2]"), ("f2", "[5]")]

    def decode(it):
        import json

        for fp, pj in it:
            for pos in json.loads(pj):
                yield (fp, int(pos))

    small, is_small = positions_frame(
        spark, entries, decode, "fp string, pos long", total_rows=3)
    large, is_large = positions_frame(
        spark, entries, decode, "fp string, pos long", total_rows=10**9)
    assert is_small and not is_large
    assert sorted(map(tuple, small.collect())) == \
        sorted(map(tuple, large.collect())) == \
        [("f1", 0), ("f1", 2), ("f2", 5)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_dv_read_identical_across_threshold(spark, tmp_path, monkeypatch, fmt):
    t = str(tmp_path / f"t_{fmt}")
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    if fmt == "delta":
        write_delta_native(spark, df, {
            "path": t,
            "properties": {"delta.enableDeletionVectors": "true"}})
        delete_delta_native(spark, {
            "path": t, "method": "dv",
            "where": [{"key": "id", "op": "<", "value": 60}]})
        read = lambda: read_delta_native(spark, {"path": t})
    else:
        write_iceberg_native(df, {"path": t, "formatVersion": 3})
        delete_iceberg_native(spark, {
            "path": t, "method": "dv",
            "where": [{"key": "id", "op": "<", "value": 60}]})
        read = lambda: read_iceberg_native(spark, {"path": t})

    driver_rows = sorted(map(tuple, read().collect()))
    monkeypatch.setenv("SPARK_GRAFT_DV_DRIVER_MAX", "0")
    exec_rows = sorted(map(tuple, read().collect()))
    assert driver_rows == exec_rows
    assert len(driver_rows) == 140


def test_delta_dv_build_distributed_matches_driver(
    spark, tmp_path, monkeypatch
):
    """The DV *write* side has the same gate: stats-bounded small
    mutations build vectors on the driver, large ones through
    applyInPandas — the table state must be identical either way."""
    def run(env_max):
        t = str(tmp_path / f"t_{env_max}")
        if env_max is not None:
            monkeypatch.setenv("SPARK_GRAFT_DV_DRIVER_MAX", env_max)
        else:
            monkeypatch.delenv("SPARK_GRAFT_DV_DRIVER_MAX", raising=False)
        write_delta_native(
            spark, spark.range(300).select(
                F.col("id"), (F.col("id") * 2).alias("v")),
            {"path": t,
             "properties": {"delta.enableDeletionVectors": "true"}})
        delete_delta_native(spark, {
            "path": t, "method": "dv",
            "where": [{"key": "id", "op": "<", "value": 50}]})
        # second mutation exercises the prior-DV merge on both paths
        delete_delta_native(spark, {
            "path": t, "method": "dv",
            "where": [{"key": "id", "op": ">=", "value": 280}]})
        return sorted(
            map(tuple, read_delta_native(spark, {"path": t}).collect()))

    assert run(None) == run("0")


def test_positions_frame_path_engagement(spark):
    """r16 (VERDICT r15 ask #6): pin WHICH path each side of the gate
    takes, not just that values agree — the small side must be a local
    (no-job) frame, the large/unknown side an executor-decoded RDD."""
    entries = [("f1", "[0]")]

    def decode(it):
        import json as _j

        for fp, pj in it:
            for pos in _j.loads(pj):
                yield (fp, int(pos))

    small, is_small = positions_frame(
        spark, entries, decode, "fp string, pos long", total_rows=1)
    big, is_big = positions_frame(
        spark, entries, decode, "fp string, pos long",
        total_rows=10**9)
    unk, is_unk = positions_frame(
        spark, entries, decode, "fp string, pos long", total_rows=None)
    assert is_small and not is_big and not is_unk
    assert "LogicalRDD" not in (
        small._jdf.queryExecution().optimizedPlan().toString()
    )
    for frame in (big, unk):
        assert "LogicalRDD" in (
            frame._jdf.queryExecution().optimizedPlan().toString()
        )


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_dv_read_join_strategy_across_threshold(
    spark, tmp_path, monkeypatch, fmt
):
    """Above the gate the anti-join must run the executor path (no
    broadcast of a driver-decoded frame); below it, a broadcast
    anti-join with the positions frame local."""
    t = str(tmp_path / f"tj_{fmt}")
    df = spark.range(500).select(F.col("id"), (F.col("id") % 3).alias("k"))
    if fmt == "delta":
        write_delta_native(spark, df, {
            "path": t,
            "properties": {"delta.enableDeletionVectors": "true"}})
        delete_delta_native(spark, {
            "path": t, "method": "dv",
            "where": [{"key": "id", "op": "<", "value": 100}]})
        read = lambda: read_delta_native(spark, {"path": t})  # noqa: E731
    else:
        write_iceberg_native(df, {"path": t, "formatVersion": 3})
        delete_iceberg_native(spark, {
            "path": t, "method": "mor", "format": "puffin",
            "where": [{"key": "id", "op": "<", "value": 100}]})
        read = lambda: read_iceberg_native(spark, {"path": t})  # noqa: E731

    monkeypatch.delenv("SPARK_GRAFT_DV_DRIVER_MAX", raising=False)
    plan_small = read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small and "LeftAnti" in plan_small

    monkeypatch.setenv("SPARK_GRAFT_DV_DRIVER_MAX", "0")
    plan_big = read()._jdf.queryExecution().optimizedPlan().toString()
    # executor decode above the gate: the positions frame must be
    # RDD-backed, never a driver-built LocalRelation
    assert "LogicalRDD" in plan_big and "LocalRelation" not in plan_big
    assert sorted(map(tuple, read().collect())) == sorted(
        map(tuple, df.where("id >= 100").collect())
    )


def test_footer_stats_distributed_path_engages(spark, tmp_path, monkeypatch):
    """Scans above lakefiles.DRIVER_MAX must read footer stats through
    the distributed path — and produce the same stats the driver pool
    does."""
    from pipeline_spark.sinks import lakefiles

    src = spark.range(90).select(
        F.col("id"), (F.col("id") % 9).alias("part"))
    d = str(tmp_path / "files")
    src.repartition(9, "part").write.parquet(d)
    import glob

    paths = sorted(glob.glob(d + "/*.parquet"))
    assert len(paths) >= 3

    calls = {"parallelize": 0}
    orig = spark.sparkContext.parallelize

    def spy(*a, **k):
        calls["parallelize"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(spark.sparkContext, "parallelize", spy)

    monkeypatch.setattr(lakefiles, "DRIVER_MAX", 2)
    dist = lakefiles.scan(d, spark)
    assert calls["parallelize"] == 1  # the RDD job ran

    monkeypatch.setattr(lakefiles, "DRIVER_MAX", len(paths))
    calls["parallelize"] = 0
    drv = lakefiles.scan(d, spark)
    assert calls["parallelize"] == 0  # driver pool, no job

    assert dist == drv and len(dist) == len(paths)
    assert all(f.rows is not None for f in dist)  # every footer read
