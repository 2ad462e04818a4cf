"""UniForm-style continuous format sync (r10, delta-spark's
``delta.universalFormat.enabledFormats=iceberg``): every delta commit
on an enabled table regenerates the iceberg metadata over the SAME
data files, so iceberg readers always see the current table — one data
copy, two protocol surfaces.  Per-commit cost is pure metadata (bounds
from add.stats, no footer reads)."""

import os

from pipeline_spark.sinks.delta_native import (
    compact_delta_native,
    delete_delta_native,
    update_delta_native,
    write_delta_native,
)
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import read_iceberg_native
import pytest

UF = {"delta.universalFormat.enabledFormats": "iceberg"}


def _both(spark, tbl):
    d = sorted(
        (r["id"], r["v"])
        for r in read_delta_native(spark, {"path": tbl}).collect()
    )
    i = sorted(
        (r["id"], r["v"])
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )
    return d, i


def test_create_and_append_sync(spark, tmp_path):
    tbl = str(tmp_path / "uf1")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(UF)},
    )
    # iceberg metadata exists from commit ZERO
    d, i = _both(spark, tbl)
    assert d == i and len(d) == 6
    write_delta_native(
        spark, spark.createDataFrame([(6, "x")], "id long, v string"),
        {"path": tbl, "mode": "append"},
    )
    d, i = _both(spark, tbl)
    assert d == i and len(d) == 7


def test_dml_syncs(spark, tmp_path):
    tbl = str(tmp_path / "uf2")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).coalesce(1),
        {"path": tbl,
         "properties": {**UF, "delta.enableDeletionVectors": "true"}},
    )
    delete_delta_native(spark, {
        "path": tbl, "method": "dv",
        "where": [{"key": "id", "op": "<", "value": 3}],
    })
    d, i = _both(spark, tbl)
    assert d == i == [(x, f"v{x}") for x in range(3, 10)]
    update_delta_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 5}],
        "set": {"v": "'FIVE'"},
    })
    d, i = _both(spark, tbl)
    assert d == i and dict(d)[5] == "FIVE"
    compact_delta_native(spark, {"path": tbl, "minFilesPerGroup": 1})
    d, i = _both(spark, tbl)
    assert d == i and len(d) == 7


def test_partitioned_cm_table_syncs(spark, tmp_path):
    tbl = str(tmp_path / "uf3")
    rows = [(i, f"v{i}", i % 2) for i in range(8)]
    write_delta_native(
        spark,
        spark.createDataFrame(rows, "id long, v string, par long"),
        {"path": tbl, "partitionBy": ["par"],
         "properties": {**UF, "delta.columnMapping.mode": "name"}},
    )
    got = sorted(
        (r["id"], r["v"], r["par"])
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )
    assert got == sorted(rows)
    # iceberg-side partition pruning works off the synced records
    pruned = read_iceberg_native(
        spark, {"path": tbl, "partitionFilter": {"par": 1}}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3, 5, 7]


def test_log_sourced_bounds_prune(spark, tmp_path):
    """The sync's bounds come from add.stats (no footer reads) and must
    still drive iceberg manifest-level data skipping."""
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = str(tmp_path / "uf4")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "id long, v string"
        ).repartitionByRange(4, "id"),
        {"path": tbl, "properties": dict(UF)},
    )
    data, _d, meta = plan_files(tbl)
    assert len(data) == 4
    assert all(d.get("lower_bounds") for d in data)
    got = read_iceberg_native(spark, {
        "path": tbl, "dataFilter": {"key": "id", "op": ">=", "value": 90},
    })
    assert sorted(r["id"] for r in got.collect()) == list(range(90, 100))


def test_not_enabled_no_sync(spark, tmp_path):
    tbl = str(tmp_path / "uf5")
    write_delta_native(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"),
        {"path": tbl},
    )
    assert not os.path.isdir(os.path.join(tbl, "metadata"))


def test_alter_rename_syncs_logical_names(spark, tmp_path):
    from pipeline_spark.sinks.delta_native import alter_delta_native

    tbl = str(tmp_path / "uf6")
    write_delta_native(
        spark,
        spark.createDataFrame([(1, "a")], "id long, tag string"),
        {"path": tbl,
         "properties": {**UF, "delta.columnMapping.mode": "name"}},
    )
    alter_delta_native(spark, {"path": tbl, "renameColumn": {"tag": "v"}})
    df = read_iceberg_native(spark, {"path": tbl})
    assert sorted(df.columns) == ["id", "v"]


def test_log_bounds_match_footer_bounds(spark, tmp_path):
    """Differential: the sync's log-sourced Appendix-D bounds must equal
    the footer-sourced ones (both through the one Iceberg encoder) for every boundable type (the one-shot
    convert and the per-commit sync may never disagree on pruning)."""
    import datetime

    from pipeline_spark.sinks.lakefiles import (
        DataFile,
        read,
        to_iceberg_entry,
    )
    from pipeline_spark.sources.delta_native import replay_state

    tbl = str(tmp_path / "ufdiff")
    rows = [
        (i, float(i) * 1.5, datetime.date(2024, 1, 1 + i % 28),
         datetime.datetime(2024, 1, 1, i % 24), i % 2 == 0,
         None if i % 5 == 0 else f"s{i}")
        for i in range(50)
    ]
    write_delta_native(
        spark,
        spark.createDataFrame(
            rows,
            "a long, b double, c date, d timestamp, e boolean, f string",
        ).coalesce(1),
        {"path": tbl},
    )
    adds, _m, _p, _v, _t = replay_state(tbl)
    colmap = {
        "a": (1, "long"), "b": (2, "double"), "c": (3, "date"),
        "d": (4, "timestamp"), "e": (5, "boolean"), "f": (6, "string"),
    }
    full = os.path.join(tbl, adds[0]["path"])

    def encoded(f):
        d = to_iceberg_entry(f, 1, 1, {}, colmap=colmap)["data_file"]
        return (d["record_count"], d["null_value_counts"],
                d["lower_bounds"], d["upper_bounds"])

    _rc, f_nulls, f_lows, f_highs = encoded(read([(full, {})])[0])
    rc, l_nulls, l_lows, l_highs = encoded(
        DataFile.from_delta_stats(tbl, adds[0]))
    assert rc == 50

    def by_key(entries):
        return {e["key"]: e["value"] for e in (entries or [])}

    # bounds agree wherever BOTH sides emit them (footer may emit more —
    # e.g. boolean — but must never CONTRADICT the log)
    fl, ll = by_key(f_lows), by_key(l_lows)
    fh, lh = by_key(f_highs), by_key(l_highs)
    for k in set(fl) & set(ll):
        assert fl[k] == ll[k], (k, fl[k], ll[k])
    for k in set(fh) & set(lh):
        assert fh[k] == lh[k], (k, fh[k], lh[k])
    # the log side must carry every bound the footer side does (they
    # share the same source statistics — Spark writes INT96 timestamps
    # without logical min/max, so neither side emits field 4)
    assert set(fl) <= set(ll) and {1, 2, 3} <= set(ll)
    # null counts agree exactly for every column both emit
    fn, ln = by_key(f_nulls), by_key(l_nulls)
    for k in set(fn) & set(ln):
        assert fn[k] == ln[k]


def test_append_sync_is_incremental(spark, tmp_path):
    """A blind append chains ONE iceberg append snapshot (O(batch)
    metadata) instead of regenerating the table — the prior snapshot's
    manifests carry forward by reference."""
    import json as _json

    from pipeline_spark.sources.iceberg_native import (
        load_table_metadata,
        plan_files,
    )

    tbl = str(tmp_path / "uf7")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(UF)},
    )
    m1 = load_table_metadata(tbl)
    man1 = m1["snapshots"][-1]["manifest-list"]
    write_delta_native(
        spark, spark.createDataFrame([(6, "x")], "id long, v string")
        .coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    m2 = load_table_metadata(tbl)
    snap2 = m2["snapshots"][-1]
    assert snap2["summary"]["converted-from"] == "delta-uniform-append"
    # the previous snapshot is still in the history (chained, not regen)
    assert any(
        s["manifest-list"] == man1 for s in m2["snapshots"]
    ) or len(m2["snapshots"]) >= 2
    d, i = _both(spark, tbl)
    assert d == i and len(d) == 7
    # bounds present on the appended file (log-sourced)
    data, _dl, _m = plan_files(tbl)
    assert all(x.get("lower_bounds") for x in data)


def test_append_sync_partitioned_cm(spark, tmp_path):
    """The incremental path types partition values and physical names
    exactly like the full regen."""
    tbl = str(tmp_path / "uf8")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}", i % 2) for i in range(6)],
            "id long, v string, par long",
        ),
        {"path": tbl, "partitionBy": ["par"],
         "properties": {**UF, "delta.columnMapping.mode": "name"}},
    )
    write_delta_native(
        spark,
        spark.createDataFrame([(10, "x", 0), (11, "y", 1)],
                              "id long, v string, par long"),
        {"path": tbl, "mode": "append", "partitionBy": ["par"]},
    )
    got = sorted(
        (r["id"], r["par"])
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )
    assert got == [(i, i % 2) for i in range(6)] + [(10, 0), (11, 1)]
    pruned = read_iceberg_native(
        spark, {"path": tbl, "partitionFilter": {"par": 1}}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3, 5, 11]


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_streaming_appends_sync_incrementally(spark, tmp_path):
    """Streaming micro-batches on a UniForm table: every committed
    batch syncs, and the blind-append batches ride the INCREMENTAL
    chained-snapshot path (txn markers make them adds+txn commits)."""
    from pipeline_spark.registry import ModuleContext
    from pipeline_spark.sinks.delta_native import delta_sink
    from pipeline_spark.sources.iceberg_native import load_table_metadata

    src = tmp_path / "in"
    src.mkdir()
    tbl = str(tmp_path / "uf_stream")
    write_delta_native(
        spark, spark.range(0, 0).selectExpr("id"),
        {"path": tbl, "properties": dict(UF)},
    )
    spark.range(0, 6).write.parquet(str(src / "b1"))
    spark.range(6, 10).write.parquet(str(src / "b2"))
    sdf = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    delta_sink(ModuleContext(
        spark=spark, name="w", params={"path": tbl}, inputs=[sdf],
        input_names=["in"],
    ))
    got = sorted(
        r["id"]
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )
    assert got == list(range(10))
    m = load_table_metadata(tbl)
    # at least one micro-batch rode the incremental append path
    assert any(
        s.get("summary", {}).get("converted-from") == "delta-uniform-append"
        for s in m.get("snapshots", [])
    )


def test_sync_failure_never_poisons_the_commit(
    spark, tmp_path, monkeypatch, caplog
):
    """The delta commit has already landed when the sync runs — a sync
    failure must not surface as a commit failure (the DML retry wrapper
    would chase a phantom race).  The mirror self-heals: the next
    commit's sync regenerates it from current state."""
    import pipeline_spark.sinks.tableconvert as tc

    tbl = str(tmp_path / "uf_fail")
    write_delta_native(
        spark,
        spark.createDataFrame([(0, "a")], "id long, v string"),
        {"path": tbl, "properties": dict(UF)},
    )

    def boom(*a, **k):
        raise RuntimeError("injected sync failure")

    monkeypatch.setattr(tc, "sync_uniform_iceberg", boom)
    monkeypatch.setattr(tc, "sync_uniform_append", boom)
    # the commit itself must SUCCEED despite the broken sync, and the
    # failure is logged once, naming the table
    with caplog.at_level("WARNING", logger="pipeline_spark.delta"):
        write_delta_native(
            spark, spark.createDataFrame([(1, "b")], "id long, v string"),
            {"path": tbl, "mode": "append"},
        )
    warned = [
        r for r in caplog.records
        if r.name == "pipeline_spark.delta" and r.levelname == "WARNING"
    ]
    assert len(warned) == 1 and tbl in warned[0].getMessage()
    assert sorted(
        r["id"] for r in read_delta_native(spark, {"path": tbl}).collect()
    ) == [0, 1]
    # iceberg mirror is STALE (only the create synced)
    assert sorted(
        r["id"]
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    ) == [0]
    monkeypatch.undo()
    # the next healthy commit repairs the mirror completely
    write_delta_native(
        spark, spark.createDataFrame([(2, "c")], "id long, v string"),
        {"path": tbl, "mode": "append"},
    )
    d, i = _both(spark, tbl)
    assert d == i and [x[0] for x in d] == [0, 1, 2]


def test_concurrent_append_loser_retry_resyncs(spark, tmp_path, monkeypatch):
    """r11 (VERDICT r10 stretch): two blind appends race — the loser's
    commit retry must ALSO re-sync, so the iceberg mirror ends at the
    final delta version carrying BOTH batches (a retry that skipped the
    sync would leave the mirror one commit behind)."""
    import os as _os

    from pipeline_spark.sources.iceberg_native import load_table_metadata

    tbl = str(tmp_path / "uconc")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, "base") for i in range(5)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "properties": dict(UF)},
    )

    real_link = _os.link
    state = {"injected": False}

    def racing_link(src, dst, *a, **kw):
        if not state["injected"] and dst.endswith(f"{1:020d}.json"):
            state["injected"] = True
            write_delta_native(
                spark,
                spark.createDataFrame([(100, "winner")], "id long, v string")
                .coalesce(1),
                {"path": tbl, "mode": "append"},
            )
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "link", racing_link)
    write_delta_native(
        spark,
        spark.createDataFrame([(200, "loser")], "id long, v string")
        .coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    monkeypatch.undo()
    assert state["injected"]
    d, i = _both(spark, tbl)
    assert d == i  # both surfaces agree
    assert (100, "winner") in i and (200, "loser") in i
    # the mirror marker tracks the FINAL commit (loser retried at v2)
    props = load_table_metadata(tbl).get("properties") or {}
    assert props.get("delta.uniform.deltaVersion") == "2"
