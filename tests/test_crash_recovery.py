"""Crash-recovery property tests for the native commit paths (VERDICT
r13 ask #6): a writer that DIES between staging and commit must be
invisible to readers and reclaimable.

Both formats commit through a single seam — delta's ``commit``
(create-exclusive hardlink of the version JSON) and iceberg's
``_publish_metadata_exclusive`` (create-exclusive metadata swap).  Each
case injects a kill at that seam (``before``: files staged, commit
never attempted; ``mid``: a stray partial ``.tmp`` is left next to the
log/metadata, the state an interrupted atomic publish leaves) and then
asserts the recovery contract:

  1. readers see the OLD version, bit-for-bit;
  2. ``vacuum`` (delta) / ``remove_orphan_files`` (iceberg) reclaims
     the dead writer's staged files without touching live data;
  3. a RETRY of the same operation succeeds and lands the expected
     final state.

The concurrency suites cover interleaved writers; this covers the
writer that never comes back.  Reference behavior: delta PROTOCOL.md
(atomic log commit), iceberg spec (metadata swap + the
remove_orphan_files maintenance action).
"""

from __future__ import annotations

import os
import uuid

import pytest

pytestmark = pytest.mark.slow  # r16: fast-tier default deselects (see pyproject)

import pipeline_spark.sinks.delta_native as dn
import pipeline_spark.sinks.iceberg_native as sink_ice
from pipeline_spark.sinks.delta_native import (
    delete_delta_native,
    merge_delta_native,
    update_delta_native,
    vacuum_delta_native,
    write_delta_native,
)
from pipeline_spark.sinks.iceberg_native import (
    delete_iceberg_native,
    merge_iceberg_native,
    remove_orphans_iceberg_native,
    upsert_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import read_iceberg_native


class _Killed(RuntimeError):
    pass


ROWS = [(i, float(i) * 1.5, "a" if i % 2 == 0 else "b") for i in range(20)]
SCHEMA = "id long, val double, par string"


def _snap_delta(spark, tbl):
    return sorted(
        tuple(r) for r in read_delta_native(spark, {"path": tbl}).collect()
    )


def _snap_ice(spark, tbl):
    return sorted(
        tuple(r) for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )


def _data_files(tbl):
    out = set()
    for root, dirs, names in os.walk(tbl):
        if "_delta_log" in dirs:
            dirs.remove("_delta_log")
        for n in names:
            out.add(os.path.join(root, n))
    return out


# --------------------------------------------------------------- delta

DELTA_OPS = {
    "append": lambda spark, df, tbl: write_delta_native(
        spark, df, {"path": tbl, "mode": "append"}
    ),
    "merge": lambda spark, df, tbl: merge_delta_native(
        spark, df, {"path": tbl, "primaryKeys": ["id"]}
    ),
    "delete_cow": lambda spark, df, tbl: delete_delta_native(
        spark, {"path": tbl,
                "where": [{"key": "id", "op": "<", "value": 5}]}
    ),
    "update": lambda spark, df, tbl: update_delta_native(
        spark, {"path": tbl,
                "where": [{"key": "id", "op": ">=", "value": 15}],
                "set": {"val": "val + 100"}}
    ),
}


@pytest.mark.parametrize("kill", ["before", "mid"])
@pytest.mark.parametrize("op", sorted(DELTA_OPS))
def test_delta_writer_dies_before_commit(spark, tmp_path, monkeypatch, op, kill):
    tbl = str(tmp_path / f"d_{op}_{kill}")
    write_delta_native(
        spark, spark.createDataFrame(ROWS, SCHEMA), {"path": tbl}
    )
    before = _snap_delta(spark, tbl)
    batch = spark.createDataFrame(
        [(3, 999.0, "a"), (77, 7.0, "b")], SCHEMA
    )

    # _prev_ict runs in EVERY delta commit (the one ``commit``) after
    # the parquet is staged and before the log
    # JSON exists — the exact between-staging-and-commit instant
    orig = dn._prev_ict

    def dying(log_dir, version):
        if kill == "mid":
            # the state an interrupted atomic publish leaves: the temp
            # spool exists, the version JSON does not
            stray = os.path.join(
                log_dir, f"commit.{uuid.uuid4().hex}.tmp"
            )
            with open(stray, "w") as fh:
                fh.write('{"partial":')  # torn write
        raise _Killed(f"killed at commit of v{version}")

    monkeypatch.setattr(dn, "_prev_ict", dying)
    with pytest.raises(_Killed):
        DELTA_OPS[op](spark, batch, tbl)
    monkeypatch.setattr(dn, "_prev_ict", orig)

    # 1. readers see the old version
    assert _snap_delta(spark, tbl) == before

    # 2. vacuum reclaims the dead writer's staged parquet (retainSeconds
    #    0: this test IS the single-writer-just-died scenario the
    #    docstring describes) and live data survives
    res = vacuum_delta_native(spark, {"path": tbl, "retainSeconds": 0})
    # every op above stages at least one parquet before the commit
    assert res["removed_files"] >= 1, (op, kill, res)
    assert _snap_delta(spark, tbl) == before

    # 3. retry lands the expected final state
    DELTA_OPS[op](spark, batch, tbl)
    after = _snap_delta(spark, tbl)
    if op == "append":
        assert len(after) == len(before) + 2
    elif op == "merge":
        d = dict((r[0], r) for r in after)
        assert d[3][1] == 999.0 and d[77][1] == 7.0
        assert len(after) == len(before) + 1
    elif op == "delete_cow":
        assert {r[0] for r in after} == {r[0] for r in before if r[0] >= 5}
    elif op == "update":
        assert all(r[1] == r[0] * 1.5 + 100 for r in after if r[0] >= 15)


# ------------------------------------------------------------- iceberg

ICE_OPS = {
    "append": lambda spark, df, tbl: write_iceberg_native(
        df, {"path": tbl, "mode": "append"}
    ),
    "merge_cow": lambda spark, df, tbl: merge_iceberg_native(
        spark, df, {"path": tbl, "primaryKeys": ["id"]}
    ),
    "upsert_mor": lambda spark, df, tbl: upsert_iceberg_native(
        spark, df, {"path": tbl, "primaryKeys": ["id"]}
    ),
    "delete": lambda spark, df, tbl: delete_iceberg_native(
        spark, {"path": tbl,
                "where": [{"key": "id", "op": "<", "value": 5}]}
    ),
}


@pytest.mark.parametrize("kill", ["before", "mid"])
@pytest.mark.parametrize("op", sorted(ICE_OPS))
def test_iceberg_writer_dies_before_swap(spark, tmp_path, monkeypatch, op, kill):
    tbl = str(tmp_path / f"i_{op}_{kill}")
    write_iceberg_native(
        spark.createDataFrame(ROWS, SCHEMA), {"path": tbl, "mode": "create"}
    )
    before = _snap_ice(spark, tbl)
    files_before = _data_files(tbl)
    batch = spark.createDataFrame(
        [(3, 999.0, "a"), (77, 7.0, "b")], SCHEMA
    )

    orig = sink_ice._publish_metadata_exclusive

    def dying(meta_dir, version, meta):
        if kill == "mid":
            stray = os.path.join(
                meta_dir,
                f"v{version}.metadata.json.{uuid.uuid4().hex}.tmp",
            )
            with open(stray, "w") as fh:
                fh.write('{"torn":')
        raise _Killed(f"killed before metadata swap to v{version}")

    monkeypatch.setattr(sink_ice, "_publish_metadata_exclusive", dying)
    with pytest.raises(_Killed):
        ICE_OPS[op](spark, batch, tbl)
    monkeypatch.setattr(sink_ice, "_publish_metadata_exclusive", orig)

    # 1. readers see the old snapshot
    assert _snap_ice(spark, tbl) == before
    # the dead writer really did stage files (the scenario is real)
    assert _data_files(tbl) - files_before, (op, kill)

    # 2. remove_orphan_files reclaims them (negative age: this test IS
    #    the writer-is-dead scenario the 3-day default guards)
    res = remove_orphans_iceberg_native(
        spark, {"path": tbl, "olderThanMs": -60_000}
    )
    assert res["removed_files"] >= 1, (op, kill, res)
    assert _snap_ice(spark, tbl) == before

    # 3. retry lands the expected final state
    ICE_OPS[op](spark, batch, tbl)
    after = _snap_ice(spark, tbl)
    if op == "append":
        assert len(after) == len(before) + 2
    elif op in ("merge_cow", "upsert_mor"):
        d = dict((r[0], r) for r in after)
        assert d[3][1] == 999.0 and d[77][1] == 7.0
        assert len(after) == len(before) + 1
    elif op == "delete":
        assert {r[0] for r in after} == {r[0] for r in before if r[0] >= 5}


def test_iceberg_orphan_sweep_spares_fresh_files(spark, tmp_path, monkeypatch):
    """The default 3-day age margin: a JUST-staged orphan (an in-flight
    writer that may still be alive) survives the sweep; only the age
    override used above reclaims it immediately."""
    tbl = str(tmp_path / "i_fresh")
    write_iceberg_native(
        spark.createDataFrame(ROWS, SCHEMA), {"path": tbl, "mode": "create"}
    )
    monkeypatch.setattr(
        sink_ice, "_publish_metadata_exclusive",
        lambda *a, **k: (_ for _ in ()).throw(_Killed("kill")),
    )
    with pytest.raises(_Killed):
        write_iceberg_native(
            spark.createDataFrame([(99, 1.0, "a")], SCHEMA),
            {"path": tbl, "mode": "append"},
        )
    monkeypatch.undo()
    res = remove_orphans_iceberg_native(spark, {"path": tbl})
    assert res["removed_files"] == 0, res


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_kill_retry_equivalence(spark, tmp_path, monkeypatch, fmt):
    """Property: a random sequence of DML ops where EVERY op's first
    attempt is killed at the commit seam and then retried must land the
    exact state of the same sequence run cleanly — crashes plus retries
    are invisible in the final table (the idempotence contract on which
    any driver-level retry loop rests)."""
    import random

    rng = random.Random(42 + (0 if fmt == "delta" else 1))
    ops = DELTA_OPS if fmt == "delta" else ICE_OPS
    seq = [rng.choice(sorted(ops)) for _ in range(4)]
    batches = [
        [(rng.randint(0, 25), round(rng.uniform(0, 50), 2),
          rng.choice(["a", "b"])) for _ in range(3)]
        for _ in seq
    ]

    def _write(tbl):
        if fmt == "delta":
            write_delta_native(
                spark, spark.createDataFrame(ROWS, SCHEMA), {"path": tbl})
        else:
            write_iceberg_native(
                spark.createDataFrame(ROWS, SCHEMA),
                {"path": tbl, "mode": "create"})

    snap = _snap_delta if fmt == "delta" else _snap_ice

    # clean run
    clean = str(tmp_path / f"{fmt}_clean")
    _write(clean)
    for op, rows in zip(seq, batches):
        ops[op](spark, spark.createDataFrame(rows, SCHEMA), clean)
    want = snap(spark, clean)

    # killed-then-retried run
    crashed = str(tmp_path / f"{fmt}_crash")
    _write(crashed)
    for op, rows in zip(seq, batches):
        batch = spark.createDataFrame(rows, SCHEMA)
        if fmt == "delta":
            orig = dn._prev_ict
            monkeypatch.setattr(
                dn, "_prev_ict",
                lambda *a, **k: (_ for _ in ()).throw(_Killed("boom")))
        else:
            orig = sink_ice._publish_metadata_exclusive
            monkeypatch.setattr(
                sink_ice, "_publish_metadata_exclusive",
                lambda *a, **k: (_ for _ in ()).throw(_Killed("boom")))
        with pytest.raises(_Killed):
            ops[op](spark, batch, crashed)
        if fmt == "delta":
            monkeypatch.setattr(dn, "_prev_ict", orig)
        else:
            monkeypatch.setattr(
                sink_ice, "_publish_metadata_exclusive", orig)
        ops[op](spark, batch, crashed)  # the retry

    assert snap(spark, crashed) == want, (fmt, seq)


# ------------------------------------------------ streaming commit seam
#
# r15 (VERDICT r14 ask #6): the batch cases above kill writers between
# STAGING and COMMIT.  The streaming sinks have a second seam — between
# the sink's TABLE COMMIT and the CHECKPOINT ADVANCE (foreachBatch
# returns, Spark then marks the batch complete).  A crash there makes
# Spark REPLAY the batch on restart; exactly-once rests on the sink's
# idempotence marker (delta: txn (appId, version) per PROTOCOL.md
# Transaction Identifiers; iceberg: (app-id, batch-id) snapshot-summary
# stamps, Flink's pattern).  Each case commits for real, dies BEFORE
# returning from foreachBatch, restarts the stream on the same
# checkpoint, and asserts the replay was a no-op: exactly one copy of
# every row AND exactly one table commit per micro-batch.


def _stream_src(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir(exist_ok=True)
    spark.range(0, 10).coalesce(1).write.parquet(str(src / "b1"))
    spark.range(10, 15).coalesce(1).write.parquet(str(src / "b2"))
    return src


def _run_delta_stream(spark, src, tbl, mode):
    from pipeline_spark.registry import ModuleContext
    from pipeline_spark.sinks.delta_native import delta_sink

    sdf = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    )
    params = {"path": tbl}
    if mode == "merge":
        params = {"path": tbl, "mode": "merge", "primaryKeys": ["id"]}
    delta_sink(ModuleContext(
        spark=spark, name="w", params=params, inputs=[sdf],
        input_names=["in"],
    ))


def _kill_after(monkeypatch, module, attr, kill_batch, spark_first=True):
    """Wrap module.attr so the Nth successful call commits for real and
    THEN raises — the crash between sink commit and checkpoint advance."""
    orig = getattr(module, attr)
    state = {"n": 0}

    def killer(*a, **k):
        orig(*a, **k)
        n = state["n"]
        state["n"] += 1
        if n == kill_batch:
            raise _Killed("died after table commit before checkpoint advance")

    monkeypatch.setattr(module, attr, killer)
    return orig


@pytest.mark.parametrize("mode", ["append", "merge"])
@pytest.mark.parametrize("kill_batch", [0, 1])
def test_delta_streaming_kill_retry_exactly_once(
    spark, tmp_path, monkeypatch, mode, kill_batch
):
    src = _stream_src(spark, tmp_path)
    tbl = str(tmp_path / f"dstream_{mode}_{kill_batch}")
    attr = "merge_delta_native" if mode == "merge" else "write_delta_native"
    orig = _kill_after(monkeypatch, dn, attr, kill_batch)

    with pytest.raises(Exception) as ei:
        _run_delta_stream(spark, src, tbl, mode)
    assert "died after table commit" in str(ei.value)
    # the kill happened AFTER a real commit: the killed batch is visible
    ids_after_kill = [r[0] for r in _snap_delta(spark, tbl)]
    assert len(ids_after_kill) in (10, 15) and len(set(ids_after_kill)) == len(ids_after_kill)

    monkeypatch.setattr(dn, attr, orig)
    _run_delta_stream(spark, src, tbl, mode)  # restart, same checkpoint
    assert [r[0] for r in _snap_delta(spark, tbl)] == list(range(15))

    # exactly one delta version per micro-batch — the replayed batch
    # no-opped on its txn marker instead of double-committing
    from pipeline_spark.sources.delta_native import (
        latest_version,
        replay_state,
    )

    assert latest_version(os.path.join(tbl, "_delta_log")) == 1
    _a, _m, _p, _v, txns = replay_state(tbl)
    assert list(txns.values()) == [1]  # high-water = last batch id


@pytest.mark.parametrize("mode", ["append", "upsert"])
@pytest.mark.parametrize("kill_batch", [0, 1])
def test_iceberg_streaming_kill_retry_exactly_once(
    spark, tmp_path, monkeypatch, mode, kill_batch
):
    from pipeline_spark.registry import ModuleContext
    from pipeline_spark.sinks.connectors import iceberg_sink
    from pipeline_spark.sinks.iceberg_native import last_streaming_batch

    src = _stream_src(spark, tmp_path)
    tbl = str(tmp_path / f"istream_{mode}_{kill_batch}")
    attr = (
        "upsert_iceberg_native" if mode == "upsert"
        else "write_iceberg_native"
    )
    orig = _kill_after(monkeypatch, sink_ice, attr, kill_batch)

    def run():
        sdf = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
        )
        params = {"path": tbl, "mode": mode}
        if mode == "upsert":
            params["primaryKeys"] = ["id"]
        iceberg_sink(ModuleContext(
            spark=spark, name="w", params=params, inputs=[sdf],
            input_names=["in"],
        ))

    with pytest.raises(Exception) as ei:
        run()
    assert "died after table commit" in str(ei.value)
    ids_after_kill = [r[0] for r in _snap_ice(spark, tbl)]
    assert len(ids_after_kill) in (10, 15) and len(set(ids_after_kill)) == len(ids_after_kill)

    monkeypatch.setattr(sink_ice, attr, orig)
    run()  # restart on the same checkpoint replays the killed batch
    assert [r[0] for r in _snap_ice(spark, tbl)] == list(range(15))

    # exactly one stamped snapshot per micro-batch; high-water = batch 1
    import json as _json

    from pipeline_spark.sources.iceberg_native import find_table_metadata

    checkpoint = tbl.rstrip("/") + "_checkpoint"
    app_id = f"pipeline_spark::{checkpoint}"
    with open(find_table_metadata(tbl)) as fh:
        meta = _json.load(fh)
    stamped = [
        s for s in meta.get("snapshots", [])
        if (s.get("summary") or {}).get("pipeline-spark.app-id") == app_id
    ]
    assert len(stamped) == 2, [s.get("summary") for s in stamped]
    assert last_streaming_batch({"path": tbl}, app_id) == 1
