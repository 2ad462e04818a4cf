"""Optimistic concurrency for iceberg DML writers (r9, VERDICT r8 ask
#3 — the iceberg twin of delta's ConflictChecker, shape of
tests/test_delta_concurrency.py).

The local metadata publication is a create-EXCLUSIVE version claim;
REST commits assert-ref-snapshot-id.  A losing MERGE / UPDATE / DELETE
(COW or MOR) examines the interleaved snapshots via
sinks/conflicts.check and retries iff its read/write set is provably
untouched: an append and a disjoint-key merge BOTH commit; true
conflicts (same file rewritten, data added inside the loser's read
predicate, schema changed, a concurrent delete on a file being
re-vectored) keep failing loudly with the re-plan message.
"""

import json

import pytest

import pipeline_spark.sinks.iceberg_native as sink
from pipeline_spark.sinks.iceberg_native import (
    delete_iceberg_native,
    merge_iceberg_native,
    update_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.iceberg_native import (
    find_table_metadata,
    read_iceberg_native,
)


def _ids(spark, p):
    return sorted(r["id"] for r in read_iceberg_native(spark, p).collect())


def _mk(spark, tmp_path, rows, name="tbl"):
    tbl = str(tmp_path / name)
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, v string").coalesce(1),
        {"path": tbl, "mode": "create"},
    )
    return tbl


def _race_local(monkeypatch, interleave):
    """Make the FIRST exclusive version claim lose to ``interleave()``
    (which lands that version first)."""
    real = sink._publish_metadata_exclusive
    state = {"injected": False}

    def racing(meta_dir, version, meta):
        if not state["injected"]:
            state["injected"] = True
            interleave()
        return real(meta_dir, version, meta)

    monkeypatch.setattr(sink, "_publish_metadata_exclusive", racing)
    return state


def test_merge_vs_disjoint_append_both_commit(spark, tmp_path, monkeypatch):
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(100, 103)], "id long, v string"
            ).coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    out = merge_iceberg_native(
        spark,
        spark.createDataFrame([(3, "THREE"), (4, "FOUR")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    assert state["injected"] and out["merged_rows"] == 2
    got = {r["id"]: r["v"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert got[3] == "THREE" and got[4] == "FOUR"
    assert sorted(got) == list(range(10)) + [100, 101, 102]  # append kept


def test_merge_vs_append_inside_key_range_fails(spark, tmp_path, monkeypatch):
    """An interleaved add INSIDE the merge's key envelope is a real
    conflict: the rows the merge planned against changed."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(4, "sneak")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError, match="read predicate"):
        merge_iceberg_native(
            spark,
            spark.createDataFrame([(3, "X"), (5, "Y")], "id long, v string"),
            {"path": tbl, "primaryKeys": ["id"]},
        )


def test_cow_delete_vs_disjoint_append_both_commit(
    spark, tmp_path, monkeypatch
):
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(200, "z")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    out = delete_iceberg_native(spark, {
        "path": tbl, "method": "cow",
        "where": [{"key": "id", "op": "<", "value": 5}],
    })
    assert state["injected"] and out["deleted_rows"] == 5
    assert _ids(spark, {"path": tbl}) == list(range(5, 10)) + [200]


def test_cow_update_vs_same_file_rewrite_fails(spark, tmp_path, monkeypatch):
    """Two writers rewriting the SAME file: the loser must re-plan —
    retrying would resurrect rows the winner deleted."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        delete_iceberg_native(spark, {
            "path": tbl, "method": "cow",
            "where": [{"key": "id", "op": "=", "value": 7}],
        })

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError, match="re-plan"):
        update_iceberg_native(spark, {
            "path": tbl,
            "where": [{"key": "id", "op": "=", "value": 2}],
            "set": {"v": "'TWO'"},
        })


def test_mor_dv_delete_vs_disjoint_append_both_commit(
    spark, tmp_path, monkeypatch
):
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(300, "w")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    out = delete_iceberg_native(spark, {
        "path": tbl, "format": "puffin",
        "where": [{"key": "id", "op": "in", "value": [1, 2]}],
    })
    assert state["injected"] and out["deleted_rows"] == 2
    assert _ids(spark, {"path": tbl}) == (
        [0] + list(range(3, 10)) + [300]
    )


def test_mor_dv_delete_vs_concurrent_dv_same_file_fails(
    spark, tmp_path, monkeypatch
):
    """Two DV writers targeting the same data file: the loser's merged
    vector (planned from base) is incomplete — retrying would violate
    the one-DV-per-file rule or drop the winner's deletes."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        delete_iceberg_native(spark, {
            "path": tbl, "format": "puffin",
            "where": [{"key": "id", "op": "=", "value": 8}],
        })

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError, match="re-plan"):
        delete_iceberg_native(spark, {
            "path": tbl, "format": "puffin",
            "where": [{"key": "id", "op": "=", "value": 2}],
        })


def test_mor_upsert_vs_append_both_commit(spark, tmp_path, monkeypatch):
    """Equality-delete upserts never conflict with appends: the delete
    outranks them by sequence number (the Flink CDC convention)."""
    from pipeline_spark.sinks.iceberg_native import upsert_iceberg_native

    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(5)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(400, "q")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    upsert_iceberg_native(
        spark,
        spark.createDataFrame([(2, "TWO")], "id long, v string").coalesce(1),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    assert state["injected"]
    got = {r["id"]: r["v"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert got[2] == "TWO" and got[400] == "q" and len(got) == 6


def test_schema_change_interleave_fails(spark, tmp_path, monkeypatch):
    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native

    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        alter_iceberg_native(spark, {
            "path": tbl, "renameColumn": {"v": "val"},
        })

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError, match="schema"):
        delete_iceberg_native(spark, {
            "path": tbl, "method": "cow",
            "where": [{"key": "id", "op": "<", "value": 3}],
        })


def test_interleaved_commit_never_erased(spark, tmp_path, monkeypatch):
    """Version numbers pin to the metadata the commit was built from —
    the winner's snapshot must survive in the final history even when
    the loser retries over it."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(500, "k")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    _race_local(monkeypatch, interleave)
    delete_iceberg_native(spark, {
        "path": tbl, "method": "cow",
        "where": [{"key": "id", "op": "=", "value": 0}],
    })
    meta = json.load(open(find_table_metadata(tbl)))
    ops = [s["summary"]["operation"] for s in meta["snapshots"]]
    assert "append" in ops  # the interleaved append's snapshot survives
    assert _ids(spark, {"path": tbl}) == list(range(1, 10)) + [500]


def _race_rest(monkeypatch, interleave):
    from pipeline_spark.sources.iceberg_rest import RestCatalog

    real = RestCatalog.commit_table
    state = {"injected": False}

    def racing(self, namespace, name, requirements, updates):
        if not state["injected"]:
            state["injected"] = True
            interleave()
        return real(self, namespace, name, requirements, updates)

    monkeypatch.setattr(RestCatalog, "commit_table", racing)
    return state


def test_rest_merge_vs_disjoint_append_both_commit(
    spark, tmp_path, monkeypatch
):
    """REST twin: the losing merge re-fetches via load_table and sends a
    fresh CommitTableRequest after the disjointness proof."""
    from tests.test_iceberg_native import _serve_stateful_catalog

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        cat_p = {"catalog": {"uri": uri}, "table": "ns.cc",
                 "location": str(tmp_path / "rest_cc")}
        write_iceberg_native(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(10)], "id long, v string"
            ).coalesce(1),
            {**cat_p, "mode": "create"},
        )

        def interleave():
            monkeypatch.undo()  # the interleaved append commits for real
            write_iceberg_native(
                spark.createDataFrame([(600, "r")], "id long, v string")
                .coalesce(1),
                {**cat_p, "mode": "append"},
            )

        state = _race_rest(monkeypatch, interleave)
        out = merge_iceberg_native(
            spark,
            spark.createDataFrame([(3, "THREE")], "id long, v string"),
            {**cat_p, "primaryKeys": ["id"]},
        )
        assert state["injected"] and out["merged_rows"] == 1
        got = {r["id"]: r["v"] for r in read_iceberg_native(
            spark, cat_p).collect()}
        assert got[3] == "THREE" and got[600] == "r" and len(got) == 11
    finally:
        srv.shutdown()


def test_rest_merge_vs_matching_append_fails(spark, tmp_path, monkeypatch):
    from tests.test_iceberg_native import _serve_stateful_catalog

    srv, _state = _serve_stateful_catalog()
    try:
        uri = f"http://127.0.0.1:{srv.server_address[1]}"
        cat_p = {"catalog": {"uri": uri}, "table": "ns.cf",
                 "location": str(tmp_path / "rest_cf")}
        write_iceberg_native(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(10)], "id long, v string"
            ).coalesce(1),
            {**cat_p, "mode": "create"},
        )

        def interleave():
            monkeypatch.undo()
            write_iceberg_native(
                spark.createDataFrame([(4, "sneak")], "id long, v string")
                .coalesce(1),
                {**cat_p, "mode": "append"},
            )

        _race_rest(monkeypatch, interleave)
        with pytest.raises(FileExistsError, match="read predicate"):
            merge_iceberg_native(
                spark,
                spark.createDataFrame(
                    [(3, "X"), (5, "Y")], "id long, v string"
                ),
                {**cat_p, "primaryKeys": ["id"]},
            )
    finally:
        srv.shutdown()


def test_append_vs_append_both_commit(spark, tmp_path, monkeypatch):
    """Blind appends rebase on a lost version claim (r9, the delta-r7
    twin): both writers' rows land, both snapshots survive."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(5)])

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(700, "a")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    write_iceberg_native(
        spark.createDataFrame([(800, "b")], "id long, v string").coalesce(1),
        {"path": tbl, "mode": "append"},
    )
    assert state["injected"]
    assert _ids(spark, {"path": tbl}) == list(range(5)) + [700, 800]
    meta = json.load(open(find_table_metadata(tbl)))
    assert len(meta["snapshots"]) == 3  # create + both appends


def test_append_vs_schema_change_fails(spark, tmp_path, monkeypatch):
    from pipeline_spark.sinks.iceberg_native import alter_iceberg_native

    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(5)])

    def interleave():
        alter_iceberg_native(spark, {
            "path": tbl, "renameColumn": {"v": "val"},
        })

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError, match="schema"):
        write_iceberg_native(
            spark.createDataFrame([(900, "c")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )


def test_create_vs_create_fails(spark, tmp_path, monkeypatch):
    """Two creators racing IS the conflict — no silent clobber, no
    rebase."""
    tbl = str(tmp_path / "cc_create")

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(1, "winner")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "create"},
        )

    _race_local(monkeypatch, interleave)
    with pytest.raises(FileExistsError):
        write_iceberg_native(
            spark.createDataFrame([(2, "loser")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "create"},
        )
    got = {r["v"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert got == {"winner"}


def test_compact_vs_append_both_commit(spark, tmp_path, monkeypatch):
    """Compaction re-plans wholesale on a lost race: the interleaved
    append's rows survive AND get bin-packed by the re-plan."""
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "cmp")
    for i in range(3):
        write_iceberg_native(
            spark.createDataFrame(
                [(i * 10 + j, f"v{j}") for j in range(10)],
                "id long, v string",
            ).coalesce(1),
            {"path": tbl, "mode": "append" if i else "create"},
        )

    def interleave():
        write_iceberg_native(
            spark.createDataFrame([(999, "late")], "id long, v string")
            .coalesce(1),
            {"path": tbl, "mode": "append"},
        )

    state = _race_local(monkeypatch, interleave)
    out = compact_iceberg_native(spark, {
        "path": tbl, "targetFileBytes": 1 << 30,
    })
    assert state["injected"] and out["new_files"] >= 1
    assert _ids(spark, {"path": tbl}) == (
        sorted([i * 10 + j for i in range(3) for j in range(10)]) + [999]
    )


def test_compact_keeps_a_concurrent_delete_on_an_untouched_file(
    spark, tmp_path, monkeypatch
):
    """Compaction drops exactly the delete files it planned against: a
    position delete a racing commit lands on a file the compaction does
    not rewrite rides along through the rebase (dropping it would bring
    its row back)."""
    import os

    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native
    from pipeline_spark.sources.iceberg_native import plan_files

    tbl = _mk(spark, tmp_path, [(i, "big") for i in range(20000)])
    for lo in (20000, 20005):
        write_iceberg_native(
            spark.createDataFrame(
                [(i, "small") for i in range(lo, lo + 5)], "id long, v string"
            ).coalesce(1),
            {"path": tbl, "mode": "append"},
        )
    delete_iceberg_native(spark, {
        "path": tbl, "where": [{"key": "id", "op": "=", "value": 20007}],
    })
    big = max(os.path.getsize(d["path"]) for d in plan_files(tbl)[0])

    def interleave():
        delete_iceberg_native(spark, {
            "path": tbl, "where": [{"key": "id", "op": "=", "value": 5}],
        })

    state = _race_local(monkeypatch, interleave)
    out = compact_iceberg_native(spark, {"path": tbl, "targetFileBytes": big})
    assert state["injected"]
    assert out["compacted_files"] == 2
    assert out["materialized_delete_files"] == 1
    assert len(plan_files(tbl)[1]) == 1  # the racing delete
    got = _ids(spark, {"path": tbl})
    assert got == [i for i in range(20010) if i not in (5, 20007)]


def test_three_way_interleave_all_disjoint_commit(
    spark, tmp_path, monkeypatch
):
    """Stress: a COW merge loses its claim TWICE — first to an append,
    then to a disjoint-partition DV delete — and still commits after two
    conflict-checked rebases; all three writers' effects land."""
    tbl = _mk(spark, tmp_path, [(i, f"v{i}") for i in range(10)])
    # second data file so the DV delete and the merge touch DIFFERENT files
    write_iceberg_native(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(100, 110)], "id long, v string"
        ).coalesce(1),
        {"path": tbl, "mode": "append"},
    )

    real = sink._publish_metadata_exclusive
    state = {"n": 0}

    def racing(meta_dir, version, meta):
        state["n"] += 1
        if state["n"] == 1:
            write_iceberg_native(
                spark.createDataFrame([(500, "a")], "id long, v string")
                .coalesce(1),
                {"path": tbl, "mode": "append"},
            )
        elif state["n"] == 3:
            # n=2 is the interleaved append's own publish; n=3 is the
            # merge's SECOND attempt — it loses to a DV delete on file 2
            delete_iceberg_native(spark, {
                "path": tbl, "format": "puffin",
                "where": [{"key": "id", "op": "=", "value": 105}],
            })
        return real(meta_dir, version, meta)

    monkeypatch.setattr(sink, "_publish_metadata_exclusive", racing)
    out = merge_iceberg_native(
        spark,
        spark.createDataFrame([(3, "THREE")], "id long, v string"),
        {"path": tbl, "primaryKeys": ["id"]},
    )
    assert out["merged_rows"] == 1
    got = {r["id"]: r["v"] for r in read_iceberg_native(
        spark, {"path": tbl}).collect()}
    assert got[3] == "THREE"          # merge landed
    assert got[500] == "a"            # append survived
    assert 105 not in got             # DV delete survived
    assert len(got) == 20             # 10 + 10 - 1 + 1
