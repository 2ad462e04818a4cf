"""Legacy global-delete detection (r13, VERDICT r12 ask #2).

Tables this engine wrote BEFORE r11 put GLOBAL equality deletes under
the table's PARTITIONED spec with all-null partition records.  Since
the r12 spec-identity fix, strict reading (iceberg-java
DeleteFileIndex semantics) scopes those to the null partition — on a
table with no null-partition data the deletes match nothing and
previously-deleted rows silently resurrect.  The scan planner now
DETECTS that shape (partitioned-spec delete, all-null record, no
null-partition data file) and refuses by default;
``legacyGlobalDeletes: allow`` reads on spec-strict (deletes inert),
``apply`` restores the pre-r11 global reading, and COMPACTION with
``apply`` migrates the table permanently.
"""

import warnings

import pytest

from pipeline_spark.sinks.iceberg_native import (
    compact_iceberg_native,
    equality_delete_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.iceberg_native import read_iceberg_native

from tests.test_eqdelete_scope import _scope_delete_manifests


def _mk_legacy_table(spark, tmp_path, name="legacy"):
    """A pre-r11-shaped table: partitioned, with a GLOBAL equality
    delete re-stamped under the partitioned spec with an all-null
    record (what this engine's own sink wrote before r11)."""
    tbl = str(tmp_path / name)
    rows = [(i, p) for i in range(4) for p in ("x", "y")]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    _scope_delete_manifests(tbl, {"par": None})
    return tbl, rows


def _got(spark, tbl, **extra):
    return {
        (r["id"], r["par"])
        for r in read_iceberg_native(spark, {"path": tbl, **extra}).collect()
    }


def test_legacy_global_delete_refused_by_default(spark, tmp_path):
    tbl, _ = _mk_legacy_table(spark, tmp_path, "refuse")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        _got(spark, tbl)


def test_legacy_allow_reads_strict_with_warning(spark, tmp_path):
    """allow: spec-strict scoping — the delete is inert (rows
    resurrect), but LOUDLY, never silently."""
    tbl, rows = _mk_legacy_table(spark, tmp_path, "allow")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _got(spark, tbl, legacyGlobalDeletes="allow")
    assert got == set(rows)  # delete matches nothing under strict
    assert any("legacy GLOBAL" in str(x.message) for x in w)


def test_legacy_apply_restores_global_reading(spark, tmp_path):
    """apply: pre-r11 self-compat — the delete reads as global, the
    deleted id is gone from every partition."""
    tbl, rows = _mk_legacy_table(spark, tmp_path, "apply")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _got(spark, tbl, legacyGlobalDeletes="apply")
    assert got == {(i, p) for i, p in rows if i != 1}
    assert any("legacy GLOBAL" in str(x.message) for x in w)


def test_legacy_unknown_mode_rejected(spark, tmp_path):
    tbl, _ = _mk_legacy_table(spark, tmp_path, "badmode")
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        _got(spark, tbl, legacyGlobalDeletes="yolo")


def test_compact_with_apply_migrates_the_table(spark, tmp_path):
    """The permanent fix: compaction with apply materializes the legacy
    deletes as global and drops the delete files — afterwards the
    DEFAULT (refusing) read succeeds and rows stay deleted."""
    tbl, rows = _mk_legacy_table(spark, tmp_path, "migrate")
    compact_iceberg_native(
        spark, {"path": tbl, "legacyGlobalDeletes": "apply"}
    )
    got = _got(spark, tbl)  # default mode: no refusal post-migration
    assert got == {(i, p) for i, p in rows if i != 1}


def test_compact_default_also_refuses_legacy(spark, tmp_path):
    """Compaction must not silently bake in EITHER interpretation — the
    default refuses, same as the reader."""
    tbl, _ = _mk_legacy_table(spark, tmp_path, "cref")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        compact_iceberg_native(spark, {"path": tbl})


def test_null_partition_scope_with_null_data_not_flagged(spark, tmp_path):
    """A LEGITIMATE null-partition-scoped delete (null-partition data
    exists) is not a legacy shape — no refusal, no warning, delete
    applies only to the null partition."""
    tbl = str(tmp_path / "nullok")
    rows = [(0, "x"), (1, "x"), (0, None), (1, None)]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    _scope_delete_manifests(tbl, {"par": None})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = _got(spark, tbl)
    assert got == {(0, None), (0, "x"), (1, "x")}
    assert not any("legacy GLOBAL" in str(x.message) for x in w)


def test_own_global_deletes_not_flagged(spark, tmp_path):
    """This engine's own (r11+) global deletes sit under an
    UNPARTITIONED spec — never flagged."""
    tbl = str(tmp_path / "own")
    rows = [(i, p) for i in range(3) for p in ("x", "y")]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 2}]})
    got = _got(spark, tbl)
    assert got == {(i, p) for i, p in rows if i != 2}


def test_dml_on_legacy_table_threads_option(spark, tmp_path):
    """merge/update/delete read prior live state — on a legacy table the
    default refuses (same guard), and legacyGlobalDeletes: apply lets
    the DML proceed with the pre-r11 global reading."""
    from pipeline_spark.sinks.iceberg_native import merge_iceberg_native

    tbl, rows = _mk_legacy_table(spark, tmp_path, "dml")
    batch = spark.createDataFrame([(0, "x")], "id long, par string")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        merge_iceberg_native(
            spark, batch, {"path": tbl, "primaryKeys": ["id"]})
    merge_iceberg_native(
        spark, batch,
        {"path": tbl, "primaryKeys": ["id"],
         "legacyGlobalDeletes": "apply"},
    )
    got = _got(spark, tbl, legacyGlobalDeletes="apply")
    # id=1 stays deleted (global reading), id=0 merged: x updated in
    # place, the y-partition copy removed by the key merge
    assert (1, "x") not in got and (1, "y") not in got
    assert (0, "x") in got


def test_legit_null_delete_not_misdetected_in_pruned_scans(spark, tmp_path):
    """r13 review find: detection judged 'no null-partition data' against
    the CALLER'S data subset.  A per-partition compaction bin (or a
    partition-filtered read) never contains the null partition's files,
    so a LEGITIMATE null-partition-scoped delete false-refused — and
    under 'apply' could have been wrongly globalized.  Detection now
    checks the whole table's placement (all_data)."""
    from pipeline_spark.sinks.iceberg_native import compact_iceberg_native

    tbl = str(tmp_path / "nullbin")
    rows = [(0, "x"), (1, "x"), (0, None), (1, None), (1, "y")]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    from pipeline_spark.testing import scope_delete_manifests
    scope_delete_manifests(tbl, {"par": None})
    # partition-filtered read prunes the null-partition files: must NOT
    # refuse, and the delete (scoped elsewhere) leaves these rows alone
    got = {
        (r["id"], r["par"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "partitionFilter": {"par": "x"}}
        ).collect()
    }
    assert got == {(0, "x"), (1, "x")}
    # compaction on the ambiguous shape demands an EXPLICIT choice
    # (ADVICE r14 — baking in a reading silently is worse than asking);
    # an explicit spec-strict choice compacts per-partition bins
    # without mis-globalizing: only (1, None) dies
    compact_iceberg_native(
        spark, {"path": tbl, "legacyGlobalDeletes": "refuse"}
    )
    got = _got(spark, tbl)
    assert got == {(0, "x"), (1, "x"), (0, None), (1, "y")}


def test_cow_update_on_legacy_table_with_apply(spark, tmp_path):
    """r13 review find: the COW rewrite-phase delete
    application missed the option — COW update/delete on a legacy table
    must honor legacyGlobalDeletes: apply end to end."""
    from pipeline_spark.sinks.iceberg_native import update_iceberg_native

    tbl, rows = _mk_legacy_table(spark, tmp_path, "cowup")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        update_iceberg_native(spark, {
            "path": tbl,
            "where": [{"key": "id", "op": "=", "value": 2}],
            "set": {"id": "id + 100"},
        })
    update_iceberg_native(spark, {
        "path": tbl,
        "where": [{"key": "id", "op": "=", "value": 2}],
        "set": {"id": "id + 100"},
        "legacyGlobalDeletes": "apply",
    })
    got = _got(spark, tbl, legacyGlobalDeletes="apply")
    assert (102, "x") in got and (102, "y") in got
    assert not any(i == 1 for i, _ in got)  # global reading held


def test_convert_legacy_table_honors_apply(spark, tmp_path):
    """r13 review find: the iceberg->delta converter's planner call
    ignored the flag, so the refusal's own remediation advice was a
    no-op on the convert path."""
    from pipeline_spark.sinks.tableconvert import convert_iceberg_to_delta
    from pipeline_spark.sources.delta_native import read_delta_native

    tbl, rows = _mk_legacy_table(spark, tmp_path, "conv")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        convert_iceberg_to_delta(spark, {"path": tbl})
    convert_iceberg_to_delta(
        spark, {"path": tbl, "legacyGlobalDeletes": "apply"})
    got = {
        (r["id"], r["par"])
        for r in read_delta_native(spark, {"path": tbl}).collect()
    }
    assert got == {(i, p) for i, p in rows if i != 1}


def test_unknown_mode_rejected_on_healthy_table(spark, tmp_path):
    """r13 review find: mode validation was gated behind detection — a
    typo'd mode must fail on HEALTHY tables too, not first surface the
    day the legacy shape appears."""
    tbl = str(tmp_path / "healthy")
    write_iceberg_native(
        spark.createDataFrame([(1, "x")], "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        read_iceberg_native(
            spark, {"path": tbl, "legacyGlobalDeletes": "aplly"}
        ).collect()


def test_unknown_mode_rejected_with_no_equality_deletes(spark, tmp_path):
    """ADVICE r13: the previous 'healthy table' gate still had equality
    deletes, so plan_equality_deletes ran.  A typo'd mode must fail at
    PARAMETER-PARSE time on a table with NO equality deletes at all —
    read, DML, compact, and convert entry points all validate up front."""
    from pipeline_spark.sinks.iceberg_native import (
        delete_iceberg_native,
        merge_iceberg_native,
        update_iceberg_native,
    )
    from pipeline_spark.sinks.tableconvert import convert_iceberg_to_delta

    tbl = str(tmp_path / "noeq")
    write_iceberg_native(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    bad = {"path": tbl, "legacyGlobalDeletes": "aplly"}
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        read_iceberg_native(spark, dict(bad))
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        compact_iceberg_native(spark, dict(bad))
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        delete_iceberg_native(
            spark, {**bad, "where": [{"key": "id", "op": "=", "value": 1}]})
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        update_iceberg_native(
            spark, {**bad, "where": [{"key": "id", "op": "=", "value": 1}],
                    "set": {"id": "id + 1"}})
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        merge_iceberg_native(
            spark, spark.createDataFrame([(1, "x")], "id long, par string"),
            {**bad, "primaryKeys": ["id"]})
    with pytest.raises(ValueError, match="unknown legacyGlobalDeletes"):
        convert_iceberg_to_delta(spark, dict(bad))


def test_ambiguous_null_partition_delete_logs_residual_note(spark, tmp_path, caplog):
    """ADVICE r13 residual false-negative, now documented in-band: when a
    partitioned-spec all-null delete coexists WITH null-partition data,
    a legitimate null-scoped delete and a pre-r11 legacy global delete
    are byte-identical — undecidable.  The planner reads spec-strict
    (correct for the legitimate case, what every other reader does) and
    emits a log note naming the migration path.  No refusal, no
    warnings-module noise (the legitimate case is the common one)."""
    import logging

    tbl = str(tmp_path / "ambig")
    rows = [(0, "x"), (1, "x"), (0, None), (1, None)]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    _scope_delete_manifests(tbl, {"par": None})
    with caplog.at_level(logging.WARNING, logger="pipeline_spark.iceberg"):
        got = _got(spark, tbl)
    # spec-strict: only the null-partition copy of id=1 dies
    assert got == {(0, None), (0, "x"), (1, "x")}
    assert any("null-partition data" in r.message for r in caplog.records)


def test_ambiguous_apply_globalizes(spark, tmp_path, caplog):
    """r14 review find: the ambiguous-case log ADVISED 'apply' while
    force_global skipped ambiguous files — the advice was a no-op and
    rows in other partitions kept resurrecting.  'apply' is the user's
    explicit assertion that all-null records mean the pre-r11 GLOBAL
    reading, so it now globalizes the ambiguous files too (and the log
    says which interpretation is in force)."""
    import logging

    tbl = str(tmp_path / "ambig_apply")
    rows = [(0, "x"), (1, "x"), (0, None), (1, None), (1, "y")]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    _scope_delete_manifests(tbl, {"par": None})
    with caplog.at_level(logging.WARNING, logger="pipeline_spark.iceberg"):
        got = _got(spark, tbl, legacyGlobalDeletes="apply")
    # global reading: id=1 gone from EVERY partition
    assert got == {(0, "x"), (0, None)}
    assert any("GLOBAL (legacyGlobalDeletes: apply)" in r.message
               for r in caplog.records)


def _mk_ambiguous_table(spark, tmp_path, name):
    tbl = str(tmp_path / name)
    rows = [(0, "x"), (1, "x"), (0, None), (1, None), (1, "y")]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    _scope_delete_manifests(tbl, {"par": None})
    return tbl


def test_compact_ambiguous_requires_explicit_choice(spark, tmp_path):
    """ADVICE r14: compaction permanently bakes in whichever reading of
    an AMBIGUOUS all-null-record delete it applies, and a log warning in
    an automated compaction job is easy to miss.  The compact path now
    RAISES when ambiguity is detected and no explicit
    legacyGlobalDeletes choice was made; plain reads stay warn-only
    (the decision there is reversible)."""
    tbl = _mk_ambiguous_table(spark, tmp_path, "ambig_compact")
    with pytest.raises(ValueError, match="irreversible after compaction"):
        compact_iceberg_native(spark, {"path": tbl})
    # the refusal left the table untouched: spec-strict read still works
    got = _got(spark, tbl)
    assert got == {(0, None), (0, "x"), (1, "x"), (1, "y")}


def test_compact_ambiguous_explicit_strict_proceeds(spark, tmp_path):
    """An EXPLICIT 'refuse' (spec-strict) is a choice — compaction
    proceeds and bakes in the null-partition scoping."""
    tbl = _mk_ambiguous_table(spark, tmp_path, "ambig_strict")
    compact_iceberg_native(spark, {"path": tbl, "legacyGlobalDeletes": "refuse"})
    # post-compaction: delete files gone, spec-strict result materialized
    got = _got(spark, tbl)
    assert got == {(0, None), (0, "x"), (1, "x"), (1, "y")}


def test_compact_ambiguous_explicit_apply_migrates(spark, tmp_path):
    """An explicit 'apply' compacts with the pre-r11 GLOBAL reading."""
    tbl = _mk_ambiguous_table(spark, tmp_path, "ambig_migr")
    compact_iceberg_native(spark, {"path": tbl, "legacyGlobalDeletes": "apply"})
    got = _got(spark, tbl)
    assert got == {(0, "x"), (0, None)}


# --- r15 (VERDICT r14 ask #4): self-identifying equality deletes -----
#
# The first eq-delete commit this engine makes on a table stamps
# ``pipeline-spark.eq-scope-strict-since-seq`` (the commit's sequence
# number).  Any delete file at/after that cutoff was written in the
# post-r11 spec-strict era and CANNOT be a pre-r11 legacy global
# delete, so the reader's ambiguity detector skips it — the
# undecidable set stops growing with new writes.


def test_engine_eq_delete_stamps_strict_era_property(spark, tmp_path):
    import json as _json

    from pipeline_spark.sources.iceberg_native import find_table_metadata

    tbl = str(tmp_path / "stamp")
    write_iceberg_native(
        spark.createDataFrame([(0, "x"), (1, None)], "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    with open(find_table_metadata(tbl)) as fh:
        meta = _json.load(fh)
    stamp = (meta.get("properties") or {}).get(
        "pipeline-spark.eq-scope-strict-since-seq"
    )
    assert stamp is not None
    # the stamp is the eq-delete commit's OWN sequence number
    assert int(stamp) == int(meta["last-sequence-number"])
    # a second eq-delete commit keeps the EARLIEST stamp
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 0}]})
    with open(find_table_metadata(tbl)) as fh:
        meta2 = _json.load(fh)
    assert (meta2["properties"][
        "pipeline-spark.eq-scope-strict-since-seq"] == stamp)


@pytest.mark.parametrize("nrows", [2, 5])
def test_post_stamp_deletes_never_trigger_ambiguity(
    spark, tmp_path, caplog, nrows
):
    """Deletes written AFTER the stamp never trigger the ambiguity
    warning, even with an all-null partition record on a table that
    holds null-partition data (the byte-identical-to-legacy shape)."""
    import logging

    from pipeline_spark.testing import scope_delete_manifests

    tbl = str(tmp_path / f"poststamp{nrows}")
    rows = [(i, p) for i in range(nrows) for p in ("x", None)]
    write_iceberg_native(
        spark.createDataFrame(rows, "id long, par string"),
        {"path": tbl, "mode": "create", "partitionBy": ["par"]},
    )
    # engine-written delete stamps the table
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 0}]})
    # a post-stamp writer scopes a delete to the null partition —
    # keep_stamp simulates it writing AFTER this engine touched the
    # table (its file seq is >= the cutoff, so it self-identifies)
    equality_delete_iceberg_native(spark, {"path": tbl, "values": [{"id": 1}]})
    scope_delete_manifests(tbl, {"par": None}, keep_stamp=True)
    with caplog.at_level(logging.WARNING, logger="pipeline_spark.iceberg"):
        got = _got(spark, tbl)
    # spec-strict, silently: id=0 gone everywhere (global), id=1 only
    # from the null partition
    expect = {
        (i, p) for i, p in rows
        if i != 0 and not (i == 1 and p is None)
    }
    assert got == expect
    assert not any(
        "null-partition data" in r.message or "legacy GLOBAL" in r.message
        for r in caplog.records
    )
    # and compaction needs no explicit legacyGlobalDeletes choice
    compact_iceberg_native(spark, {"path": tbl})
    assert _got(spark, tbl) == expect


def test_pre_stamp_files_keep_legacy_detection(spark, tmp_path):
    """Old-file behavior unchanged: files that PREDATE the stamp (or
    tables with no stamp at all) still go through detection — the
    default simulator path strips the stamp, and the refusal fires."""
    tbl, _ = _mk_legacy_table(spark, tmp_path, "prestamp")
    with pytest.raises(ValueError, match="legacy GLOBAL"):
        _got(spark, tbl)
