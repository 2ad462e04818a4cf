"""A model-based test of both lakehouse formats.

A hypothesis ``RuleBasedStateMachine`` drives a Delta table with row
tracking and an Iceberg v3 filesystem table through the same random
sequence of appends, ``where`` deletes (copy-on-write and merge-on-read)
and compactions (bin-pack and ``zOrderBy``).  The model is a pandas
frame of the live rows plus each row's id in each table.  After every
step each table reads exactly the model's rows, a fresh row takes an id
no other row holds, and every surviving row keeps its id through deletes
and compactions.

The default tier runs one fixed seed of at most 20 steps; the slow tier
runs more examples.  A shrunk failure is pinned as a replayed step list
(``test_pinned_*``), the stateful form of ``@example``.
"""

import os
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    rule,
    run_state_machine_as_test,
)

from pipeline_spark.sinks.delta_native import (
    compact_delta_native,
    delete_delta_native,
    write_delta_native,
)
from pipeline_spark.sinks.iceberg_native import (
    compact_iceberg_native,
    delete_iceberg_native,
    write_iceberg_native,
)
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import read_iceberg_native

KS = st.lists(st.one_of(st.none(), st.integers(0, 9)), min_size=1, max_size=5)
WHERE = st.tuples(st.sampled_from(["<", ">=", "="]), st.integers(0, 9))


class Lakehouse(RuleBasedStateMachine):
    """Both tables and the model; ``spark`` and ``root`` are set by the
    test that runs the machine."""

    spark = None
    root = None

    def __init__(self):
        super().__init__()
        base = tempfile.mkdtemp(dir=self.root)
        self.delta = os.path.join(base, "delta")
        self.iceberg = os.path.join(base, "iceberg")
        self.model = pd.DataFrame({
            c: pd.Series(dtype="Int64")
            for c in ("id", "k", "delta_rid", "iceberg_rid")
        })
        self.next_id = 0

    def _batch(self, ks):
        rows = [(self.next_id + i, k) for i, k in enumerate(ks)]
        self.next_id += len(ks)
        return self.spark.createDataFrame(rows, "id long, k long").coalesce(1)

    def _read(self) -> dict[str, dict[int, tuple]]:
        """id -> (k, row id) per table."""
        out = {}
        for fmt, read, path in (
            ("delta", read_delta_native, self.delta),
            ("iceberg", read_iceberg_native, self.iceberg),
        ):
            rows = read(self.spark, {"path": path, "withRowIds": True})
            got = [(r["id"], r["k"], r["_row_id"])
                   for r in rows.select("id", "k", "_row_id").collect()]
            out[fmt] = {i: (k, rid) for i, k, rid in got}
            assert len(out[fmt]) == len(got), f"{fmt}: duplicate rows"
        return out

    def _check(self, fresh=()):
        """Each table reads the model's rows and keeps each modelled id;
        the ``fresh`` rows take their ids from the tables, ids no other
        row holds."""
        tables = self._read()
        fresh = set(fresh)
        for fmt, got in tables.items():
            want_ids = set(self.model["id"].astype(int)) | fresh
            assert set(got) == want_ids, fmt
            ids = [rid for _k, rid in got.values()]
            assert len(set(ids)) == len(ids), f"{fmt}: row ids collide"
            for r in self.model.itertuples():
                k = None if pd.isna(r.k) else int(r.k)
                assert got[r.id] == (k, int(getattr(r, f"{fmt}_rid"))), (
                    fmt, r.id)
        if fresh:
            new = pd.DataFrame({
                "id": sorted(fresh),
                "k": [tables["delta"][i][0] for i in sorted(fresh)],
                "delta_rid": [tables["delta"][i][1] for i in sorted(fresh)],
                "iceberg_rid": [
                    tables["iceberg"][i][1] for i in sorted(fresh)
                ],
            }, dtype="Int64")
            self.model = new if self.model.empty else pd.concat(
                [self.model, new], ignore_index=True)

    @initialize(ks=KS)
    def create(self, ks):
        df = self._batch(ks)
        write_delta_native(self.spark, df, {
            "path": self.delta,
            "properties": {"delta.enableRowTracking": "true"},
        })
        write_iceberg_native(df, {
            "path": self.iceberg, "mode": "create",
            "properties": {"format-version": "3"},
        })
        self._check(fresh=range(self.next_id - len(ks), self.next_id))

    @rule(ks=KS)
    def insert(self, ks):
        df = self._batch(ks)
        write_delta_native(
            self.spark, df, {"path": self.delta, "mode": "append"}
        )
        write_iceberg_native(df, {"path": self.iceberg, "mode": "append"})
        self._check(fresh=range(self.next_id - len(ks), self.next_id))

    @rule(where=WHERE, mor=st.booleans())
    def delete(self, where, mor):
        op, value = where
        pred = [{"key": "k", "op": op, "value": value}]
        delete_delta_native(self.spark, {
            "path": self.delta, "where": pred,
            **({"method": "mor"} if mor else {}),
        })
        delete_iceberg_native(self.spark, {
            "path": self.iceberg, "where": pred,
            "method": "mor" if mor else "cow",
        })
        k = self.model["k"]
        hit = {"<": k < value, ">=": k >= value, "=": k == value}[op]
        self.model = self.model[~hit.fillna(False).astype(bool)]
        self._check()

    @rule(zorder=st.booleans())
    def compact(self, zorder):
        p = {"zOrderBy": ["k"]} if zorder else {}
        compact_delta_native(self.spark, {"path": self.delta, **p})
        compact_iceberg_native(self.spark, {"path": self.iceberg, **p})
        self._check()


def _run(spark, tmp_path, **kw):
    Lakehouse.spark, Lakehouse.root = spark, str(tmp_path)
    run_state_machine_as_test(Lakehouse, settings=settings(
        deadline=None, database=None, print_blob=True,
        suppress_health_check=list(HealthCheck), **kw,
    ))


def test_lakehouse_model(spark, tmp_path):
    # hypothesis tries its simplest example first (the first rule by
    # argument count and name, repeated: a cheap no-op compaction of a
    # one-file table), so the fixed seed runs three examples
    _run(spark, tmp_path, max_examples=3, stateful_step_count=15,
         derandomize=True)


@pytest.mark.slow
def test_lakehouse_model_more_examples(spark, tmp_path):
    _run(spark, tmp_path, max_examples=15, stateful_step_count=20)


def test_pinned_zorder_keeps_row_ids(spark, tmp_path):
    """The shrunk failure the fixed seed found before compaction was
    planned once: a Delta ``zOrderBy`` OPTIMIZE renumbered every row."""
    Lakehouse.spark, Lakehouse.root = spark, str(tmp_path)
    state = Lakehouse()
    state.create(ks=[None])
    state.compact(zorder=True)
    state.teardown()


def test_pinned_delete_of_every_row_keeps_row_id_columns(spark, tmp_path):
    """The shrunk failure the slow tier's random examples found: a Delta
    read ``withRowIds`` of a table whose every row was deleted had no
    ``_row_id`` column."""
    Lakehouse.spark, Lakehouse.root = spark, str(tmp_path)
    state = Lakehouse()
    state.create(ks=[0])
    state.delete(mor=False, where=("<", 1))
    state.teardown()
