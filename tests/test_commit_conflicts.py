"""The conflict matrix: the same race on a Delta table and on an Iceberg
filesystem table, one pinned outcome per row.

Each row races a LOSER against a WINNER.  The loser plans against the
table; at its version claim the winner lands first (injected the way
``tests/test_iceberg_concurrency.py`` does: Delta's ``os.link`` of the
``_delta_log`` version file, Iceberg's ``_publish_metadata_exclusive``),
so the loser's claim fails and it must rebase or give up.  Outcomes:

``commit``    the loser rebases and lands; both effects are visible;
``conflict``  the loser raises ``FileExistsError`` — or, for a
              compaction, which re-plans on a conflict, plans twice;
``skip``      the loser is a replay of the batch the winner commits:
              it writes nothing.

Every delete is merge-on-read (Delta deletion vectors, Iceberg position
deletes), the shape whose rows the two formats once disagreed on.  The
alter row uses each format's metadata-only ALTER: Iceberg adds a
column; Delta, which has no add-column alter, renames one under column
mapping.  Both declare ``reads="metadata"``.
"""

import os

import pytest

import pipeline_spark.sinks.iceberg_native as ice
from pipeline_spark.sinks import delta_native as dn
from pipeline_spark.sinks import rowlevel
from pipeline_spark.sources.delta_native import read_delta_native
from pipeline_spark.sources.iceberg_native import plan_files, read_iceberg_native

SCHEMA = "id long, v string"


def _df(spark, ids):
    return spark.createDataFrame([(i, "v") for i in ids], SCHEMA).coalesce(1)


class _Delta:
    def __init__(self, spark, tbl):
        self.spark, self.tbl = spark, tbl

    def create(self, ids):
        dn.write_delta_native(self.spark, _df(self.spark, ids), {"path": self.tbl})

    def append(self, ids):
        dn.write_delta_native(
            self.spark, _df(self.spark, ids), {"path": self.tbl, "mode": "append"}
        )

    def overwrite(self, ids):
        dn.write_delta_native(
            self.spark, _df(self.spark, ids), {"path": self.tbl, "mode": "overwrite"}
        )

    def delete(self, where):
        dn.delete_delta_native(
            self.spark, {"path": self.tbl, "where": where, "method": "mor"}
        )

    def compact(self, target):
        return dn.compact_delta_native(
            self.spark, {"path": self.tbl, "targetFileBytes": target}
        )

    def alter(self):
        dn.alter_delta_native(self.spark, {
            "path": self.tbl, "enableColumnMapping": True,
            "renameColumn": {"v": "w"},
        })

    def replay(self, ids, app, batch):
        dn.write_delta_native(
            self.spark, _df(self.spark, ids), {"path": self.tbl, "mode": "append"},
            txn=(app, batch),
        )

    def ids(self):
        return sorted(
            r["id"] for r in read_delta_native(self.spark, {"path": self.tbl})
            .collect()
        )

    def commits(self):
        """The table's version: one more per commit, data or metadata."""
        from pipeline_spark.sources.delta_native import _log_dir, latest_version

        return latest_version(_log_dir(self.tbl))

    def sizes(self):
        from pipeline_spark.sources.delta_native import replay_state

        return [int(a["size"]) for a in replay_state(self.tbl)[0]]

    def race(self, monkeypatch, interleave):
        real = os.link
        state = {"injected": False}

        def racing(src, dst, *a, **kw):
            if (not state["injected"] and "_delta_log" in str(dst)
                    and str(dst).endswith(".json")):
                state["injected"] = True
                interleave()
            return real(src, dst, *a, **kw)

        monkeypatch.setattr(os, "link", racing)
        return state


class _Iceberg(_Delta):
    def create(self, ids):
        ice.write_iceberg_native(_df(self.spark, ids), {
            "path": self.tbl, "mode": "create",
        })

    def append(self, ids):
        ice.write_iceberg_native(_df(self.spark, ids), {
            "path": self.tbl, "mode": "append",
        })

    def overwrite(self, ids):
        ice.write_iceberg_native(_df(self.spark, ids), {
            "path": self.tbl, "mode": "overwrite",
        })

    def delete(self, where):
        ice.delete_iceberg_native(
            self.spark, {"path": self.tbl, "where": where, "method": "mor"}
        )

    def compact(self, target):
        return ice.compact_iceberg_native(
            self.spark, {"path": self.tbl, "targetFileBytes": target}
        )

    def alter(self):
        ice.alter_iceberg_native(self.spark, {
            "path": self.tbl, "addColumn": {"name": "w", "type": "string"},
        })

    def replay(self, ids, app, batch):
        ice.write_iceberg_native(
            _df(self.spark, ids), {"path": self.tbl, "mode": "append"},
            txn=(app, batch),
        )

    def ids(self):
        return sorted(
            r["id"] for r in read_iceberg_native(self.spark, {"path": self.tbl})
            .collect()
        )

    def commits(self):
        from pipeline_spark.sources.iceberg_native import load_table_metadata

        return int(load_table_metadata(self.tbl)["__version"])

    def sizes(self):
        return [int(d["file_size_in_bytes"]) for d in plan_files(self.tbl)[0]]

    def race(self, monkeypatch, interleave):
        real = ice._publish_metadata_exclusive
        state = {"injected": False}

        def racing(meta_dir, version, meta):
            if not state["injected"]:
                state["injected"] = True
                interleave()
            return real(meta_dir, version, meta)

        monkeypatch.setattr(ice, "_publish_metadata_exclusive", racing)
        return state


FORMATS = {"delta": _Delta, "iceberg": _Iceberg}
BASE = list(range(10))
LT5 = [{"key": "id", "op": "<", "value": 5}]


def _race(f, monkeypatch, loser, winner) -> str:
    """Run ``loser()`` with ``winner()`` landing at its claim and return
    the outcome, after asserting the winner did land."""
    plans = {"n": 0}
    real_compact = rowlevel.compact

    def counting(*a, **kw):
        plans["n"] += 1
        return real_compact(*a, **kw)

    before = f.commits()
    monkeypatch.setattr(rowlevel, "compact", counting)
    state = f.race(monkeypatch, winner)
    try:
        loser()
        outcome = "commit"
    except FileExistsError:
        outcome = "conflict"
    finally:
        monkeypatch.undo()
    assert state["injected"]
    if plans["n"] > 1:
        return "conflict"
    if outcome == "commit" and f.commits() == before + 1:
        return "skip"  # only the winner's commit landed
    return outcome


#: row -> (fn(f) -> (loser, winner), outcome, the table's ids after)
ROWS = {
    "append||append": (
        lambda f: (lambda: f.append([100]), lambda: f.append([200])),
        "commit", BASE + [100, 200]),
    "delete||disjoint_append": (
        lambda f: (lambda: f.delete(LT5), lambda: f.append([500])),
        "commit", list(range(5, 10)) + [500]),
    "delete||overlapping_append": (
        lambda f: (lambda: f.delete(LT5), lambda: f.append([3])),
        "conflict", BASE + [3]),
    "overwrite||append": (
        lambda f: (lambda: f.overwrite([300]), lambda: f.append([200])),
        "conflict", BASE + [200]),
    "alter||append": (
        lambda f: (f.alter, lambda: f.append([200])),
        "commit", BASE + [200]),
    "replayed_batch||its_own_commit": (
        lambda f: (lambda: f.replay([700], "app", 7),
                   lambda: f.replay([700], "app", 7)),
        "skip", BASE + [700]),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
@pytest.mark.parametrize("row", list(ROWS))
def test_conflict_matrix(spark, tmp_path, monkeypatch, row, fmt):
    f = FORMATS[fmt](spark, str(tmp_path / "t"))
    f.create(BASE)
    make, want, ids = ROWS[row]
    assert _race(f, monkeypatch, *make(f)) == want
    assert f.ids() == sorted(ids)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
@pytest.mark.parametrize("where", ["untouched", "compacted"])
def test_conflict_matrix_compaction_vs_delete(
    spark, tmp_path, monkeypatch, where, fmt
):
    """compaction || delete: one large file stays untouched, two small
    files compact.  A delete on the untouched file lets the compaction
    rebase; a delete on a compacted file makes it re-plan.  Either way
    the deleted row stays deleted."""
    f = FORMATS[fmt](spark, str(tmp_path / "t"))
    f.create(range(2000))
    f.append(range(2000, 2005))
    f.append(range(2005, 2010))
    big = max(f.sizes())
    gone = 5 if where == "untouched" else 2007
    outcome = _race(
        f, monkeypatch, lambda: f.compact(big),
        lambda: f.delete([{"key": "id", "op": "=", "value": gone}]),
    )
    assert outcome == ("commit" if where == "untouched" else "conflict")
    assert f.ids() == [i for i in range(2010) if i != gone]
