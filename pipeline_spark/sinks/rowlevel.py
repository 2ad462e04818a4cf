"""Row-level DELETE / UPDATE ... WHERE, keyed MERGE and compaction,
planned once for both lakehouse formats.

The Delta and Iceberg sinks share one ``where`` / ``set`` surface, one
keyed-merge surface and one compaction surface; this module is the only
place that plans them.  A format adapter opens the table and describes
it as a :class:`Table`: its live data files, the stats test, a live-row
reader, the stage step, (Delta) change-data staging and how files bin
for compaction.  :func:`mutate` then

1. checks ``set`` against the table's columns;
2. keeps the files whose stats admit ``where``;
3. copy-on-write: counts the matches per file in ONE probe
   (``filter(cond).groupBy("__fp__").count()``), re-reads only the files
   that hold a match and stages them rewritten — a delete keeps the rows
   where ``NOT coalesce(cond, false)`` holds (a predicate-NULL row did
   not match), an update applies ``CASE WHEN match THEN set`` in one
   projection over the pre-update row, and a row keeps its lineage id
   while an updated row's lineage version moves to the next commit;
4. merge-on-read: builds the matched ``(__fp__, __pos__)`` frame for the
   adapter's position encoder instead; an update also stages the matched
   rows with ``set`` applied and their lineage kept and bumped as above;

and hands the :class:`Plan` to the adapter's commit.

:func:`merge` is the same plan with a key match: a CDC batch splits on
its op column into upsert rows and touched keys, the ``where`` is the
touched keys' range, and a row matches when its key is touched (a
semi-join; survivors are the anti-join).  The adapter's commit appends
the upsert rows beside the deletes: a keyed merge is a delete plus an
append.

:func:`compact` is the rewrite that keeps every row: it bin-packs the
live files per ``bin_key`` (partition values; Iceberg adds the spec id)
into ``targetFileBytes`` bins, reads each bin through the same live-row
reader (deletes applied, lineage carried) and lays it out as one file in
the table's sort order, or z-ordered.  The adapter's commit replaces the
bins' files with the staged ones; a compaction that lost a true
conflict re-plans (:func:`replan`).
"""

from __future__ import annotations

import math
import urllib.parse
from dataclasses import dataclass, field
from typing import Any, Callable

from pipeline_spark.functions.sqltext import atomic_ddl, qi
from pipeline_spark.sources.delta_native import data_filter_sql

#: how many times a compaction that lost a true conflict re-plans from
#: the fresh snapshot (a disjoint race only rebases its commit)
REPLANS = 2

_UNKNOWN_SET = {
    "delta": "delta update: set targets unknown columns {}",
    "iceberg": "iceberg update: set columns {} not in schema",
}


@dataclass
class Table:
    """One opened table, as a format adapter describes it."""

    fmt: str  # "delta" / "iceberg": the error-message prefix
    files: list[dict]  # live data-file entries
    columns: list[str]  # the data columns a staged file holds, in order
    may_match: Callable[[dict, list[dict]], bool]  # the stats admit `where`
    path_of: Callable[[dict], str]  # entry -> the raw path __fp__ holds
    # live rows of some entries: `columns` (partition values filled in)
    # plus __fp__/__pos__; with lineage=True also the lineage columns
    read: Callable[[list[dict], bool], Any]
    stage: Callable[[int, list[dict], Any], list]  # write one group's rows
    # the units a rewrite stages separately (Delta: one per partition)
    groups: Callable[[list[dict]], list[list[dict]]] = lambda fs: [fs]
    part_cols: list[str] = field(default_factory=list)  # set refuses these
    types: dict | None = None  # cast `set` results to these column types
    lineage: tuple[str, str, int] | None = None  # (id, version, next version)
    # (group index, entries, matched rows, their updated rows or None)
    changes: Callable[[int, list[dict], Any, Any], None] | None = None
    size: Callable[[dict], int] = lambda f: int(f.get("size") or 0)
    # the unit a compaction bin never crosses
    bin_key: Callable[[dict], tuple] = lambda f: ()
    sort_cols: list[str] = field(default_factory=list)  # a bin's layout


@dataclass
class Plan:
    """What a commit gets: the entries it replaces (copy-on-write: the
    files holding a match; merge-on-read: every candidate), the matched
    row count from the probe (copy-on-write), the staged files, and the
    matched ``(__fp__, __pos__)`` frame (merge-on-read, None when no
    file was a candidate).  A merge's plan also carries the upsert rows
    to append and the key-range ``where`` its commit declares as read."""

    files: list[dict]
    rows: int = 0
    staged: list = field(default_factory=list)
    positions: Any = None
    upserts: Any = None
    where: list[dict] = field(default_factory=list)


@dataclass
class _Match:
    """How a plan tells matched rows: ``rows(df)`` keeps them, ``rest(df)``
    keeps the others; a predicate also gives ``sql``, the CASE WHEN test
    of an update, and ``probe``, the same rows as a filter the scan can
    push down."""

    rows: Callable[[Any], Any]
    rest: Callable[[Any], Any]
    sql: str | None = None
    probe: Callable[[Any], Any] | None = None


def where_of(fmt: str, op: str, p: dict) -> list[dict]:
    where = p.get("where")
    if not where:
        raise ValueError(f"{fmt} {op}: 'where' predicate list is required")
    return [where] if isinstance(where, dict) else list(where)


def set_of(fmt: str, p: dict) -> dict[str, str]:
    set_exprs = p.get("set")
    if not set_exprs:
        raise ValueError(f"{fmt} update: 'set' {{column: expression}} is required")
    return dict(set_exprs)


def mutate(t: Table, where: list[dict], set_exprs: dict | None, *,
           mor: bool, commit: Callable[[Plan], dict]) -> dict | None:
    """Plan a DELETE (``set_exprs=None``) or UPDATE over ``t`` and return
    ``commit(plan)``, or None when no live row matches (nothing staged).
    Frames cached for the merge-on-read consumers are released after
    the commit."""
    if set_exprs:
        unknown = [
            c for c in set_exprs if c not in t.columns and c not in t.part_cols
        ]
        if unknown:
            raise ValueError(_UNKNOWN_SET[t.fmt].format(unknown))
        parts = [c for c in set_exprs if c in t.part_cols]
        if parts:
            raise ValueError(
                f"{t.fmt} update: set cannot target partition columns "
                f"{parts} — rows would stay under their old "
                "partitionValues; rewrite via overwrite instead"
            )
    candidates = [f for f in t.files if t.may_match(f, where)]
    if not candidates:
        return None
    cond = data_filter_sql(where)
    match = f"coalesce(({cond}), false)"
    m = _Match(lambda df: df.where(match),
               lambda df: df.where(f"NOT {match}"), match,
               lambda df: df.where(cond))
    if not mor:
        plan = _rewrite(t, candidates, m, set_exprs)
        return None if plan is None else commit(plan)
    cached: list = []
    try:
        return commit(_positions(t, candidates, m, set_exprs, cached))
    finally:
        for df in cached:
            df.unpersist()


def split(df, keys: list[str], op_field: str = "__op__"):
    """``(upsert rows, touched keys)`` of a CDC batch: a row whose
    ``op_field`` is DELETE only removes its key, every other row (a
    missing or NULL op included) replaces its key's row."""
    from pyspark.sql import functions as F

    touched = df.select(*keys).distinct()
    if op_field not in df.columns:
        return df, touched
    upserts = df.filter(
        F.upper(F.coalesce(F.col(op_field), F.lit("UPSERT"))) != "DELETE"
    ).drop(op_field)
    return upserts, touched


def merge(t: Table, df, keys: list[str], *, mor: bool,
          commit: Callable[[Plan], dict], op_field: str = "__op__") -> dict:
    """Plan a keyed MERGE of the CDC batch ``df`` into ``t`` and return
    ``commit(plan)``; the plan always reaches the commit, which appends
    ``plan.upserts`` whether or not a live row matched.

    ``where`` is the touched keys' ``[min, max]`` per orderable key
    column, from one aggregate row (a file wholly outside it on any key
    cannot match); a file the stats admit is probed by a semi-join
    against the touched keys."""
    from pyspark.sql import functions as F

    upserts, touched = split(df, keys, op_field)
    where: list[dict] = []
    if t.files:
        row = df.agg(
            *[F.min(k).alias(f"mn{i}") for i, k in enumerate(keys)],
            *[F.max(k).alias(f"mx{i}") for i, k in enumerate(keys)],
        ).collect()[0]
        for i, k in enumerate(keys):
            mn, mx = row[f"mn{i}"], row[f"mx{i}"]
            if isinstance(mn, (int, float, str)) and not isinstance(mn, bool):
                where += [{"key": k, "op": ">=", "value": mn},
                          {"key": k, "op": "<=", "value": mx}]
    candidates = [f for f in t.files if not where or t.may_match(f, where)]
    m = _Match(lambda d: d.join(touched, keys, "left_semi"),
               lambda d: d.join(touched, keys, "left_anti"))
    cached: list = []
    try:
        plan = None
        if candidates:
            plan = (_positions(t, candidates, m, None, cached) if mor
                    else _rewrite(t, candidates, m, None))
        plan = plan or Plan([])
        plan.upserts, plan.where = upserts, where
        return commit(plan)
    finally:
        for d in cached:
            d.unpersist()


def compact(t: Table, *, target: int, min_files: int,
            zorder: list[str] = (), rewrite_all: bool = False,
            forced: set[str] = frozenset(),
            commit: Callable[[Plan], dict]) -> dict | None:
    """Plan a compaction of ``t`` and return ``commit(plan)``, or None
    when no bin forms.  ``plan.files`` are the rewritten entries and
    ``plan.staged`` their rewrite: every live row, with its lineage.

    Files bin per ``t.bin_key``.  With ``zorder`` or ``rewrite_all``
    every live file of a key is one bin; otherwise the files under
    ``target`` bytes, and every file whose path is in ``forced``, pack
    smallest first into bins of about ``target`` bytes, and a bin is
    rewritten when it holds ``min_files`` files or a forced one.  A bin
    is laid out as one file in ``t.sort_cols`` order, or with
    ``zorder`` as ``ceil(bytes / target)`` files range-partitioned on
    the Morton value of those columns."""
    missing = [c for c in zorder if c not in t.columns]
    if missing:
        raise ValueError(
            f"{t.fmt} compact: zOrderBy columns {missing} are not "
            "data-file columns"
        )
    every = bool(zorder) or rewrite_all
    keyed: dict[tuple, list[dict]] = {}
    for f in t.files:
        if every or t.size(f) < target or t.path_of(f) in forced:
            keyed.setdefault(t.bin_key(f), []).append(f)
    bins = list(keyed.values()) if every else [
        b for files in keyed.values()
        for b in _pack(t, files, target, min_files, forced)
    ]
    if not bins:
        return None
    staged: list = []
    for i, files in enumerate(bins):
        df = t.read(files, True).selectExpr(*map(qi, _out_cols(t)))
        if zorder:
            from pipeline_spark.functions.zorder import zvalue_column

            df, z, tmps = zvalue_column(df.sparkSession, df, list(zorder))
            n = max(1, math.ceil(sum(map(t.size, files)) / target))
            df = (
                df.withColumn("__z__", z).repartitionByRange(n, "__z__")
                .sortWithinPartitions("__z__").drop("__z__", *tmps)
            )
        else:
            df = df.coalesce(1)
            if t.sort_cols:
                df = df.sortWithinPartitions(*t.sort_cols)
        staged += t.stage(i, files, df)
    return commit(Plan([f for b in bins for f in b], staged=staged))


def _pack(t, files, target, min_files, forced) -> list[list[dict]]:
    bins: list[list[dict]] = []
    cur: list[dict] = []
    size, force = 0, False
    for f in sorted(files, key=t.size):
        cur.append(f)
        size += t.size(f)
        force = force or t.path_of(f) in forced
        if size >= target:
            if len(cur) >= min_files or force:
                bins.append(cur)
            cur, size, force = [], 0, False
    if cur and (len(cur) >= min_files or force):
        bins.append(cur)
    return bins


def replan(attempt: Callable[[], dict], conflicts: tuple) -> dict:
    """``attempt()`` (plan from a fresh snapshot and commit), again up
    to :data:`REPLANS` times while it raises one of ``conflicts``; the
    files a lost attempt staged stay orphaned."""
    for _ in range(REPLANS):
        try:
            return attempt()
        except conflicts:
            pass
    return attempt()


def _rewrite(t, candidates, m: _Match, set_exprs) -> Plan | None:
    counts = (
        (m.probe or m.rows)(t.read(candidates, False))
        .groupBy("__fp__").count().collect()
    )
    hits: set[str] = set()
    for r in counts:
        # __fp__ is decoded from a URI; entries may hold either spelling
        hits |= {r[0], urllib.parse.unquote(r[0])}
    hit = [
        f for f in candidates
        if t.path_of(f) in hits or urllib.parse.unquote(t.path_of(f)) in hits
    ]
    if not hit:
        return None  # the stats admitted a match the rows do not hold
    staged: list = []
    for i, files in enumerate(t.groups(hit)):
        df = t.read(files, True)
        if t.changes:
            pre = m.rows(df)
            t.changes(
                i, files, pre,
                pre.selectExpr(*_updated(t, set_exprs, None)) if set_exprs
                else None,
            )
        if set_exprs:
            out = df.selectExpr(*_updated(t, set_exprs, m.sql))
        else:
            out = m.rest(df).selectExpr(*map(qi, _out_cols(t)))
        staged += t.stage(i, files, out)
    return Plan(hit, sum(int(r[1]) for r in counts), staged)


def _positions(t, candidates, m: _Match, set_exprs, cached) -> Plan:
    frames, staged = [], []
    for i, files in enumerate(t.groups(candidates)):
        # an update stages the matched rows again: with their lineage
        matched = m.rows(t.read(files, bool(set_exprs)))
        if set_exprs or t.changes:
            # up to three consumers (change rows, the updated rows, the
            # positions): scan the candidates once
            matched = matched.persist()
            cached.append(matched)
        post = (
            matched.selectExpr(*_updated(t, set_exprs, None)) if set_exprs
            else None
        )
        if t.changes:
            t.changes(i, files, matched, post)
        if post is not None:
            staged += t.stage(i, files, post)
        frames.append(matched.select("__fp__", "__pos__"))
    positions = frames[0]
    for x in frames[1:]:
        positions = positions.unionByName(x)
    return Plan(candidates, 0, staged, positions)


def _out_cols(t: Table) -> list[str]:
    return t.columns + (list(t.lineage[:2]) if t.lineage else [])


def _updated(t: Table, set_exprs: dict, match: str | None) -> list[str]:
    """The staged columns with ``set`` applied where ``match`` holds (to
    every row when None), all evaluated over the pre-update row; the
    lineage version of an updated row moves to the next commit.  With
    ``t.types``, a ``set`` result is cast to its column's atomic type (a
    nested value must already have the column's type)."""
    out = []
    for c in _out_cols(t):
        if c in set_exprs:
            v = f"({set_exprs[c]})"
            ddl = atomic_ddl(t.types[c]) if t.types else None
            if ddl:
                v = f"CAST({v} AS {ddl})"
        elif t.lineage and c == t.lineage[1]:
            v = str(int(t.lineage[2]))
        else:
            out.append(qi(c))
            continue
        if match is not None:
            v = f"CASE WHEN {match} THEN {v} ELSE {qi(c)} END"
        out.append(f"{v} AS {qi(c)}")
    return out
