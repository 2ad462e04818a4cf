"""The one optimistic-concurrency rule of both lakehouse formats.

A commit that loses its version claim (Delta: the ``_delta_log`` version
file; Iceberg: ``vN.metadata.json`` or the REST catalog's
``assert-ref-snapshot-id``) reads what the commits that beat it changed
as format-neutral :class:`Event` s and rebases onto them unless one
touched what the operation declares in ``reads``:

``"append"``    a blind append (or blind equality deletes): only a shape
                change conflicts;
``[...]``       a ``where`` domain (replaceWhere, DML, merge): any
                metadata change, or an added data file whose stats admit
                the predicate (``[]`` admits every add);
``"files"``     a layout rewrite (compaction, z-order): any metadata
                change; adds never conflict;
``"metadata"``  an alter: any metadata change or format upgrade;
``"table"``     a create, a full overwrite or a restore: anything.

Whatever it reads, a commit also conflicts with a shape change (schema,
partitioning, constraints, a format or protocol this engine cannot
write), a rollback of the snapshot it planned from, the removal of a
file it removes or deletes rows from (``removes`` / ``deletes``), and a
row-level delete on such a file — an equality delete when it removes
any, since its rewritten rows would outrank the delete.

Each format only maps its interleaved commits to events: Delta's
``sinks/delta_native.commit`` from the actions of the versions that won,
Iceberg's ``sinks/iceberg_native.commit_changes`` from the difference of
the metadata it planned from and the fresh metadata.  A ``txn`` event
carrying this commit's own ``(app id, batch id)`` (or a later batch)
means the commit is a replay that already landed: it writes nothing.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterable

#: how many lost races a commit rebases over before it gives up
RETRIES = 20

SHAPE = "shape"          # schema, partitioning, constraints, format
METADATA = "metadata"    # any other table metadata
UPGRADE = "upgrade"      # a format or protocol upgrade this engine writes
REMOVE = "remove"        # a data file removed
ADD = "add"              # a data file added (a data change)
DELETE = "delete"        # a row-level delete on a data file
ROLLBACK = "rollback"    # the snapshot planned from is gone
TXN = "txn"              # a streaming batch committed


@dataclass(frozen=True)
class Event:
    """One change an interleaved commit made.  ``at`` names the commit
    (a Delta version, an Iceberg metadata version); ``what`` is the shape
    that changed; ``path`` the data file removed or deleted from (None
    for an equality delete: every older file); ``may_match(where)`` an
    added file's stats test; ``txn`` a committed ``(app id, batch id)``."""

    kind: str
    at: Any = None
    what: str = ""
    path: str | None = None
    may_match: Callable[[list[dict]], bool] | None = None
    txn: tuple[str, int] | None = None


def check(
    events: Iterable[Event], reads: str | list[dict], *,
    removes: Iterable[str] = (), deletes: Iterable[str] = (),
    txn: tuple[str, int] | None = None, who: str, retries: int,
) -> bool:
    """Decide a lost race: True when an interleaved commit carries this
    commit's ``txn`` (a replay: write nothing), False to rebase, or raise
    ``FileExistsError`` when an event touched what ``reads`` declares —
    and after :data:`RETRIES` rebases.  ``events`` may be lazy: ``txn``
    events come first, and nothing past the first conflict is read."""
    if retries >= RETRIES:
        raise FileExistsError(
            f"{who}: concurrent commits raced this operation {retries} "
            "times — retry the write"
        )
    removes, targets = set(removes), set(removes) | set(deletes)
    what, inside = (
        ("replaceWhere", "inside the replaceWhere domain")
        if who == "delta sink"
        else ("operation", "matching this operation's read predicate")
    )

    def conflict(msg: str, at) -> FileExistsError:
        return FileExistsError(
            f"{who}: concurrent commit {at} {msg} — re-plan against the "
            "new snapshot"
        )

    for ev in events:
        if ev.kind == TXN:
            if (txn is not None and ev.txn[0] == str(txn[0])
                    and ev.txn[1] >= int(txn[1])):
                return True
        elif reads == "table":
            raise conflict("raced an operation that reads the whole table",
                           ev.at)
        elif ev.kind == ROLLBACK:
            raise conflict(
                "rolled back or expired the snapshot this operation "
                "planned against", ev.at)
        elif ev.kind == SHAPE:
            raise conflict(f"changed the table {ev.what} mid-operation",
                           ev.at)
        elif ev.kind == METADATA and reads != "append":
            raise conflict("changed the table metadata mid-operation", ev.at)
        elif ev.kind == UPGRADE and reads == "metadata":
            raise conflict("upgraded the table protocol mid-alter", ev.at)
        elif ev.kind == REMOVE and ev.path in targets:
            raise conflict(f"removed a file this {what} also rewrites",
                           ev.at)
        elif ev.kind == DELETE and (
            ev.path in targets if ev.path is not None else bool(removes)
        ):
            raise conflict(
                "deleted rows of a file this operation rewrites or "
                "re-vectors" if ev.path is not None else
                "added an equality delete this operation's rewritten "
                "files would outrank", ev.at)
        elif ev.kind == ADD and isinstance(reads, list) and (
            not reads or ev.may_match(reads)
        ):
            raise conflict(f"added data {inside}", ev.at)
    return False
