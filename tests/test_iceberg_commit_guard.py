"""One Iceberg commit path.  Every metadata change is a REST-spec update
list handed to ``sinks/iceberg_native.commit``: only it calls the
catalog's ``commit_table`` or publishes a ``vN.metadata.json``
(``_publish_metadata_exclusive``), only the creation helper
``create_table`` calls the catalog's ``create_table``, and only
``commit_snapshot`` writes a manifest list (``_MANIFEST_FILE_SCHEMA``).
Every snapshot is assembled by the producer (``commit_changes``, whose
one attempt is ``_snapshot``): only it writes manifests and calls
``commit_snapshot``.  ``rewrite_manifests_iceberg_native`` is the one
exception — it rewrites manifests and adds no files, so it has no
change set for the producer.

One conflict rule for both formats: a lost race is decided by
``sinks/conflicts.check``, called by Delta's ``commit`` and Iceberg's
``commit_changes`` alone, and only ``sinks/conflicts.py`` builds the
``FileExistsError`` that reports a concurrent commit.  The per-format
checkers it replaced stay gone.  An AST scan of the package keeps it
that way."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pipeline_spark"
SINK = "sinks/iceberg_native.py"

#: guarded name -> the functions of SINK allowed to use it
ALLOWED = {
    "commit_table": {"commit"},
    "create_table": {"create_table"},
    "_publish_metadata_exclusive": {"commit"},
    "_MANIFEST_FILE_SCHEMA": {"commit_snapshot"},
    "write_manifest": {"_snapshot", "rewrite_manifests_iceberg_native"},
    "commit_snapshot": {"_snapshot", "rewrite_manifests_iceberg_native"},
}
#: catalog methods: only their attribute calls are guarded (the
#: ``create_table`` helper itself is called by bare name)
METHODS = {"commit_table", "create_table"}


def _uses(tree: ast.AST):
    """(enclosing function or None, guarded name) for every use."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif isinstance(child, ast.Attribute) and child.attr in ALLOWED:
                out.append((fn, child.attr))
            elif (isinstance(child, ast.Name) and child.id in ALLOWED
                  and child.id not in METHODS
                  and not isinstance(child.ctx, ast.Store)):
                out.append((fn, child.id))
            elif (isinstance(child, ast.alias) and child.name in ALLOWED
                  and child.name not in METHODS):
                out.append((fn, child.name))
            visit(child, inner)

    visit(tree, None)
    return out


def _scan():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, name in _uses(ast.parse(path.read_text())):
            found.append((rel, fn, name))
    return found


def test_only_commit_publishes_and_only_commit_snapshot_lists():
    stray = [
        (rel, fn, name) for rel, fn, name in _scan()
        if not (rel == SINK and fn in ALLOWED[name])
    ]
    assert stray == []


def test_the_scan_sees_the_one_path():
    # a scan that finds nothing proves nothing
    found = {(fn, name) for rel, fn, name in _scan() if rel == SINK}
    assert found == {(fn, name) for name, fns in ALLOWED.items() for fn in fns}


RULE = "sinks/conflicts.py"
#: (file, function) pairs that decide a lost race through the rule
RULE_CALLERS = {
    ("sinks/delta_native.py", "commit"),
    ("sinks/iceberg_native.py", "commit_changes"),
}
#: the per-format checkers and snapshot loops the rule and the producer
#: replaced
GONE = {
    "check_commit_conflicts", "_check_conflicts", "_check_append_meta",
    "_commit_file_replacement", "_commit_file_replacement_once",
    "_append_delete_files_once", "_supersede_prior_deletes",
}


def _conflicts(tree: ast.AST):
    """(enclosing function, what) for every ``FileExistsError`` built
    with a message naming a concurrent commit ("conflict"), every call
    of ``conflicts.check`` ("check") and every definition of a GONE
    name ("gone")."""
    out = []

    def text(node) -> str:
        return " ".join(
            c.value for c in ast.walk(node)
            if isinstance(c, ast.Constant) and isinstance(c.value, str)
        )

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
                if child.name in GONE:
                    out.append((fn, "gone"))
            elif isinstance(child, ast.Call):
                f = child.func
                if (isinstance(f, ast.Name) and f.id == "FileExistsError"
                        and "concurrent" in text(child)):
                    out.append((fn, "conflict"))
                elif (isinstance(f, ast.Attribute) and f.attr == "check"
                      and isinstance(f.value, ast.Name)
                      and f.value.id == "conflicts"):
                    out.append((fn, "check"))
            visit(child, inner)

    visit(tree, None)
    return out


def _scan_conflicts():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, what in _conflicts(ast.parse(path.read_text())):
            found.append((rel, fn, what))
    return found


def test_only_the_rule_raises_a_commit_conflict():
    found = _scan_conflicts()
    assert [f for f in found if f[2] == "conflict" and f[0] != RULE] == []
    assert [f for f in found if f[2] == "gone"] == []
    assert {(rel, fn) for rel, fn, what in found if what == "check"} == (
        RULE_CALLERS
    )


def test_the_conflict_scan_sees_the_rule():
    # a scan that finds nothing proves nothing
    assert {rel for rel, _fn, what in _scan_conflicts()
            if what == "conflict"} == {RULE}
