"""One Iceberg commit path.  Every metadata change is a REST-spec update
list handed to ``sinks/iceberg_native.commit``: only it calls the
catalog's ``commit_table`` or publishes a ``vN.metadata.json``
(``_publish_metadata_exclusive``), only the creation helper
``create_table`` calls the catalog's ``create_table``, and only
``commit_snapshot`` writes a manifest list (``_MANIFEST_FILE_SCHEMA``).
An AST scan of the package keeps it that way."""

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
