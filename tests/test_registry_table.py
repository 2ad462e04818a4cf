"""The lazy module table (registry.MODULES) must name exactly the modules
that importing every source/operator/sink file registers, each under the
file that registers it — including the connector names registered in a
loop (``@module(name, ...)``).  No Spark session needed."""

import importlib
import pkgutil

import pytest

from pipeline_spark import registry
from pipeline_spark.config import parse_config
from pipeline_spark.server import validate_config


def _registered_by_import() -> set[tuple[str, str, str]]:
    for kind, package in registry._PACKAGES.items():
        pkg = importlib.import_module(package)
        for info in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{package}.{info.name}")
    out = set()
    for (kind, name), spec in registry._REGISTRY.items():
        package, _, file = spec.fn.__module__.rpartition(".")
        if package == registry._PACKAGES.get(kind):
            out.add((kind, name, file))
    return out


def test_table_equals_registered_modules():
    table = {
        (kind, name, file)
        for kind, files in registry.MODULES.items()
        for name, file in files.items()
    }
    registered = _registered_by_import()
    assert table - registered == set(), "in MODULES but not registered there"
    assert registered - table == set(), "registered but missing from MODULES"
    # the loop-registered client connectors are part of the table
    assert {"spanner", "firestore", "datastore", "bigtable"} <= set(registry.MODULES["sink"])
    assert {"spanner", "firestore", "datastore", "bigtable", "drivefile"} <= set(
        registry.MODULES["source"])


def test_unknown_module_lists_every_name():
    names = sorted(n for k, n, _f in _registered_by_import() if k == "sink")
    with pytest.raises(KeyError) as err:
        registry.get_module("nope", "sink")
    assert err.value.args[0] == f"unknown sink module 'nope'; registered: {names}"
    errors = validate_config(parse_config(
        "sinks:\n  - name: out\n    module: nope\n    inputs: []\n"))
    assert f"module 'out': unknown sink module 'nope' (registered: {names})" in errors
