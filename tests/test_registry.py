"""The registry's order and the driver contract built on it.

The driver checks the first 50 names a fresh-process
``__spark_entry__.queries()`` returns; ``test_oracle.py`` checks them all.
"""

from __future__ import annotations

import ast
import dataclasses
import inspect
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entry
from discogs_etl_spark import registry

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50  # names the driver checks per run
FRESH = (
    "import json, __spark_entry__ as e; from discogs_etl_spark import registry as r;"
    "n = list(e.queries()); print(json.dumps([n, list(r._REGISTRY), list(e.oracle_sql()),"
    " [r._REGISTRY[k].fn.__module__ for k in n]]))"
)


@pytest.fixture(scope="module")
def fresh():
    """names, _REGISTRY keys, oracle names, modules in a fresh interpreter."""
    out = subprocess.run(
        [sys.executable, "-c", FRESH], capture_output=True, text=True, timeout=300, cwd=REPO
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.splitlines()[-1])


@pytest.fixture
def empty_registry(monkeypatch):
    monkeypatch.setattr(registry, "_REGISTRY", {})


def test_all_specs_is_registration_order():
    specs = registry.all_specs()
    assert list(specs) == list(registry._REGISTRY)
    assert all(specs[n] is registry._REGISTRY[n] for n in specs)


def test_all_specs_returns_a_copy():
    name = next(iter(registry.all_specs()))
    registry.all_specs().pop(name)
    assert name in registry._REGISTRY


def test_load_all_is_idempotent():
    before = list(registry.all_specs())
    registry._load_all()
    assert list(registry.all_specs()) == before


def test_spec_names_match_keys():
    assert [s.name for s in registry.all_specs().values()] == list(registry._REGISTRY)


def test_specs_are_frozen():
    with pytest.raises(dataclasses.FrozenInstanceError):
        next(iter(registry.all_specs().values())).oracle = None


def test_register_rejects_duplicate_name(monkeypatch):
    monkeypatch.setattr(registry, "_REGISTRY", dict(registry.all_specs()))
    name, spec = next(iter(registry._REGISTRY.items()))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert registry._REGISTRY[name] is spec


def test_register_builds_spec_from_builder(empty_registry):
    def fn(spark, sf_dir):
        """Doc."""

    assert registry.register("q", oracle="SELECT 1", tags=["a"], bench=True)(fn) is fn
    assert registry._REGISTRY["q"] == registry.QuerySpec("q", fn, "SELECT 1", ("a",), "Doc.", True)


def test_register_keeps_call_order(empty_registry):
    for name in ("zeta", "alpha", "mid"):
        registry.register(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert list(registry.all_specs())[-3:] == ["zeta", "alpha", "mid"]


def test_queries_follow_registry_order():
    specs, qs = registry.all_specs(), registry.queries()
    assert list(qs) == list(specs) and all(qs[n] is specs[n].fn for n in qs)


def test_oracle_sql_is_the_oracle_subsequence():
    specs = registry.all_specs()
    assert registry.oracle_sql() == {n: s.oracle for n, s in specs.items() if s.oracle}


def test_bench_specs_are_the_flagged_queries():
    bench = [n for n, s in registry.all_specs().items() if s.bench]
    assert bench and list(registry.bench_specs()) == bench


def test_driver_window_queries_have_oracles():
    specs = registry.all_specs()
    assert [n for n in list(specs)[:WINDOW] if specs[n].oracle is None] == []


def test_query_names_are_identifiers():
    # Names are JSON keys in CORRECTNESS artifacts, pytest ids and timing keys.
    bad = [n for n in registry.all_specs() if not re.fullmatch(r"[a-z][a-z0-9_]*", n)]
    assert bad == []


def test_entry_queries_wrap_every_builder_in_order():
    specs, qs = registry.all_specs(), entry.queries()
    assert list(qs) == list(specs)
    assert all(qs[n].__doc__ == specs[n].fn.__doc__ for n in qs)


def test_entry_oracle_sql_is_the_registry_oracles():
    assert entry.oracle_sql() == registry.oracle_sql()


def test_fresh_process_queries_are_unique_and_complete(fresh):
    assert len(set(fresh[0])) == len(fresh[0])
    assert sorted(fresh[0]) == sorted(registry.all_specs())


def test_fresh_process_queries_follow_registry_order(fresh):
    assert fresh[0] == fresh[1]


def test_fresh_process_driver_window_has_oracles(fresh):
    pos = [fresh[0].index(n) for n in fresh[2]]
    assert pos == sorted(pos) and set(fresh[0][:WINDOW]) <= set(fresh[2])


def test_fresh_process_modules_register_in_load_all_order(fresh):
    # One contiguous block per module, in _load_all's import order: the
    # driver's first 50 do not depend on which module imports which.
    mods = fresh[3]
    blocks = [m for i, m in enumerate(mods) if i == 0 or mods[i - 1] != m]
    tree = ast.parse(inspect.getsource(registry._load_all))
    order = [
        f"{node.module}.{a.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    ]
    assert blocks == [m for m in order if m in set(mods)] and set(mods) <= set(order)


def test_correctness_artifacts_name_only_registered_queries():
    # A checked name that is no longer registered was renamed or deleted.
    artifacts = sorted(REPO.glob("CORRECTNESS_r*.json"))
    names = {n for p in artifacts for n in json.loads(p.read_text())}
    assert artifacts and sorted(names - set(registry.all_specs())) == []
