"""The query catalog opens from an index of the plans sources and imports a
plans module only when one of its names is looked up.

The import checks run in a fresh interpreter: in the test process, other
tests have already imported most plans modules.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import subprocess
import sys
import textwrap

import pytest

import nocouncil_etl_spark.plans as plans
from nocouncil_etl_spark import registry
from nocouncil_etl_spark.registry import PLANS, REGISTRY, index_plans, load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_QUERIES = 752


PRELUDE = """
import json, sys

def plans():
    p = "nocouncil_etl_spark.plans."
    return sorted(m[len(p):] for m in sys.modules if m.startswith(p))
"""


def _fresh(code: str) -> dict:
    """Run ``code`` in a new interpreter; it can call ``plans()`` for the
    plans modules imported so far and prints one JSON line."""
    out = subprocess.run(
        [sys.executable, "-c", PRELUDE + textwrap.dedent(code)],
        cwd=REPO, env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _import_every_plans_module() -> None:
    for mod in pkgutil.iter_modules(plans.__path__):
        importlib.import_module(f"{PLANS}.{mod.name}")


def test_catalog_imports_only_what_is_looked_up():
    got = _fresh(
        """
        from nocouncil_etl_spark.registry import load_all

        cat = load_all()
        out = {"n": len(cat), "on_load": plans()}
        out["contains"] = "retrieval_rrf_fusion" in cat
        out["on_contains"] = plans()
        try:
            cat["no_such_query"]
            out["unknown"] = "found"
        except KeyError:
            out["unknown"] = "KeyError"
        out["on_unknown"] = plans()
        out["fn_module"] = cat["retrieval_rrf_fusion"].fn.__module__
        out["on_lookup"] = plans()
        print(json.dumps(out))
        """
    )
    assert got["n"] == N_QUERIES
    assert got["on_load"] == []
    assert got["contains"] is True
    assert got["on_contains"] == []
    assert got["unknown"] == "KeyError"
    assert got["on_unknown"] == []
    assert got["fn_module"] == f"{PLANS}.retrieval2"
    assert "retrieval2" in got["on_lookup"]
    assert "breadth83" not in got["on_lookup"]


def test_entry_imports_only_the_flagship_module():
    got = _fresh(
        """
        from pyspark.sql import SparkSession

        import __spark_entry__

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        __spark_entry__.entry(spark)
        on_entry = plans()
        spark.stop()
        print(json.dumps({"on_entry": on_entry}))
        """
    )
    assert got["on_entry"] == [index_plans()["pricing_summary"]]


def test_every_module_registers_exactly_its_indexed_names():
    _import_every_plans_module()
    index = index_plans()
    assert len(index) == N_QUERIES
    assert {n: q.fn.__module__ for n, q in REGISTRY.items()} == {
        n: f"{PLANS}.{mod}" for n, mod in index.items()
    }


def test_driver_contract_matches_an_eager_import():
    import __spark_entry__ as entrymod

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    _import_every_plans_module()
    assert sorted(queries) == sorted(REGISTRY)
    assert len(queries) == N_QUERIES
    assert oracles == {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}
    assert load_all()["stream_cep_pattern"].oracle is not None


def test_duplicate_name_in_the_sources_raises(tmp_path, monkeypatch):
    (tmp_path / "a.py").write_text('@query("twice")\ndef f(spark, sf_dir): ...\n')
    (tmp_path / "b.py").write_text('@query(\n    "twice", oracle=None)\ndef g(spark, sf_dir): ...\n')
    monkeypatch.setattr(registry, "_PLANS_DIR", str(tmp_path))
    with pytest.raises(ValueError, match="duplicate query name: twice"):
        index_plans()
