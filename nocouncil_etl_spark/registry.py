"""Query catalog registry.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an equivalent ANSI-SQL oracle string for DuckDB. ``__spark_entry__.py`` is a
thin view over this registry.

A plans module registers its queries when it is imported. ``load_all()`` does
not import them: it indexes every ``@query("name"`` line of the plans sources
and returns a read-only mapping that imports the one module owning a name on
its first lookup. Listing, counting and membership read the index alone, so a
process that serves a few queries compiles only the modules that define them.

Design rule (SURVEY.md §5.2): every aggregate/computed column is aliased the
same on both sides, doubles are rounded identically on both sides, and
timestamps cross the boundary as epoch microseconds — so the driver's
order-insensitive value hash is stable.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

PLANS = "nocouncil_etl_spark.plans"
_PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")
_QUERY_LINE = re.compile(r'^@query\(\s*"(\w+)"', re.M)


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → driver rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def index_plans() -> dict[str, str]:
    """Query name → the plans module whose source registers it."""
    index: dict[str, str] = {}
    for fname in sorted(os.listdir(_PLANS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(_PLANS_DIR, fname), encoding="utf-8") as fh:
            for name in _QUERY_LINE.findall(fh.read()):
                if name in index:
                    raise ValueError(f"duplicate query name: {name}")
                index[name] = fname[:-3]
    return index


class Catalog(Mapping):
    """Read-only view of every query; a lookup imports the owning module."""

    def __init__(self, index: dict[str, str]):
        self._index = index

    def __getitem__(self, name: str) -> Query:
        module = self._index[name]
        if name not in REGISTRY:
            importlib.import_module(f"{PLANS}.{module}")
        return REGISTRY[name]

    def __contains__(self, name: object) -> bool:
        return name in self._index

    def __iter__(self) -> Iterator[str]:
        return iter(self._index)

    def __len__(self) -> int:
        return len(self._index)


@functools.cache
def load_all() -> Catalog:
    """The query catalog, indexed from the plans sources on the first call."""
    return Catalog(index_plans())
