"""Query catalog: the engine's public query surface.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame``
with (where expressible) an equivalent DuckDB/ANSI SQL oracle string
over the same parquet tables. The driver's correctness gate runs
both and hash-compares values, so every computed column is aliased
identically on both sides, and double-typed aggregates go through a
DECIMAL accumulator cast back to DOUBLE to make the result exact and
partitioning-independent (a plain double sum is order-dependent and
would hash-mismatch between engines).

Every entry is defined the same way, ``@register(name, oracle=...,
tier=...)``, and looked up the same way, ``resolve(name)``. The tier
only decides whether the entry is part of the driver surface:

- ``"registered"``: returned by :func:`load_all`, hence by
  ``__spark_entry__.queries()`` / ``oracle_sql()``;
- ``"staged"``: candidate operators kept out of the driver surface;
- ``"folded"``: technique twins of a registered entry (same
  semantics, alternate physical strategy);
- ``"composite"``: end-to-end compositions of registered stages.

Only ``"registered"`` entries are in the driver surface; every tier
resolves by name, so the correctness and bench tools run any of them.
Names are unique across all tiers.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

PLAN_MODULES = [
    "similarity",
    "multimodal",
    "streaming",
    "relational",
    "scale",
    "iterative",
    "timeseries",
    "dedup",
    "text",
    "analytics",
    "lifecycle",
    "maintenance",
    "graph_eval",
    "ivf_pq",
    "embeddings",
    "composites",
]


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tier: str = "registered"


CATALOG: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tier: str = "registered"
):
    """Decorator: add a query to the catalog under ``tier`` (one of
    "registered", "staged", "folded", "composite")."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in CATALOG:
            raise ValueError(f"duplicate query name {name!r}")
        CATALOG[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tier=tier
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every plan module and return the registered tier, in
    registration order."""
    for mod in PLAN_MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    return {name: q for name, q in CATALOG.items() if q.tier == "registered"}


def resolve(name: str) -> Query:
    """The catalog entry called ``name``, of any tier."""
    load_all()
    try:
        return CATALOG[name]
    except KeyError:
        raise KeyError(f"unknown query {name!r}") from None
