"""Registry mapping query name → (Spark builder, DuckDB oracle SQL).

Single source of truth for the driver contract (``__spark_entry__.py``),
the pytest oracle harness, ``perfbench/`` and ``tools/run.py``.  Every
registered query carries a DuckDB oracle (even the "hard" ones — SimHash
via a hex-fold, dedup clustering via a recursive CTE, distributed/salted
strategies held to their plain twins' oracles); ``oracle=None`` would fall
back to the driver's weaker rows-only check, and nothing currently needs
it.  Only the genuinely non-SQL operators (stateful streaming EMA state
machines) stay outside the registry, verified by streaming parity tests
instead.  ``all_queries()`` returns the queries in registration order.

Determinism contract (how every query is written so the driver's
order-insensitive value-hash matches bit-for-bit between Spark and DuckDB):

* FP sums go through exact DECIMAL accumulation, cast back to double
  (see functions/scalar.py) — immune to partial-aggregation order.
* Every ORDER BY ... LIMIT k has a total order (unique tiebreaker columns),
  so the selected row *set* is engine-independent.
* Window orderings are total for the same reason.
* Sequential folds (EMA, dot products) use the same left fold in both
  engines (Spark ``aggregate`` ≡ DuckDB ``list_reduce``) → bit-identical.
* Timestamps are naive-UTC in both engines (session.py pins the TZ).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None
    tags: tuple[str, ...] = ()


def must_replace(template: str, old: str, new: str) -> str:
    """``str.replace`` that fails at import time when ``old`` is absent.

    Oracle variants are built by substituting a CTE inside a shared SQL
    fragment; if the source fragment drifts (whitespace, refactor), a bare
    ``replace`` silently no-ops and the oracle reverts to the base
    semantics — a wrong-but-plausible gate.  Drift must be a build error
    (ADVICE r04)."""
    out = template.replace(old, new)
    if out == template:
        raise ValueError(
            f"oracle fragment drifted — replacement target not found: {old[:80]!r}"
        )
    return out


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Register the decorated builder under ``name`` with its DuckDB oracle
    SQL and tags.  Names are unique; a duplicate fails at import time."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, tags)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order (the order
    ``plans/__init__`` imports the family modules, then source order
    within each).  A copy: callers may add to it without registering."""
    return dict(_REGISTRY)


def get_query(name: str) -> Query:
    return _REGISTRY[name]
