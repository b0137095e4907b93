"""Registry mapping query name → (Spark builder, DuckDB oracle SQL).

Single source of truth for the driver contract (``__spark_entry__.py``),
the pytest oracle harness, ``perfbench/`` and ``tools/run.py``.  Every
registered query carries a DuckDB oracle (even the "hard" ones — SimHash
via a hex-fold, dedup clustering via a recursive CTE, distributed/salted
strategies held to their plain twins' oracles); ``oracle=None`` would fall
back to the driver's weaker rows-only check, and nothing currently needs
it.  Only the genuinely non-SQL operators (stateful streaming EMA state
machines) stay outside the registry, verified by streaming parity tests
instead.

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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    priority: int = 100


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
    priority: int = 100,
) -> Callable[[Builder], Builder]:
    """Register a query plan.

    ``priority`` orders ``all_queries()`` (lower = earlier); the driver
    iterates the dict in order and may stop after a fixed budget, so queries
    without a prior green CORRECTNESS row get low priorities to be verified
    first.  Ties keep registration order.
    """

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(
            name, fn, oracle, doc=(fn.__doc__ or ""), tags=tags, priority=priority
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Registry in driver-check order: stale queries first (never
    driver-verified, or implementing source files changed since their last
    green CORRECTNESS row — see plans/staleness.py), least-recently-green
    before recently-green (so a mass staleness event — a shared module edit
    — can't push a query that's been waiting since an older round past the
    driver's ~50-query budget), then ascending priority, then registration
    order (Python dicts preserve insertion order)."""
    from .staleness import is_stale, last_green_round

    items = sorted(
        enumerate(_REGISTRY.items()),
        key=lambda t: (
            not is_stale(t[1][0], t[1][1].build),
            last_green_round(t[1][0]),
            t[1][1].priority,
            t[0],
        ),
    )
    return {name: q for _, (name, q) in items}


def get_query(name: str) -> Query:
    return _REGISTRY[name]
