"""Query registry primitives.

Every SURVEY.md §2 operator (and every north-star extension) registers a
named query here as a (Spark callable, oracle SQL) pair. The Spark side
composes the engine's operator library; the oracle side is ANSI SQL that
DuckDB runs on the same parquet files (driver t2 gate). ``oracle=None``
marks genuinely non-SQL-expressible ops — the driver then records a
weaker rows-only check.

Both sides must alias computed columns identically and round floating
aggregates to a fixed scale (doubles summed in different orders differ in
final ulps; rounding makes order-insensitive hash comparison
well-defined).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    spark: SparkQuery
    oracle: str | None  # None => non-SQL-expressible (rows-only check)


QUERIES: dict[str, QuerySpec] = {}

#: The query modules, in the order ``queries.py`` imports them.
MODULE_ORDER = (
    "queries",
    "queries_llm",
    "queries_events",
    "queries_multimodal",
    "queries_curation",
    "queries_tpch",
    "queries_analytics",
)

#: Sort slot of each registered name (see :func:`register`), the modules
#: that have registered, and the slot of the latest registration.
_SLOTS: dict[str, int] = {}
_SEEN: set[str] = set()
_last_slot = 0


def _rank(fn: SparkQuery) -> int:
    module = fn.__module__.rpartition(".")[2]
    if module in MODULE_ORDER:
        return MODULE_ORDER.index(module)
    return len(MODULE_ORDER)


def register(name: str, oracle: str | None):
    """Register ``name`` in ``QUERIES``, which keeps the order a fresh
    ``import queries`` gives however the modules were imported
    (``bench.py`` and the driver shim iterate it in order).

    ``QUERIES`` stays stably sorted by slot. A module's first entry
    takes its own ``MODULE_ORDER`` rank when that is below the previous
    entry's slot: its import began inside a later module's body, ahead
    of ``queries.py`` (``tests/test_curation.py`` imports
    ``queries_curation`` first, which imports ``queries_llm``). Every
    other entry takes the larger of its rank and the previous entry's
    slot, so a module imported from a lower-ranked one's body
    (``queries_events`` from ``queries_llm``'s) keeps its place inside
    it. Not recoverable: a module imported on its own before the module
    that imports it mid-body, which then lands behind that module."""

    def deco(fn: SparkQuery) -> SparkQuery:
        global _last_slot
        rank = _rank(fn)
        first = fn.__module__ not in _SEEN
        _SEEN.add(fn.__module__)
        slot = rank if first and rank < _last_slot else max(rank, _last_slot)
        _last_slot = slot
        last = next(reversed(QUERIES), None)
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle)
        _SLOTS[name] = slot
        if last is not None and _SLOTS[last] > slot:
            ordered = sorted(QUERIES.items(), key=lambda kv: _SLOTS[kv[0]])
            QUERIES.clear()
            QUERIES.update(ordered)
        return fn

    return deco
