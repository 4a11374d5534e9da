"""Registry of named queries with their DuckDB oracle SQL.

Every SURVEY.md §2 operator gets a named entry: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent ANSI SQL the driver runs through DuckDB on the same parquet
tables. Column names are aliased identically on both sides — the
driver's comparator sorts columns by name before value-hashing.

Float policy: aggregate/derived double columns are rounded to a fixed
number of decimals on BOTH sides (Spark ``F.round`` / SQL ``ROUND``) so
summation-order differences between engines (~1 ulp) can't flip the
value hash. Raw passthrough columns are never rounded.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records rows-only check
    survey: str  # SURVEY.md §2 operator ids, e.g. "A1" or "J7,A7"
    tags: tuple[str, ...] = field(default_factory=tuple)
    priority: int = 50  # lower = earlier in the exported ordering
    index: int = 0  # registration sequence (tie-break within a priority)


_REGISTRY: dict[str, RegisteredQuery] = {}

# Explicit export-order override: names listed here sort before every
# other query, in list order. The driver's correctness harness checks
# the first 50 exported queries; plans/__init__.py installs its
# DRIVER_WINDOW here, re-cut at round close to front-load the queries
# whose code changed since their last driver row. Names not present in
# the registry are reported loudly by ``set_rotation`` rather than
# silently ignored.
_ROTATION: dict[str, int] = {}


def set_rotation(names: list[str]) -> None:
    """Install the driver window: these names export first, in order."""
    unknown = [n for n in names if n not in _REGISTRY]
    if unknown:
        raise ValueError(f"rotation names not in registry: {unknown}")
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate rotation names: {sorted(dupes)}")
    _ROTATION.clear()
    _ROTATION.update({n: i for i, n in enumerate(names)})


def query(
    name: str,
    oracle: str | None = None,
    survey: str = "",
    tags: tuple[str, ...] = (),
    priority: int = 50,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with its oracle SQL.

    ``priority`` orders the exported registry (lower first; ties broken
    by registration order, i.e. import order of the query modules). The
    driver's correctness harness evaluates a bounded prefix of the
    exported ordering, so queries that most need a hard oracle signal
    this round are registered first; rows-only demos carry a higher
    priority value and sort after every oracle-checked query.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = RegisteredQuery(
            name=name,
            fn=fn,
            oracle=oracle,
            survey=survey,
            tags=tuple(tags),
            priority=priority,
            index=len(_REGISTRY),
        )
        return fn

    return deco


def _ordered() -> list[RegisteredQuery]:
    big = len(_ROTATION)
    return sorted(
        _REGISTRY.values(),
        key=lambda q: (_ROTATION.get(q.name, big), q.priority, q.index),
    )


def get(name: str) -> RegisteredQuery:
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def registry() -> dict[str, RegisteredQuery]:
    return {q.name: q for q in _ordered()}
