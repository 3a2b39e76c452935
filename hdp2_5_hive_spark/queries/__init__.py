"""Named query registry — the driver-facing surface.

Each registered query pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with an equivalent DuckDB oracle SQL string (or ``None``
for non-SQL-expressible operators → rows-only check). This mirrors
the reference's golden-file qfile tests
(``ql/src/test/queries/clientpositive/*.q`` + ``*.q.out``,
SURVEY.md §5) with DuckDB as the golden-output generator.

The driver checks a prefix of ``all_queries()`` against DuckDB; which
queries come first is computed from its ``CORRECTNESS_r*.json``
records by ``registry.sample_window``.
"""

from __future__ import annotations

import importlib

from .registry import Query, all_queries, oracle_map, query_map, register

# Import (= registration) order: the order of every query behind the
# driver's sample window.
_MODULES = (
    "scalars",
    "setops",
    "lateral",
    "subqueries",
    "extensions",
    "streaming_batch",
    "formats",
    "acid",
    "analytics",
    "hiveql",
    "pipeline",
    "pipeline2",
    "pipeline3",
    "pipeline4",
    "pipeline5",
    "pipeline6",
    "scalars2",
    "scalars3",
    "core",
    "joins",
    "aggregates",
    "windows",
)


def load_all() -> None:
    """Import every query module so registration side-effects run."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")


__all__ = [
    "Query",
    "register",
    "all_queries",
    "query_map",
    "oracle_map",
    "load_all",
]
