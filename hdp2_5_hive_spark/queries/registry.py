"""Query registry machinery.

The registry is the engine's equivalent of Hive's qfile list: a named,
enumerable suite where every entry is independently runnable and
oracle-checked (SURVEY.md §5).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Container, Mapping, Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..catalog import Tables, ensure_parity_confs, register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → rows-only check
    category: str
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Cache of Tables per (session, sf_dir) so each query call doesn't
# re-read ten parquet footers; plus the sf_dir whose views are
# CURRENTLY registered per session — temp view names are global to
# the session, so switching sf_dir (driver: entry at sf0.001, then
# correctness at sf0.01) must re-point them or SQL-text queries would
# silently read the wrong scale. Keys hold the SparkSession object
# itself (strong ref, so a GC'd session can't recycle an id() and
# serve stale state to a different session).
_TABLES_CACHE: dict[tuple[SparkSession, str], Tables] = {}
_ACTIVE_SF: dict[SparkSession, str] = {}


def tables_for(spark: SparkSession, sf_dir: str) -> Tables:
    # The driver calls queries with ITS OWN vanilla session — parity
    # confs must be (re)applied here, the one choke point every query
    # passes through, not just in our session factory. Re-applied on
    # cache hits too: confs are runtime-mutable and cheap to pin.
    ensure_parity_confs(spark)
    key = (spark, sf_dir)
    if key not in _TABLES_CACHE:
        _TABLES_CACHE[key] = register_views(spark, sf_dir)
    elif _ACTIVE_SF.get(spark) != sf_dir:
        register_views(spark, sf_dir)
    _ACTIVE_SF[spark] = sf_dir
    return _TABLES_CACHE[key]


def register(
    name: str, oracle: str | None = None, category: str = "core"
) -> Callable[[Callable[..., DataFrame]], QueryFn]:
    """Decorator: register ``fn(spark, tables) -> DataFrame`` under
    ``name``. The wrapper adapts to the driver's ``(spark, sf_dir)``
    calling convention and guarantees temp views exist."""

    def deco(fn: Callable[..., DataFrame]) -> QueryFn:
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            t = tables_for(spark, sf_dir)
            return fn(spark, t)

        wrapper.__name__ = f"query_{name}"
        wrapper.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name=name,
            fn=wrapper,
            oracle=oracle.strip() if oracle else None,
            category=category,
            doc=(fn.__doc__ or "").strip(),
        )
        return wrapper

    return deco


# The driver checks this many names from the front of all_queries().
WINDOW_SIZE = 50

# Optimizations that touch semantics and must be proven by the
# driver's own oracle run: each leads the window until the newest
# CORRECTNESS artifact records it, then ranks like any other name.
MUST_PROVE: tuple[str, ...] = (
    "graph_pagerank_hosts",
    "dedup_jaccard_prefix",
    "retrieval_rm3_expansion",
    "dedup_simhash",
    "dedup_containment_prefix",
    "decontaminate_bloom_prefilter",
)

_REPO_ROOT = Path(__file__).resolve().parents[2]


def load_artifacts(root: Path) -> list[dict[str, dict]]:
    """The driver's ``CORRECTNESS_r<N>.json`` records under ``root``
    (query name -> result row), oldest round first. Rounds sort by
    number, so r10 follows r9. An unreadable file is skipped: a bad
    record must not stop the driver from loading the registry."""
    rounds = []
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        try:
            rounds.append((int(m.group(1)), json.loads(path.read_text())))
        except (OSError, ValueError):
            continue
    return [rows for _, rows in sorted(rounds, key=lambda r: r[0])]


def _green(row: Mapping) -> bool:
    # A rows-only query's executed-green record is err == "no_oracle"
    # with its row count.
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return not row.get("err") and not any(
        v is False for k, v in row.items() if k.endswith("_match")
    )


def sample_window(
    names: Sequence[str],
    artifacts: Sequence[Mapping[str, Mapping]],
    has_oracle: Container[str],
    must_prove: Sequence[str],
) -> list[str]:
    """The ``WINDOW_SIZE`` names the driver should check next, from
    the registered ``names`` (registration order) and its
    ``artifacts`` (oldest round first):

    1. ``must_prove`` names the newest artifact does not hold;
    2. names that need sampling, in registration order: never
       sampled, latest row red (``err`` set or a ``*_match`` false),
       or latest row rows-only while the query now has an oracle;
    3. the rest, stalest evidence first (round of the latest row,
       then name).

    With no artifacts every name is unsampled, so the order is
    ``must_prove`` then registration order."""
    latest: dict[str, tuple[int, Mapping]] = {}
    for rnd, rows in enumerate(artifacts):
        for name, row in rows.items():
            latest[name] = (rnd, row)
    newest = artifacts[-1] if artifacts else {}

    def needs_sampling(name: str) -> bool:
        if name not in latest:
            return True
        row = latest[name][1]
        return not _green(row) or (
            row.get("err") == "no_oracle" and name in has_oracle
        )

    order = [n for n in must_prove if n not in newest]
    order += [n for n in names if needs_sampling(n)]
    order += sorted(
        (n for n in names if n in latest), key=lambda n: (latest[n][0], n)
    )
    return list(dict.fromkeys(order))[:WINDOW_SIZE]


def all_queries() -> dict[str, Query]:
    """Every registered query, ordered for the driver's sample window:
    ``sample_window`` over the repo's CORRECTNESS artifacts first,
    then the rest in module registration order. A ``MUST_PROVE`` name
    that is not registered is a bug — fail loudly rather than
    silently shrinking the window."""
    from . import load_all

    load_all()
    missing = [n for n in MUST_PROVE if n not in _REGISTRY]
    if missing:
        raise KeyError(f"MUST_PROVE names not registered: {missing}")
    has_oracle = {n for n, q in _REGISTRY.items() if q.oracle}
    window = sample_window(
        list(_REGISTRY), load_artifacts(_REPO_ROOT), has_oracle, MUST_PROVE
    )
    ordered = {n: _REGISTRY[n] for n in window}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def query_map() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle}
