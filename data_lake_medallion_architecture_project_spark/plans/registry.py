"""Query registry — the single source of truth for the judge-visible workload.

Every implemented operator is declared here once as a named ``Query``: a Spark
DataFrame builder plus (where SQL-expressible) the equivalent DuckDB oracle SQL.
``__spark_entry__.py`` derives its ``queries()`` / ``oracle_sql()`` contract
directly from this registry. The subset tagged "bench" is the benchmark's
query set: ``perfbench/run.py --workload olap_sql`` runs its tabular queries
and ``--workload curation_udf`` the rest (see BENCHMARK.json and
``perfbench/README.md``).

Column-name discipline: the driver's comparator sorts columns by name before
hashing values, so the Spark builder and the oracle SQL must produce identical
column names — every computed column is aliased explicitly on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a named query."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, build=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


def bench_queries() -> dict[str, Query]:
    return {n: q for n, q in REGISTRY.items() if "bench" in q.tags}
