"""Registry of named queries with their DuckDB oracle SQL.

Each operator the engine claims is registered here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus
(when SQL-expressible) an ANSI-SQL oracle string DuckDB can run on the
same parquet tables. The one way to register is the decorator
``@register(oracle=..., headline=True)`` on a function in a family
module: the function's name is the query name and the module's name
is its family. The driver's correctness gate and the local
pytest oracle harness both consume this registry, so the engine and
its oracle can never drift apart silently.

Determinism discipline (what makes cross-engine value-hashing work):
- aggregate sums over money/quantity go through DECIMAL casts — exact
  in both engines, so results match bit-for-bit regardless of
  partitioning or accumulation order;
- ratios/averages are ONE double division of exact quantities
  (decimal-sum cast to double / count) — IEEE ops on identical inputs
  are identical in both engines;
- every probabilistic op hashes via md5 (functions/hashing.py);
- every top-k orders with a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    family: str
    oracle: str | None = None
    headline: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(oracle: str | None = None, headline: bool = False):
    """Register ``fn`` under its own name, in the family named by its
    defining module (``plans/<family>.py``); ``headline`` puts it in
    the bench's headline set."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[fn.__name__] = QuerySpec(
            name=fn.__name__,
            fn=fn,
            family=fn.__module__.rsplit(".", 1)[-1],
            oracle=oracle,
            headline=headline,
        )
        return fn

    return deco
