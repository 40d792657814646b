"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a
(name, spark_fn, oracle_sql) triple. ``__spark_entry__.queries()`` and
``oracle_sql()`` are thin views over this registry in sorted-name order
(independent of module import order), and the local parity
test (tests/test_oracle_parity.py) replays the driver's check — Spark vs
DuckDB, row-count + schema + order-insensitive values — at sf0.001.

Conventions (required for the driver's value-hash to match):
- Alias every computed column identically in Spark and SQL.
- Round non-integer-valued doubles to a fixed scale on BOTH sides
  (accumulation order differs between engines). Float outputs must be
  BIT-identical across engines (tests compare hex, not rounded values);
  if a rounded value can be negative-near-zero, add `+ 0.0` on both
  sides — DuckDB's ROUND emits -0.0 where Spark's emits +0.0, equal by
  == but different bits under a bit-sensitive driver hash.
- Any query with LIMIT must order by a tie-broken (unique) key set.
- oracle=None → driver does a weaker rows-only check (used for ML /
  streaming ops that ANSI SQL can't express).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame query to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, SparkQuery]:
    _load_operator_modules()
    return {name: QUERIES[name].fn for name in sorted(QUERIES)}


def all_oracles() -> dict[str, str]:
    _load_operator_modules()
    return {name: ORACLES[name] for name in sorted(ORACLES)}


_LOADED = False


def _load_operator_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Every registering module must be imported here, or its queries drop
    # out of queries()/oracle_sql(); the result order is sorted by name,
    # so import order does not matter.
    import cqu_bigdata_recommender_system_for_movies_spark.operators.relational  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.ml.als  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.queries  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.topk  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.windows  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.olap  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.features  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.sampling  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.io_sinks  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.multimodal  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.sources.binary_files  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.sources.crawl_source  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.ml.pipeline  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.dedup  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.vectors  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.text  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.itemcf  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.sketches  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.graph  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.operators.stattests  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.ml.foldin  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ridge  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_search  # noqa: F401
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_requantize  # noqa: F401

    _LOADED = True
